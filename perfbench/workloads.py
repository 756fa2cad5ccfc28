"""The benchmark's workloads: each is an ordered list of operations that one
client issues back to back. ``run_op`` runs one and says whether its output
matches a known-good answer.

* Prefix operations are checked on every call against the answer depth the
  line generator planted.
* Registry operations run ``q.fn`` (the plan build) and then materialize the
  plan through Spark's noop sink. On a checked pass they collect instead, and
  the rows are compared with the query's DuckDB oracle over the same tables.
"""

from __future__ import annotations

import contextlib
import io
import math
import re
from dataclasses import dataclass

import numpy as np

LINES = 20_000  # cli.main and the single-pass query
DEPTH = 4  # planted minimal unique prefix length of the line file
# MapReduceJob runs a Python map and a sampled sortByKey per prefix length,
# about 1.3 s of fixed cost per round here, so it gets a small file with a
# shallow planted answer (two rounds).
MR_LINES = 150
MR_DEPTH = 2

REGISTRY_WORKLOADS = {
    "relational_read": (
        "q1_pricing_summary",
        "q3_shipping_priority",
        "q5_local_supplier_volume",
        "q9_product_profit",
        "q10_returned_revenue",
        "q18_large_orders",
        "q21_waiting_supplier",
        "top3_orders_per_customer",
    ),
    "llm_pipeline": (
        "corpus_curation_pipeline",
        "near_dup_pairs_minhash",
        "doc_bm25_top5",
        "knn_join_ivfpq_topk",
        "pq_encode_arrow",
        "doc_bpe_token_stats",
    ),
    "versioned_write": (
        "versioned_dml_lifecycle",
        "versioned_change_feed",
        "customer_cdc_merge",
        "user_state_scd2",
    ),
    # One operation from each family above in one short pass: a six-table
    # relational join, an LLM-data operator (spread plus an eager driver
    # stats pass while the plan is built) and a versioned merge commit with
    # its change-feed read. Short, because every run also pays the JVM
    # set-up and a cold first pass.
    "registry_mix": (
        "q5_local_supplier_volume",
        "doc_bm25_top5",
        "versioned_change_feed",
    ),
}
WORKLOADS = ("prefix_mapreduce", *REGISTRY_WORKLOADS)


@dataclass
class Op:
    name: str
    kind: str  # "prefix" or "registry"


def ops_for(workload: str) -> list[Op]:
    if workload == "prefix_mapreduce":
        return [Op(n, "prefix") for n in ("cli.main", "prefix.single_pass", "mapreduce.find")]
    return [Op(n, "registry") for n in REGISTRY_WORKLOADS[workload]]


def run_prefix(ctx, op: Op):
    """Returns the minimal unique prefix length the operation computed."""
    from otus_cpp_11_spark import cli, mapreduce, prefix

    spark = ctx.spark
    if op.name == "cli.main":
        out = io.StringIO()
        with contextlib.redirect_stdout(out):
            rc = cli.main(["-i", ctx.lines_path])
        m = re.search(r"Result = (\d+)", out.getvalue())
        return int(m.group(1)) if rc == 0 and m else None
    if op.name == "prefix.single_pass":
        df = spark.read.text(ctx.lines_path)
        return prefix.min_unique_prefix_length_single_pass(df).collect()[0][0]
    return mapreduce.find_min_unique_prefix(
        spark, ctx.mr_lines_path, mappers=3, reducers=2, max_len=MR_DEPTH + 1
    )


def _cell(v):
    """Type-tagged cell, so 832 and 832.0 differ as they do in the oracle
    hash; NaN compares equal to NaN."""
    if isinstance(v, (bool, np.bool_)):
        return ("b", bool(v))
    if isinstance(v, (int, np.integer)):
        return ("i", int(v))
    if isinstance(v, (float, np.floating)):
        return ("f", "NaN" if math.isnan(v) else float(v))
    if isinstance(v, (list, tuple, np.ndarray)):
        return ("l", tuple(_cell(x) for x in v))
    return (type(v).__name__, v)


def canonical_rows(pdf) -> tuple[list[str], list[tuple]]:
    cols = sorted(pdf.columns)
    rows = [tuple(_cell(v) for v in r) for r in pdf[cols].itertuples(index=False)]
    return cols, sorted(rows, key=repr)


def oracle_rows(con, sql: str):
    return canonical_rows(con.sql(sql).df())


def run_registry(ctx, op: Op, collect: bool):
    """Build the plan (``q.fn``) and materialize it. Returns the canonical
    rows when ``collect``; the noop sink returns nothing."""
    q = ctx.queries[op.name]
    sc = ctx.spark.sparkContext
    sc.setJobGroup(f"{ctx.op_id}:build", op.name)
    with ctx.tracer.span("queries.build"):
        df = q.fn(ctx.spark, ctx.sf_dir)
    sc.setJobGroup(f"{ctx.op_id}:exec", op.name)
    with ctx.tracer.span("exec"):
        if collect:
            return canonical_rows(df.toPandas())
        df.write.format("noop").mode("overwrite").save()
    return None


def run_op(ctx, op: Op, collect: bool) -> bool:
    """Run one operation; True if its output is correct (or unchecked
    because the noop sink produced none)."""
    if op.kind == "prefix":
        ctx.spark.sparkContext.setJobGroup(f"{ctx.op_id}:exec", op.name)
        with ctx.tracer.span("exec"):
            got = run_prefix(ctx, op)
        return got == (MR_DEPTH if op.name == "mapreduce.find" else DEPTH)
    got = run_registry(ctx, op, collect)
    return got is None or got == ctx.expected[op.name]
