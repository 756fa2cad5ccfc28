"""Bucketed-join tests: the co-located layout must remove BOTH exchanges
from a fact-to-fact join plan, and produce rows identical to the plain
join. Broadcast is disabled for the duration so the small test tables
exercise the sort-merge path a real fact-to-fact join would take.

A shuffle exists in a join plan because neither side is partitioned by
the join key on disk. ``bucketBy(n, key)`` fixes the layout once at
write time: every later equi-join (or groupBy) on that key reads bucket
i against bucket i with NO Exchange in the plan. Both sides must use the
same bucket count and the join key must be the bucket key exactly; one
file per bucket (repartition before write) keeps the sorted-bucket read
path."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from otus_cpp_11_spark.catalog import load_table

SF = "/root/testdata/sf0.001"
BUCKETS = 4


def write_bucketed(df, table: str, key: str, num_buckets: int, path: str) -> None:
    """Persist ``df`` as a bucketed, per-bucket sorted table with exactly
    one file per bucket."""
    (
        df.repartition(num_buckets, key)
        .write.mode("overwrite")
        .bucketBy(num_buckets, key)
        .sortBy(key)
        .option("path", path)
        .saveAsTable(table)
    )


def bucketed_join(spark, left_table: str, right_table: str, on: str):
    return spark.table(left_table).join(spark.table(right_table), on)


@pytest.fixture(scope="module")
def bucketed_tables(spark, tmp_path_factory):
    base = tmp_path_factory.mktemp("bucketed")
    l = load_table(spark, SF, "lineitem").withColumnRenamed("l_orderkey", "orderkey")
    o = load_table(spark, SF, "orders").withColumnRenamed("o_orderkey", "orderkey")
    write_bucketed(l, "t_lineitem_b", "orderkey", BUCKETS, str(base / "l"))
    write_bucketed(o, "t_orders_b", "orderkey", BUCKETS, str(base / "o"))
    yield "t_lineitem_b", "t_orders_b", l, o
    spark.sql("DROP TABLE IF EXISTS t_lineitem_b")
    spark.sql("DROP TABLE IF EXISTS t_orders_b")


@pytest.fixture()
def no_broadcast(spark):
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    yield
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_bucketed_join_has_no_exchange(spark, bucketed_tables, no_broadcast):
    lt, ot, _, _ = bucketed_tables
    df = bucketed_join(spark, lt, ot, "orderkey")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    assert "SortMergeJoin" in plan


def test_unbucketed_join_needs_exchanges(spark, bucketed_tables, no_broadcast):
    _, _, l, o = bucketed_tables
    plan = l.join(o, "orderkey")._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" in plan  # the cost bucketing removes


def test_bucketed_join_rows_match_plain_join(spark, bucketed_tables, no_broadcast):
    lt, ot, l, o = bucketed_tables
    got = bucketed_join(spark, lt, ot, "orderkey")
    want = l.join(o, "orderkey")
    assert sorted(got.columns) == sorted(want.columns)
    cols = sorted(got.columns)
    a = sorted(map(tuple, got.select(cols).collect()))
    b = sorted(map(tuple, want.select(cols).collect()))
    assert a == b


def test_bucketed_groupby_has_no_exchange(spark, bucketed_tables):
    lt, _, _, _ = bucketed_tables
    agg = spark.table(lt).groupBy("orderkey").count()
    plan = agg._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_partitioned_write_prunes_directories(spark, tmp_path):
    """Hive-style partitioning is the FILTER-key counterpart of bucketing:
    an equality predicate on a partition column prunes whole directories
    at planning time (PartitionFilters in the scan), not rows."""
    e = load_table(spark, SF, "events").withColumn(
        "day", F.date_format("ts", "yyyy-MM-dd")
    )
    path = str(tmp_path / "events_by_day")
    e.write.mode("overwrite").partitionBy("day").parquet(path)

    df = spark.read.parquet(path).where(F.col("day") == "2024-01-05")
    plan = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    # the day predicate is a partition (directory) filter, not a data filter
    # (the scan omits its PushedFilters line entirely when none exist).
    # r13: the filter is the bare equality — the isnotnull(day) prefix was
    # an InferFiltersFromConstraints artifact, gone since session.py
    # excludes that rule (OPTIMIZATION_r13.md item 10); pruning itself is
    # untouched, as the equality PartitionFilter and row counts prove.
    assert "PartitionFilters: [(day" in plan
    pushed = [l for l in plan.splitlines() if l.startswith("PushedFilters")]
    assert not pushed or "day" not in pushed[0]
    want = e.where(F.col("day") == "2024-01-05").count()
    assert df.count() == want > 0


def test_bucketed_band_index_probe_has_no_exchange(spark, tmp_path, no_broadcast):
    """The stored dedup index at scale: minhash band signatures persisted
    BUCKETED on the bucket key, so an incremental ingest probes the index
    with zero Exchange — new shards are checked for near-dups without
    re-shuffling (or re-shingling) the corpus-sized index. This is the
    storage layout incremental_near_dup's docstring promises; here it is
    proven on the plan."""
    import pyspark.sql.functions as F

    from otus_cpp_11_spark.catalog import load_table
    from otus_cpp_11_spark.queries.dedup import (
        INCREMENTAL_MOD,
        INCREMENTAL_REM,
        _minhash_bands,
        _word_shingle_arrays,
        release_dedup_caches,
    )

    d = load_table(spark, SF, "documents")
    sets = _word_shingle_arrays(d, 3).where(F.size("shingle_set") > 0)
    bands = _minhash_bands(sets).withColumn(
        "bkey", F.concat_ws("|", F.col("band"), F.col("band_sig"))
    )
    is_inc = F.col("doc_id") % INCREMENTAL_MOD == INCREMENTAL_REM
    write_bucketed(
        bands.where(~is_inc).withColumnRenamed("doc_id", "index_doc"),
        "t_band_index",
        "bkey",
        BUCKETS,
        str(tmp_path / "idx"),
    )
    write_bucketed(
        bands.where(is_inc).withColumnRenamed("doc_id", "new_doc"),
        "t_incoming_bands",
        "bkey",
        BUCKETS,
        str(tmp_path / "inc"),
    )
    try:
        probe = (
            spark.table("t_incoming_bands")
            .drop("band", "band_sig")
            .join(spark.table("t_band_index").drop("band", "band_sig"), "bkey")
        )
        plan = probe._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan
        assert "SortMergeJoin" in plan
        # the bucketed probe finds the same candidate pairs as the
        # in-memory band join the query runs
        got = sorted(
            map(tuple, probe.select("new_doc", "index_doc").distinct().collect())
        )
        inc = bands.where(is_inc).select(
            F.col("doc_id").alias("new_doc"), "bkey"
        )
        idx = bands.where(~is_inc).select(
            F.col("doc_id").alias("index_doc"), "bkey"
        )
        want = sorted(
            map(
                tuple,
                inc.join(idx, "bkey").select("new_doc", "index_doc").distinct().collect(),
            )
        )
        assert got == want and len(got) > 0
    finally:
        release_dedup_caches()
        spark.sql("DROP TABLE IF EXISTS t_band_index")
        spark.sql("DROP TABLE IF EXISTS t_incoming_bands")
