"""Physical-plan assertions: lock in the scale-critical plan shapes so a
refactor can't silently regress them (pushdown reaching the parquet scan,
column pruning, broadcast vs shuffle join choice, map-side partial
aggregation, top-k without a global sort). These are the properties that
decide whether a query survives 100x data growth, independent of what the
row-level oracle checks."""

from __future__ import annotations

import pytest
from pyspark.sql import DataFrame

from otus_cpp_11_spark.registry import all_queries

SF = "/root/testdata/sf0.01"


def _explain(df) -> str:
    mode = df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode
    return df._jdf.queryExecution().explainString(mode.fromString("formatted"))


def _plan_nodes(root):
    """Nodes of an executed plan (a DataFrame's, or a subtree of one),
    through AQE wrappers and into subquery plans."""
    if isinstance(root, DataFrame):
        root = root._jdf.queryExecution().executedPlan()
    stack = [root]
    while stack:
        node = stack.pop()
        if node.getClass().getSimpleName() == "AdaptiveSparkPlanExec":
            stack.append(node.executedPlan())
            continue
        yield node
        for seq in (node.children(), node.subqueries()):
            stack.extend(seq.apply(i) for i in range(seq.size()))


def _parquet_scans(df) -> int:
    """Parquet scan nodes in the executed plan, subquery plans included."""
    return sum(n.nodeName().startswith("Scan parquet") for n in _plan_nodes(df))


def _query(name, spark) -> DataFrame:
    return all_queries()[name].fn(spark, SF)


@pytest.fixture(scope="module")
def plan():
    def _plan(name, spark):
        return _explain(_query(name, spark))

    return _plan


def test_q6_filters_push_into_scan(spark, plan):
    p = plan("q6_forecast_revenue", spark)
    # all three predicates reach the parquet reader
    assert "GreaterThanOrEqual(l_shipdate" in p
    assert "LessThanOrEqual(l_discount,0.04)" in p
    assert "LessThan(l_quantity,24.0)" in p


def test_q6_prunes_columns(spark, plan):
    p = plan("q6_forecast_revenue", spark)
    scan_schema = next(
        line for line in p.splitlines() if line.startswith("ReadSchema")
    )
    # 4 of 11 lineitem columns read, nothing else
    assert (
        scan_schema
        == "ReadSchema: struct<l_quantity:double,l_extendedprice:double,"
        "l_discount:double,l_shipdate:timestamp_ntz>"
    )


def test_q3_broadcasts_dims_no_sort_merge(spark, plan):
    p = plan("q3_shipping_priority", spark)
    # two broadcast joins in the plan tree (customer AND orders sides);
    # formatted mode repeats each node in a detail section, so count tree
    # lines ("BroadcastHashJoin Inner ...") not bare occurrences
    assert p.count("BroadcastHashJoin Inner") == 2
    assert "SortMergeJoin" not in p
    # top-k via per-partition heap + tiny merge, not a global sort
    assert "TakeOrderedAndProject" in p


def test_q1_partial_aggregation_before_shuffle(spark, plan):
    p = plan("q1_pricing_summary", spark)
    # map-side combine: shuffle carries group states, not fact rows
    assert "partial_sum" in p


def test_ann_topk_no_shuffle_of_vectors(spark, plan):
    p = plan("ann_cosine_top10", spark)
    # the single query vector broadcasts; vectors are scanned in place and
    # reduced by a driver-side top-k merge — no Exchange of the big side
    assert "BroadcastNestedLoopJoin" in p or "BroadcastHashJoin" in p
    assert "TakeOrderedAndProject" in p
    assert "Exchange hashpartitioning" not in p
    assert "Exchange rangepartitioning" not in p


def test_lsh_multiprobe_broadcasts_probe_list_no_shuffle(spark, plan):
    p = plan("lsh_cosine_top5_multiprobe", spark)
    # the 7-row probe list broadcasts; embeddings never shuffle — the plan
    # shape must stay identical to single-probe despite 7x the candidates
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p
    assert "TakeOrderedAndProject" in p
    assert "Exchange hashpartitioning" not in p
    assert "Exchange rangepartitioning" not in p


def test_q18_semi_join_is_broadcast(spark, plan):
    p = plan("q18_large_orders", spark)
    assert "LeftSemi" in p
    assert "SortMergeJoin" not in p


def test_prefix_min_unique_len_is_one_range_sort_of_the_lines(spark):
    # the customer names fit one AQE partition: one task, no shuffle, one
    # Python step that folds and stitches
    df = _query("prefix_min_unique_len", spark)
    nodes = list(_plan_nodes(df))
    assert _parquet_scans(df) == 1
    assert not [n for n in nodes if n.nodeName() == "Exchange"]
    assert [n.nodeName() for n in nodes].count("MapInArrow") == 1
    # forced past one partition: each line is shuffled once, by range, and
    # never exploded per character
    key = "spark.sql.adaptive.coalescePartitions.minPartitionSize"
    prior = spark.conf.get(key)
    spark.conf.set(key, "1b")
    try:
        df = _query("prefix_min_unique_len", spark)
    finally:
        spark.conf.set(key, prior)
    nodes = list(_plan_nodes(df))
    assert _parquet_scans(df) == 1
    assert not [n for n in nodes if n.nodeName() == "Generate"]
    ranges = [
        n
        for n in nodes
        if n.nodeName() == "Exchange"
        and n.outputPartitioning().getClass().getSimpleName() == "RangePartitioning"
    ]
    assert len(ranges) == 1
    assert _parquet_scans(ranges[0]) == 1


def test_prefix_counts_aggregate_pushes_partial(spark, plan):
    p = plan("prefix_counts_l1", spark)
    assert "partial_count" in p or "partial_sum" in p


def test_q4_semi_join_with_date_pushdown(spark, plan):
    p = plan("q4_order_priority", spark)
    # EXISTS decorrelated to a semi join; orders date range reaches the scan
    assert "LeftSemi" in p
    assert "GreaterThanOrEqual(o_orderdate" in p


def test_q21_single_orderkey_shuffle_no_self_joins(spark):
    df = _query("q21_waiting_supplier", spark)
    p = _explain(df)
    # the EXISTS/NOT EXISTS pair is decorrelated to per-order WINDOW
    # aggregates: lineitem and orders are each scanned once, instead of
    # the textbook two lineitem self-joins
    assert _parquet_scans(df) <= 3  # lineitem + orders + supplier
    assert "SortMergeJoin" not in p
    # supplier dim broadcast, never sort-merge joined
    assert "BroadcastHashJoin" in p


def test_q22_anti_join_prunes_orders_columns(spark, plan):
    p = plan("q22_global_sales_opportunity", spark)
    assert "LeftAnti" in p
    # the anti-join build side reads only the columns it needs from orders
    scans = [l for l in p.splitlines() if l.startswith("ReadSchema")]
    assert any(
        s == "ReadSchema: struct<o_custkey:bigint,o_orderdate:timestamp_ntz>"
        for s in scans
    )


def test_decontamination_broadcasts_eval_index(spark, plan):
    p = plan("benchmark_decontamination", spark)
    # the eval n-gram index must be the broadcast side; the corpus side
    # must not be shuffled into a sort-merge join
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p


def test_pack_bins_no_global_window(spark, plan):
    p = plan("doc_pack_bins", spark)
    # the per-doc prefix sum must be windowed WITHIN shards; the only
    # unpartitioned window allowed is over the tiny shard-offset relation,
    # which arrives via a broadcast exchange
    import re

    # the per-doc window is partitioned by shard, ordered by doc_id
    assert re.search(r"windowspecdefinition\(shard#\d+L, doc_id#\d+L ASC", p)
    assert "BroadcastExchange" in p


def test_quantization_is_shuffle_free(spark, plan):
    p = plan("embedding_quantization", spark)
    # pure array math: no aggregation, no join, no shuffle exchange other
    # than the output ordering's range partitioning
    assert "HashAggregate" not in p
    assert "Join" not in p


def test_multires_rollup_reaggregates_tiers(spark):
    df = _query("events_multires_rollup", spark)
    # raw events are scanned once, into the checkpointed minute tier; the
    # final plan re-aggregates checkpointed tiers (ExistingRDD scans) and
    # never rescans the parquet
    assert _parquet_scans(df) == 0


def test_kmeans_broadcasts_centroids_no_cartesian(spark, plan):
    p = plan("kmeans_assign_update", spark)
    # K=8 centroids broadcast into a nested-loop (no join key) — never a
    # cartesian shuffle; argmin is an aggregate, not a window sort
    assert "BroadcastNestedLoopJoin" in p
    assert "CartesianProduct" not in p
    assert "SortMergeJoin" not in p
    assert "Window" not in p


def test_profile_is_single_scan(spark):
    df = _query("lineitem_profile", spark)
    # all per-column stats come from ONE pass over the fact table (the
    # oracle's UNION ALL formulation would rescan per column)
    assert _parquet_scans(df) == 1


def test_reservoir_sample_is_topk_no_shuffle(spark, plan):
    # per-partition top-K + driver merge: no Exchange, no global Sort
    p = plan("doc_reservoir_sample", spark)
    assert "TakeOrderedAndProject" in p
    assert "Exchange" not in p
    scan_schema = next(l for l in p.splitlines() if l.startswith("ReadSchema"))
    assert "text" not in scan_schema  # payload column pruned


def test_copurchase_joins_on_orderkey_not_cartesian(spark, plan):
    # the pair generation must be an equi-join on l_orderkey (fan-out
    # bounded by lines-per-order), never a nested-loop/cartesian product
    p = plan("copurchase_part_pairs", spark)
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_rolling_dau_replicates_day_level_not_events(spark, plan):
    # the 7x range-join replication happens on the deduped (day, user)
    # relation: the raw events scan must appear exactly once per side (2
    # scans total), each pruned to (ts, user_id)
    p = plan("daily_active_users_7d", spark)
    scans = [l for l in p.splitlines() if l.startswith("ReadSchema")]
    assert len(scans) == 2
    for s in scans:
        assert "event_type" not in s and "props" not in s and "value" not in s


def test_band_join_broadcasts_tiny_dim(spark, plan):
    # a non-equi join has no hash strategy; the correct plan broadcasts
    # the 3-row band dimension and streams the fact side map-side
    p = plan("part_price_band_join", spark)
    assert "BroadcastNestedLoopJoin" in p
    assert "SortMergeJoin" not in p and "CartesianProduct" not in p


def test_repeated_spans_linear_no_pairs(spark):
    # substring dedup must stay linear and single-pass: gram attribution
    # is min() OVER (PARTITION BY gram) — no join at all, so the corpus
    # is scanned/shingled exactly once (the agg+join form scanned twice:
    # no exchange reuse across a partial-agg sibling) — and the
    # run-merge window is partitioned by doc_id (a global window would
    # serialize the corpus through one task)
    import re

    df = _query("doc_repeated_spans", spark)
    p = _explain(df)
    assert "Join" not in p
    assert "CartesianProduct" not in p
    assert _parquet_scans(df) <= 1
    assert re.search(r"windowspecdefinition\(gram#\d+", p)
    assert re.search(r"windowspecdefinition\(doc_id#\d+L, pos#\d+L ASC", p)


def test_quality_classifier_stays_jvm_side(spark, plan):
    # learned-classifier inference is pure Column expressions: no Python
    # eval node, no join, map-side partial aggregation before the one
    # per-doc exchange
    p = plan("doc_quality_classifier", spark)
    assert "EvalPython" not in p  # no row- or arrow-batched Python
    assert "Join" not in p
    assert "partial_count" in p or "partial_sum" in p


def test_pii_scrub_is_single_narrow_scan(spark):
    # scan -> regex project -> sort; no joins, no aggregates, and only the
    # output ordering's range exchange
    df = _query("pii_scrub_stats", spark)
    p = _explain(df)
    assert "Join" not in p
    assert "HashAggregate" not in p
    assert _parquet_scans(df) <= 1


def test_pq_encode_is_narrow_map(spark, plan):
    # PQ encode: codebooks are plan literals, argmin is least-of-structs —
    # no join, no aggregate exchange, no vector leaves its partition
    p = plan("pq_code_assignment", spark)
    assert "Join" not in p
    assert "HashAggregate" not in p
    assert "EvalPython" not in p


def test_pq_adc_topk_no_shuffle(spark, plan):
    # ADC search: distance-table lookups fused into the scan, top-k via
    # per-partition heap + driver merge, never a global sort/exchange
    p = plan("pq_adc_top10", spark)
    assert "Join" not in p
    assert "TakeOrderedAndProject" in p
    assert "Exchange hashpartitioning" not in p


def test_pq_adc_runs_over_stored_codes(spark, plan):
    # ADC search never re-encodes at query time: the scan target is the
    # served VERSIONED residual index (r11 — one artifact), and the
    # per-subvector distance math (zip_with over embedding slices) is
    # absent from the query plan
    p = plan("pq_adc_top10", spark)
    assert "ivfpq-vindex-" in p
    assert "zip_with" not in p
    assert "embedding" not in p  # vectors never touched on the search path


def test_ivf_pq_probe_prunes_index_files_from_manifest(spark):
    # the IVF probe (r11) is a stats-pruned scan_version per probed cell
    # over the cell-clustered versioned index: non-probed cells' files
    # are dismissed from the MANIFEST HEADER's extents — before any IO
    # is planned — the versioned-table equivalent of partition pruning
    from otus_cpp_11_spark.ops.versioned import scan_version
    from otus_cpp_11_spark.queries.similarity import (
        IVF_T_K,
        _pq_versioned_index,
    )

    path = _pq_versioned_index(spark, "/root/testdata/sf0.001")
    accts = [
        scan_version(spark, path, bounds={"cell": (c, c)})[1]
        for c in range(IVF_T_K)
    ]
    total = accts[0]["files_total"]
    assert total >= IVF_T_K  # cell-clustered layout: >= one file per cell
    # every probe dismisses most of the index from the manifest alone
    assert all(a["files_scanned"] <= -(-total * 2 // IVF_T_K) for a in accts)
    # and the probes together still cover every file (no cell orphaned)
    assert sum(a["files_scanned"] for a in accts) >= total


def test_zscore_join_strategy_left_to_aqe(spark):
    # user_value_zscore_outliers plants no broadcast hint (user_id is an
    # unbounded key at web scale): AQE converts from the stats relation's
    # actual runtime size on testdata, and with broadcasts disabled the
    # join degrades to sort-merge with identical values instead of OOMing
    qs = all_queries()
    q = qs["user_value_zscore_outliers"]
    default_df = q.fn(spark, SF)
    rows_default = default_df.collect()
    assert "BroadcastHashJoin" in default_df._jdf.queryExecution().executedPlan().toString()
    prior = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    try:
        degraded = q.fn(spark, SF)
        got = degraded.collect()
        final = degraded._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" not in final
        assert "SortMergeJoin" in final
        assert got == rows_default
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prior)
        spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")


def test_q3_customer_join_aqe_policy(spark):
    """r5 verdict item 1: the TPC-H scaling dims (customer/part/supplier)
    carry NO forced broadcast — strategy is left to Catalyst/AQE. Two
    halves: (a) with default confs the engine still picks a broadcast
    join for customer at eval SF from its actual size (no perf loss from
    dropping the hint); (b) with broadcasts disabled the same query
    degrades to a shuffle join WITH IDENTICAL RESULTS — the 100 TB
    behavior, where a forced hint would instead OOM every executor."""
    qs = all_queries()
    q = qs["q3_shipping_priority"]
    default_df = q.fn(spark, SF)
    rows_default = default_df.collect()
    final_default = default_df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in final_default
    prior = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    try:
        degraded = q.fn(spark, SF)
        got = degraded.collect()
        final = degraded._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" not in final
        assert "SortMergeJoin" in final or "ShuffledHashJoin" in final
        assert got == rows_default
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prior)
        spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")


def test_tpch_family_has_no_scaling_dim_broadcast_hints():
    """Source-level gate for the unbounded-key policy: no TPC-H query
    may hint F.broadcast on the SF-scaling tables (customer, part,
    supplier) or slices/aggregates derived from them. Enforced by
    name: the only allowed broadcast arguments in the two TPC-H
    modules are the bounded dims and 1-row/bounded scalar relations."""
    import re
    from pathlib import Path

    allowed = {
        # bounded by construction at any SF
        "r", "n", "n1", "n2", "nat",
        # 1-row scalar aggregates
        "avg_bal", "mx", "total",
        # per-brand aggregate: brand domain is a fixed 25-value set
        "b",
        # nested nation⋈region dim builds (load_table("nation"/"region"))
        "load_table",
        # bounded shard-offset relation (docs/SHARD rows)
        "shard_off",
    }
    root = Path(__file__).resolve().parent.parent / "otus_cpp_11_spark" / "queries"
    for mod in ("relational.py", "tpch_extra.py"):
        src = (root / mod).read_text()
        for m in re.finditer(r"F\.broadcast\(\s*([A-Za-z_][A-Za-z_0-9]*)", src):
            assert m.group(1) in allowed, (mod, m.group(1))


def test_planted_skew_triggers_aqe_skew_split(spark):
    """r5 verdict item 6: the skew story must not rest on conf alone —
    plant a hot key at real volume and assert AQE's skew-join handling
    actually FIRES (the final adaptive plan reads the skewed partition
    as multiple splits). Thresholds are lowered so the planted skew is
    over the trigger at test scale; at production defaults the same
    mechanism fires at 256 MB partitions."""
    from pyspark.sql import functions as F

    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "16KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "16KB",
        # pin: the skew detector compares against the MEDIAN partition,
        # so the test needs enough shuffle partitions for a meaningful
        # median (with 2, the median IS the hot partition and nothing is
        # ever "skewed") — and a prior test may have left the session at
        # another value
        "spark.sql.shuffle.partitions": "8",
    }
    prior = {k: spark.conf.get(k, None) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        # One hot key carrying 80% of the left side, uniform remainder.
        # The payload must survive column pruning AND not compress away
        # (an all-equal pruned key column lz4-compresses below any
        # threshold — the skew detector sees COMPRESSED shuffle bytes),
        # hence md5(id) carried into the aggregate. The post-join
        # aggregate is GLOBAL: a groupBy on the join key would forbid
        # the split (it requires hash distribution on k, and skew splits
        # break it), which is itself part of what this test documents.
        left = spark.range(0, 500_000).select(
            F.when(F.col("id") < 400_000, F.lit(0))
            .otherwise(F.col("id") % 64)
            .alias("k"),
            F.md5(F.col("id").cast("string")).alias("payload"),
        )
        right = spark.range(0, 5_000).select(
            (F.col("id") % 64).alias("k"), F.col("id").alias("rv")
        )
        j = left.join(right, "k").groupBy().agg(
            F.count(F.lit(1)).alias("n"), F.max("payload").alias("mp")
        )
        rows = j.collect()
        assert rows[0]["n"] > 0
        final = j._jdf.queryExecution().executedPlan().toString()
        # OptimizeSkewedJoin fired: the join is marked and the hot
        # partition is read as multiple splits
        assert "SortMergeJoin(skew=true)" in final, final[:2000]
        assert "skewed" in final, final[:2000]
    finally:
        for k, v in prior.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_canonical_dedup_survivor_is_aggregate_not_window(spark, plan):
    # survivor selection must be the partial-aggregated struct-max form:
    # one row per cluster crosses the shuffle. A Window over cluster_id
    # would sort every member of exactly the hot boilerplate clusters.
    p = plan("dedup_canonical_by_quality", spark)
    assert "partial_max" in p
    # the only Window allowed is none at all in the survivor path; the
    # clusters subtree is window-free too
    assert "Window" not in p


def test_token_ids_two_corpus_scans_and_cached_vocab(spark):
    # scan budget: the documents parquet feeds exactly two live branches
    # (word-count build + final assembly); the vocab-sized artifacts are
    # served from cache, visible as InMemoryTableScan in the final plan
    qs = all_queries()
    df = qs["doc_bpe_token_ids"].fn(spark, SF)
    df.collect()
    final = df._jdf.queryExecution().executedPlan().toString()
    assert "InMemoryTableScan" in final
    spark.catalog.clearCache()  # don't leak the vocab cache to later tests


def test_gopher_rules_single_scan_no_shuffle(spark):
    # all five rules are HOF array math in one narrow projection: no
    # joins, no aggregates, no Python; the only exchange is the output
    # ordering's range partition
    df = _query("doc_gopher_rules", spark)
    p = _explain(df)
    assert "Join" not in p
    assert "HashAggregate" not in p
    assert "EvalPython" not in p
    assert _parquet_scans(df) <= 1


def test_dsir_score_join_is_runtime_sized(spark, plan):
    # the 64-row ratio model is bounded by the hash space, not the data:
    # no literal broadcast hint in the source; AQE converts at runtime
    # (plan shows the exchange-backed join pre-AQE) and the distribution
    # aggregate partial-combines map-side
    p = plan("doc_dsir_weights", spark)
    assert "partial_count" in p or "HashAggregate" in p
    from otus_cpp_11_spark.queries.curation import doc_dsir_weights
    import inspect

    assert "F.broadcast" not in inspect.getsource(doc_dsir_weights)


def test_zorder_cells_one_aggregate_exchange(spark, plan):
    # z-value is pure integer projection; the only shuffle moves <= 256
    # cell rows (post partial-agg), plus the 1-row bounds broadcast
    p = plan("lineitem_zorder_cells", spark)
    assert "BroadcastNestedLoopJoin" in p or "BroadcastExchange" in p  # 1-row bounds
    assert "EvalPython" not in p
    assert p.count("HashAggregate") >= 2  # partial + final: map-side combine


def test_scd2_single_key_shuffle_no_join(spark, plan):
    # history build = windows over ONE user_id exchange (lag-collapse and
    # lead/row_number reuse the same sort); no join, no Python, and every
    # hash shuffle is on the natural key only
    p = plan("user_state_scd2", spark)
    assert "Window" in p
    lines = [ln for ln in p.splitlines() if "hashpartitioning(" in ln]
    assert lines and all("user_id" in ln for ln in lines)
    for bad in ("SortMergeJoin", "BroadcastHashJoin", "CartesianProduct",
                "EvalPython"):
        assert bad not in p, bad


def test_cdc_merge_compacts_with_aggregate_not_window(spark, plan):
    # changelog compaction must be the partial-aggregated argmax (one row
    # per key crosses the wire), never a window sort over raw changes; the
    # merge itself is a full-outer sort-merge join (unbounded key, no
    # broadcast hint), and no arm degenerates to a cartesian
    p = plan("customer_cdc_merge", spark)
    assert "Window" not in p
    assert "SortMergeJoin" in p and "FullOuter" in p
    assert "Aggregate" in p  # struct-max argmax (hash or sort impl)
    for bad in ("CartesianProduct", "BroadcastNestedLoopJoin"):
        assert bad not in p, bad
    import inspect

    from otus_cpp_11_spark.queries.cdc import customer_cdc_merge

    assert "F.broadcast" not in inspect.getsource(customer_cdc_merge)


def test_bloom_prune_broadcasts_filter_no_pairs(spark, plan):
    # the bloom-bits relation is bounded by construction (2^20 bits), so
    # the membership probe is a broadcast hash join — corpus grams are
    # filtered map-side, never shuffled to meet the filter — and nothing
    # in the plan is a cartesian pair enumeration
    p = plan("decontam_bloom_prune", spark)
    assert "BroadcastHashJoin" in p
    assert "HashAggregate" in p  # per-gram bit-count + per-doc rollup combine
    for bad in ("CartesianProduct", "BroadcastNestedLoopJoin"):
        assert bad not in p, bad


def test_wav_near_dup_arrow_decode_bounded_join(spark, plan):
    # decode rides Arrow-batched mapInPandas (never row-at-a-time Python);
    # the candidate graph is an equi-join on (band, band_val) over distinct
    # fingerprint values — no cartesian anywhere
    p = plan("wav_fp_near_dup_counts", spark)
    assert "MapInPandas" in p  # Arrow-batched decode operator
    assert "BatchEvalPython" not in p
    for bad in ("CartesianProduct", "BroadcastNestedLoopJoin"):
        assert bad not in p, bad


def test_runtime_bloom_filter_injects_on_selective_dim_join(spark):
    # Spark's own InjectRuntimeFilter is the engine-native twin of the
    # declarative decontam_bloom_prune: with a selective dim filter and a
    # non-broadcast join, the optimizer plants a bloom_filter_agg on the
    # creation side and a might-contain probe on the fact scan, so fact
    # rows die before the exchange. Thresholds are lowered to make the
    # testdata eligible (defaults target 10 GB scans); restored after.
    import pyspark.sql.functions as F

    from otus_cpp_11_spark.catalog import load_table

    keys = [
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
        "spark.sql.autoBroadcastJoinThreshold",
    ]
    saved = {k: spark.conf.get(k) for k in keys}
    try:
        spark.conf.set(keys[0], "10MB")
        spark.conf.set(keys[1], "1KB")
        spark.conf.set(keys[2], "-1")  # force the non-broadcast join path
        li = load_table(spark, "/root/testdata/sf0.01", "lineitem")
        o = load_table(spark, "/root/testdata/sf0.01", "orders").where(
            F.col("o_orderpriority") == "1-URGENT"
        )
        j = (
            li.join(o, li.l_orderkey == o.o_orderkey)
            .groupBy("o_orderpriority")
            .count()
        )
        p = j._jdf.queryExecution().optimizedPlan().toString()
        assert "bloom_filter_agg" in p
        assert "might_contain" in p.lower()
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)


def test_pit_enrich_is_asof_not_interval_join(spark, plan):
    # the PIT join must be the union+window as-of form (one key shuffle,
    # linear): a window over user_id, NO join operator between facts and
    # history — the interval-join formulation (materializes fact x
    # candidate-version pairs) appears only in the oracle
    p = plan("events_pit_enrich", spark)
    assert "Window" in p
    for bad in ("SortMergeJoin", "BroadcastHashJoin", "CartesianProduct",
                "BroadcastNestedLoopJoin"):
        assert bad not in p, bad
    lines = [ln for ln in p.splitlines() if "hashpartitioning(" in ln]
    assert lines and all("_k" in ln or "user_id" in ln for ln in lines)


def test_forget_sweep_probes_are_semi_joins(spark, plan):
    # the erasure audit is three LEFT SEMI probes against the bounded
    # forget-key relation — semi joins never replicate matched rows, and
    # nothing degenerates to a pair enumeration
    p = plan("forget_sweep_accounting", spark)
    assert "LeftSemi" in p
    for bad in ("CartesianProduct", "BroadcastNestedLoopJoin"):
        assert bad not in p, bad


def test_pagerank_iterations_have_no_cartesian_and_partial_aggs(spark, plan):
    """Each PageRank iteration must be an edge equi-join + hash aggregate
    with map-side partial aggregation on the dst key — never a cartesian
    or nested-loop product (the edge relation is unbounded at scale)."""
    p = plan("part_pagerank_fixedpoint", spark)
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    # partial_sum on the contribution column proves map-side combine in
    # the per-iteration dst aggregate
    assert "partial_sum" in p


def test_triangle_counts_ordered_edge_joins_no_cartesian(spark, plan):
    """Triangle enumeration is two EQUI-joins of the ordered edge
    relation (wedge build on the shared middle vertex, closure on the
    (a, c) pair) — a cartesian or nested-loop here would be corpus-
    quadratic at scale."""
    p = plan("part_triangle_counts", spark)
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_resample_gap_fill_single_user_shuffle_for_fill(spark, plan):
    """The forward-fill window runs per user_id ordered by hour; the plan
    must contain the window and no cartesian, and the grid explode must
    ride a generator (sequence+explode), not a join against a calendar
    relation."""
    p = plan("user_value_resample_1h_ffill", spark)
    assert "CartesianProduct" not in p
    assert "Window" in p
    assert "Generate" in p  # sequence() explode for the per-user grid


def test_bm25_plan_no_cartesian_and_broadcast_bounded_relations(spark):
    df = _query("doc_bm25_top5", spark)
    p = _explain(df)
    assert "CartesianProduct" not in p
    # r14: (N, T, df) are collected plan literals and per-(query, doc)
    # scores are map-side array arithmetic — the scoring plan carries NO
    # join of any kind and exactly ONE corpus scan (the stats pass is a
    # separate 1-row-aggregate job); the only exchanges left belong to
    # the salted top-k windows
    assert "Join" not in p
    assert _parquet_scans(df) == 1


def test_hard_negative_plan_is_one_broadcast_pass(spark, plan):
    p = plan("hard_negative_mining", spark)
    assert "CartesianProduct" not in p
    # bounded anchor relation broadcast against the linear corpus scan;
    # the label-differs predicate makes it a nested-loop ON THE BOUNDED
    # side, never a shuffle of the embedding column
    assert "BroadcastNestedLoopJoin" in p
    assert "SortMergeJoin" not in p and "ShuffledHashJoin" not in p


def test_prefix_cache_topk_is_take_ordered(spark, plan):
    p = plan("prefix_cache_analysis", spark)
    # the global top-10 must be a real per-partition-top-k + tiny merge,
    # not an unpartitioned window over every duplicate-bearing group
    assert "TakeOrderedAndProject" in p
    assert "CartesianProduct" not in p


def test_rrf_fusion_no_cartesian_and_bounded_fusion_join(spark):
    df = _query("retrieval_rrf_fusion", spark)
    p = _explain(df)
    assert "CartesianProduct" not in p
    # r14: both rankers ride ONE map-side scoring pass (side-exploded)
    # and ONE shared two-stage window; fusion is a per-(query, doc)
    # aggregate over <= 2 contribution rows — no join of any kind (the
    # old FullOuter fusion forced an un-broadcastable SortMergeJoin)
    assert "Join" not in p
    assert _parquet_scans(df) == 1


def test_diversified_retrieval_no_cartesian(spark, plan):
    p = plan("retrieval_diversified_top3", spark)
    assert "CartesianProduct" not in p
    # pool (bounded) joins the signature relation on doc_id — an equi-join,
    # never a nested loop over the corpus
    assert "BroadcastHashJoin" in p or "SortMergeJoin" in p


def test_filtered_ann_predicate_pushes_into_documents_scan(spark, plan):
    p = plan("ann_filtered_top5", spark)
    # the document predicate reaches the parquet reader (only eligible
    # candidates are ever scored), and the eligible-id semi-join never
    # degenerates to a cartesian
    assert "GreaterThanOrEqual(n_chars,200)" in p
    assert "CartesianProduct" not in p
    # the corpus embedding column never shuffles: top-k is a real
    # per-partition top-k + tiny merge
    assert "TakeOrderedAndProject" in p


def test_truncated_recall_single_corpus_pass_no_cartesian(spark, plan):
    p = plan("ann_truncated_dim_recall", spark)
    assert "CartesianProduct" not in p
    # bounded query set broadcasts against the linear corpus scan (the
    # vec_id != qid predicate makes it a nested loop on the BOUNDED side)
    assert "BroadcastNestedLoopJoin" in p
    assert "SortMergeJoin" not in p


def test_change_feed_reads_are_joinless(spark, plan, tmp_path):
    """read_change_feed must stay a union of file scans — zero joins:
    the write path already classified the changes, and re-deriving them
    at read time is exactly the O(snapshot) cost CDF exists to avoid."""
    from pyspark.sql import functions as F

    from otus_cpp_11_spark.ops.versioned import (
        commit_delete,
        commit_upsert,
        commit_version,
        read_change_feed,
    )

    tbl = str(tmp_path / "t")
    df = spark.range(100).select(
        F.col("id").alias("k"), F.lit("x").alias("v")
    )
    commit_version(spark, df, tbl, stats_cols=["k"])
    commit_upsert(
        spark,
        spark.range(5).select(F.col("id").alias("k"), F.lit("y").alias("v")),
        tbl,
        ["k"],
        change_feed=True,
    )
    commit_delete(spark, tbl, "k = 50", change_feed=True)
    feed = read_change_feed(spark, tbl, 1, 3)
    qe = feed._jdf.queryExecution()
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    p = qe.explainString(mode)
    for join in (
        "SortMergeJoin",
        "BroadcastHashJoin",
        "ShuffledHashJoin",
        "CartesianProduct",
        "BroadcastNestedLoopJoin",
    ):
        assert join not in p, join
    assert feed.count() == 100 + 10 + 1  # v1 inserts + 5 pre/post pairs + delete


RECALL_GATES = [
    "knn_recall_at_3",
    "knn_ivfpq_recall_at_3",
    "knn_ivfpq_filtered_recall",
    "sq8_retrieval_recall",
    "ivf_trained_recall",
    "ann_truncated_dim_recall",
    "pq_recall_trained_vs_init",
    "pq_recall_residual_vs_raw",
    "pq_recall_opq_vs_identity",
    "ivf_pq_nprobe_recall_curve",
]


@pytest.mark.parametrize("name", RECALL_GATES)
def test_ivf_trained_recall_no_cartesian(spark, plan, name):
    """r9: the recall gates must stay broadcast-joined throughout — query
    samples, centroid and probe relations are bounded, so a
    CartesianProduct anywhere means a bounded side lost its broadcast and
    the gate would cross-product the corpus at scale. (The intentional
    corpus x queries scoring join is itself a broadcast of the bounded
    query relation.)"""
    p = plan(name, spark)
    assert "CartesianProduct" not in p
