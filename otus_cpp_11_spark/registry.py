"""Query registry: the single source of truth mapping query names to
(Spark implementation, DuckDB oracle SQL).

Every operator the engine claims (SURVEY.md §2) registers here; the driver
contract (``__spark_entry__.py``) and the bench harness both read this
registry, so an operator exists exactly when it is correctness-gated.

Determinism rules every registered query follows (so the driver's
order-insensitive value-hash matches the oracle bit-for-bit):

* Sums of double columns go through an exact decimal cast first —
  ``CAST(SUM(CAST(x AS DECIMAL(p,s))) AS DOUBLE)`` — because floating-point
  summation order differs between engines (and between Spark partitions run
  to run); decimal addition is exact and associative, and the per-row
  double→decimal rounding of the *same* input value is identical in both
  engines. Averages are expressed as decimal-sum / count in double.
* Every LIMIT/top-k has a total tie-break order (append a unique key).
* Aggregate/computed columns are aliased identically in Spark and SQL.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class Query:
    name: str
    fn: QueryFn
    oracle: str | None  # None => non-SQL-expressible; driver does rows-only
    doc: str = ""
    bench: bool = False  # include in bench.py headline set


_REGISTRY: dict[str, Query] = {}


def _helper_closure_sources(fn) -> list[str]:
    """Sources of every same-package FUNCTION the query function
    (transitively) references — resolved through module globals and
    function-local ``from otus_cpp_11_spark... import name`` statements
    via the AST. r14 (verdict item 4 of the pin audit): the old hash
    covered only the query function's own source, so a semantic rewrite
    of a shared helper (`_read_files_masked`, `_knn_ivfpq_ranked`,
    `_bm25_scores`, ...) shipped without drifting any consumer's pin;
    now a helper-source change mechanically invalidates every consumer.
    Known gaps, none of them hashed:
    - module-level CONSTANTS and other non-function objects a helper
      reads (every registered oracle renders its constants into the
      oracle text, which is hashed);
    - package CLASSES a helper uses, and their methods;
    - functions reached by module-attribute access (``mod.fn`` after
      ``import mod``) rather than by bare name.
    Widening the walk to them would drift unrelated pins, so an edit
    there must unpin its consumers by hand."""
    import ast
    import importlib
    import inspect
    import sys
    import textwrap

    out: dict[str, str] = {}
    seen: set[object] = set()

    def visit(f) -> None:
        try:
            src = textwrap.dedent(inspect.getsource(f))
            tree = ast.parse(src)
        except (OSError, TypeError, SyntaxError):
            return
        mod = sys.modules.get(getattr(f, "__module__", ""), None)
        imported: dict[str, object] = {}
        names: set[str] = set()
        for node in ast.walk(tree):
            if isinstance(node, ast.Name):
                names.add(node.id)
            elif (
                isinstance(node, ast.ImportFrom)
                and node.module
                and node.module.startswith("otus_cpp_11_spark")
            ):
                try:
                    m = importlib.import_module(node.module)
                except ImportError:
                    continue
                for a in node.names:
                    imported[a.asname or a.name] = getattr(m, a.name, None)
        for n in sorted(names):
            obj = imported.get(n)
            if obj is None and mod is not None:
                obj = getattr(mod, n, None)
            if (
                inspect.isfunction(obj)
                and (obj.__module__ or "").startswith("otus_cpp_11_spark")
                and obj is not f
                and obj not in seen
            ):
                seen.add(obj)
                key = f"{obj.__module__}.{obj.__qualname__}"
                try:
                    out[key] = inspect.getsource(obj)
                except (OSError, TypeError):
                    continue
                visit(obj)

    visit(fn)
    return [out[k] for k in sorted(out)]


def query_source_hash(q: Query) -> str:
    """Fingerprint of WHAT a green driver row certified: the query
    function's literal source, the RENDERED oracle SQL (f-string
    constants expanded, so an oracle-CTE edit changes the hash even when
    the decorator line doesn't), and — r14 — the sources of every
    same-package function the query transitively references, so a
    shared-helper rewrite drifts every consumer's pin mechanically
    (previously a helper-only change needed a human to remember to
    unpin the consumers; the r13 verdict found the round's biggest
    semantic rewrites shipped that way). Recorded in DRIVER_VERIFIED at
    green time; tests/test_registry_window.py recomputes it so
    'materially changed since verification' stays mechanical."""
    import hashlib
    import inspect

    src = inspect.getsource(q.fn)
    helpers = "\x00".join(_helper_closure_sources(q.fn))
    digest = hashlib.sha256(
        (src + "\x00" + (q.oracle or "") + "\x00" + helpers).encode()
    ).hexdigest()
    return digest[:12]


def register(
    name: str, oracle: str | None = None, bench: bool = False
) -> Callable[[QueryFn], QueryFn]:
    def deco(fn: QueryFn) -> QueryFn:
        if name in _REGISTRY:
            raise ValueError(f"duplicate query name: {name}")
        _REGISTRY[name] = Query(name, fn, oracle, (fn.__doc__ or "").strip(), bench)
        return fn

    return deco


# Queries with a green hash_match row in a previous round's driver
# CORRECTNESS report, mapped to the source hash (query_source_hash) of the
# code that was verified. The driver verifies the FIRST 50 entries of
# ``queries()`` each round, so ``all_queries()`` orders not-yet-verified
# queries first: already-proven ones yield their window slot (they remain
# gated locally by scripts/check_oracle.py every round).
#
# A green row certifies the CODE that was verified, not the name: any
# query whose Spark impl or rendered oracle SQL changes after its green
# round MUST leave this dict so the driver re-verifies the new code —
# tests/test_registry_window.py recomputes every hash and fails on drift,
# making "materially changed" mechanical (see query_source_hash for the
# shared-helper caveat). Regenerate entries with
# scripts/gen_verified_hashes.py after promoting a round's greens.
#
# Round-14 membership: the r13 driver report was 50/50 green; every green
# row is promoted here at its CURRENT-source hash under the r14 hash
# computation (which now folds in the transitive helper-function closure
# — see query_source_hash; the fingerprint format changed, so every
# retained pin was regenerated from code whose own source is unchanged
# since its green row). Removed (i.e., queued for driver re-verification
# this round): every query whose source OR helper closure changed in
# r14's optimizations (the BM25 family, the cosine-factoring batch, the
# curation fold, pagerank, and the _knn_ivfpq_ranked /
# blocked_cosine_pairs / _knn_mean_recall consumers), plus the r13
# helper-touched consumers the r13 verdict flagged as never
# driver-re-certified (near_dup_pairs_minhash, benchmark_decontamination,
# versioned_dml_lifecycle, versioned_change_feed, customer_cdc_merge),
# plus the 20 oldest-vintage greens (r7-r9) as the REVERIFY queue.
#
# Since then: routing the similarity recall gates through the shared
# top-k overlap helpers (_cosine_topk, _overlap_recall, _stacked_recall,
# _pq_eval_queries, _pq_adc_scored) drifted six pins, removed and
# re-queued here: sq8_retrieval_recall, ivf_trained_recall,
# ivf_pq_nprobe_recall_curve and the three pq_recall_* gates. The window
# stays at 50 by deferring six REVERIFY names (see WINDOW_DEFER). The
# sorted-fold rewrite of the prefix query then drifted
# prefix_min_unique_len, re-queued the same way (one more defer).
#
# Then: moving the versioned-table log reads (path resolution, local
# ``_commits`` reads, the aborted-claim view, the timestamp walk) into
# manifest_format, shared by the engine and the connector, drifted 28
# pins: every query whose helper closure reaches list_versions,
# _read_commit_text, read_manifest, _resolve_marker_text or the path
# resolver (27 of them with unchanged own source), plus
# versioned_timestamp_round_trip, whose connector column now reads
# through the connector's public timestampAsOf face. All 28 are
# re-queued; see WINDOW_DEFER for how the window stays at 50.
DRIVER_VERIFIED: dict[str, str] = {
    "balanced_doc_sample": "b6a61b7da52b",
    "bpe_token_frequencies": "0074412e1e7c",
    "budgeted_mixture_selection": "bcbf7819dfdd",
    "copurchase_association_rules": "0a2e41059f3a",
    "copurchase_part_pairs": "fc5000d15843",
    "corpus_datacard": "cc0785777e42",
    "corpus_dedup_stats": "a28bdb4ace96",
    "cross_modal_doc_features": "548bd3e3414a",
    "customer_monthly_retention": "c346477ea490",
    "customer_order_window_family": "89ae6ca258f0",
    "customer_rfm_quartiles": "3afd9311bda7",
    "customer_running_spend": "cd0c67420e7d",
    "customers_above_avg_balance": "00e48644fe11",
    "customers_without_orders": "0983e9c12cba",
    "daily_active_users_7d": "bb0c62eccdeb",
    "daily_open_shipments": "49bf20b62a8e",
    "decontam_bloom_prune": "01117ef22ebc",
    "dedup_canonical_by_quality": "6df1c2f2267f",
    "doc_arrow_byte_stats": "d00c844f8d74",
    "doc_bigram_surprisal": "e514133ccc34",
    "doc_bpe_roundtrip": "f97bdd30182d",
    "doc_bpe_token_ids": "567860831135",
    "doc_bpe_token_stats": "f3ad7d79da5c",
    "doc_dedup_clusters": "4902a4993a5f",
    "doc_dsir_weights": "38530f39c4d5",
    "doc_fingerprint": "aa34e398ab54",
    "doc_gopher_rules": "0928bbdb350c",
    "doc_lang_id": "d338cd62d984",
    "doc_leading_tokens": "0427a90a499e",
    "doc_novelty_score": "4cc534caa986",
    "doc_pack_bins": "6270c1bfa390",
    "doc_pack_bins_bpe": "96c1776757f0",
    "doc_passage_chunks": "37201087471d",
    "doc_passage_chunks_udtf": "ca8cf7ba8019",
    "doc_priority_sample": "f60460f559cc",
    "doc_quality_classifier": "553a0fde35b3",
    "doc_quality_score": "774ea0ef81c1",
    "doc_repeated_spans": "546c865ca5ed",
    "doc_repetition_stats": "df27efe56c70",
    "doc_reservoir_sample": "d646bd4a4dcd",
    "doc_shard_assignment": "5e7bfcc334be",
    "doc_simhash32": "68775fd2a939",
    "doc_stratified_sample": "db99d4bd4c80",
    "doc_token_stats": "462f0925e34a",
    "doc_top_terms": "45de624d57c2",
    "dup_blast_radius": "4a05f58794b3",
    "embedding_gram_upper": "37e4765fc0f6",
    "embedding_power_iteration": "94114b04c94c",
    "embedding_quantization": "3f1777e77ba7",
    "embedding_random_projection": "1c895218463c",
    "eval_bootstrap_ci": "5bcb33457050",
    "event_type_transitions": "555a15c723d1",
    "event_value_mad": "ce3873a870a1",
    "events_dedup_streamed": "1778c17575ea",
    "events_enriched_streamed": "797146f94302",
    "events_hourly_profile": "a2f1430d5179",
    "events_pit_enrich": "c44713dad114",
    "events_props_variant": "217d3fc4548c",
    "events_session_windows_streamed": "5782751ea494",
    "events_sliding_10min_5min_streamed": "0ae91db58f48",
    "events_tumbling_5min_streamed": "15ab503b1162",
    "exact_dup_groups": "c7266cc39f58",
    "forget_sweep_accounting": "9d43e0648182",
    "incremental_near_dup": "17cf16026932",
    "ips_policy_value": "358a89893114",
    "ivf_train_distortion_curve": "7a49f9c235af",
    "jaccard_prefix_filter_pairs": "8971859a16b7",
    "label_centroids": "8ae72a2f8c44",
    "label_whitening_residuals": "6be01292dd72",
    "lakehouse_compaction_accounting": "3512a1393c45",
    "latest_event_per_user": "be87b0655e8b",
    "leakage_safe_split": "6b0e28be03dd",
    "lineitem_price_qty_corr": "d9a22acfda3a",
    "lineitem_qty_histogram": "b73ae8b1ce17",
    "lineitem_zorder_cells": "521cde2b7066",
    "minhash_estimate_accuracy": "2e1df7d0e684",
    "multimodal_decode_features": "cc4505adfc5a",
    "multimodal_frame_sample": "b40b8b6ba994",
    "nation_richest_customer": "a65f6c77d1ba",
    "nation_set_ops": "c3083679d0a8",
    "nation_supplier_left_join": "815c0ac5a2cd",
    "near_dup_containment": "ab5ba32957ce",
    "near_dup_edit_distance": "27ab88d60646",
    "neyman_allocation": "0fb51a27c863",
    "ngram_jaccard_pairs": "2497da55eb8d",
    "opq_aniso_probe_fires": "1537e1a10e0e",
    "opq_rotation_gain_probe": "6681b46f7d7f",
    "order_distinct_aggs": "6e7f4d722d22",
    "orders_by_month": "47328a2dbc24",
    "orders_cube": "59fdfbdf3230",
    "orders_grouping_sets": "ad28b248ae58",
    "orders_price_percentiles": "544e80973ddf",
    "orders_rollup": "5b78a58f4ec1",
    "orders_yoy_growth": "27d060578ff7",
    "orderstatus_pivot": "01e73840dabe",
    "part_price_band_join": "8eab9844b80b",
    "part_triangle_counts": "aca26692aea7",
    "parts_larger_than_brand_avg": "9372829ea4eb",
    "pii_scrub_stats": "aee1ad7612b3",
    "ppm_ahash16": "0be73efec978",
    "ppm_ahash_near_dup_counts": "dc58f4ddd8c6",
    "ppm_decode_features": "675dc7cc5b8f",
    "ppm_resize_2x2": "cc33a2387f9e",
    "pq_code_assignment": "9874adada751",
    "pq_encode_arrow": "33967e174272",
    "pq_train_distortion_curve": "9cbce0cb7865",
    "prefix_cache_analysis": "0f785bb8eb7c",
    "prefix_counts_l1": "5ed63895ccac",
    "purchase_prior_click_asof": "8aaf9d992d96",
    "python_datasource_checksum": "f2d44ec97ec3",
    "python_datasource_stream_checksum": "79689d0b6458",
    "q10_returned_revenue": "3ce19975961a",
    "q11_important_stock": "e3a3960c7e0d",
    "q12_priority_shipping": "aae56dc8bb25",
    "q14_promo_revenue": "c9393c2429bb",
    "q15_top_supplier": "a7dcff607d49",
    "q16_part_supplier_relation": "bb0ff7298dc0",
    "q17_small_quantity_revenue": "4ce17caeaad7",
    "q18_large_orders": "2f1ace28ae2d",
    "q19_discounted_revenue": "8033a79f338c",
    "q1_pricing_summary": "4b3df65c11ec",
    "q20_potential_promotion": "19a6c9881256",
    "q21_waiting_supplier": "f2c220ba3efa",
    "q2_min_cost_supplier": "d93dbcbaff98",
    "q3_shipping_priority": "f67a5d4f4575",
    "q4_order_priority": "428f94185937",
    "q5_local_supplier_volume": "33fb08b2a68b",
    "q6_forecast_revenue": "d0f5167fc2ca",
    "q7_nation_volume": "3396b4672a6a",
    "q8_market_share": "105ba02a84b9",
    "q9_product_profit": "0b80feb9a741",
    "quality_gate_kappa": "28e0e91123df",
    "quarantine_blast_sweep": "fd34c4be128e",
    "region_nation_full_outer": "a6f16ccd3dcf",
    "region_nation_list": "7a97aa33a1cc",
    "repeated_span_strip_stats": "aa37c4c8028d",
    "running_user_counts_streamed": "58ed3c7e1c34",
    "scalar_string_math": "67d6d8df099b",
    "session_top_paths": "674d0a04c76e",
    "simhash_near_pairs": "8350224d2f44",
    "source_mixture_weights": "b58728fd729d",
    "source_score_calibration": "a3afc764a9c9",
    "source_token_fertility": "7000295e1706",
    "sql_api_region_revenue": "d92bb321c9d2",
    "sum_of_squares": "d329251cd8e8",
    "supplier_lead_time_stats": "0fdddf2f0e03",
    "suppliers_with_returns": "853d0723e215",
    "term_cms_heavy_hitters": "94875d8df06e",
    "top3_orders_per_customer": "329442b68974",
    "unique_by_abs": "c38a77625bd0",
    "user_cohort_weekly_retention": "546151d58f93",
    "user_event_sessions": "823cded3c5bb",
    "user_funnel_conversion": "d01836100c7e",
    "user_state_scd2": "c99bc6f8646c",
    "user_value_moving_avg": "fe348a6dd587",
    "user_value_scd2": "76f403ac8dee",
    "user_value_udaf_sum": "05f33b4284c3",
    "user_value_zscore_outliers": "eb32ab1eb75c",
    "view_purchase_left_outer_streamed": "2c3defeabdfa",
    "view_purchase_within_6h": "91f7b2912d2c",
    "view_purchase_within_6h_streamed": "2da63af6a4e5",
    "wav_decode_features": "2cc55134e376",
    "wav_fingerprint16": "5c9dd9873711",
    "wav_fp_near_dup_counts": "d08af6f3d011",
    "word_count": "cc92d3b47a4e",
}

# Unverified queries that exceed the 50-slot window this round, ordered
# after the rest of the unverified set (they stay gated by the local
# oracle harness and take a slot next round). Queries added mid-round go
# here so they don't displace the 50 already queued for driver rows.
# Now: every oldest-vintage REVERIFY name (20: deferred seven at a time
# as the recall-gate and prefix rewrites drifted pins, the last 13 when
# the shared commit-log reader drifted 28), then the 15 alphabetically-
# first of those 28 whose own query source is unchanged (ann_index_* ..
# versioned_bloom_point_lookup), so the window holds exactly 50.
WINDOW_DEFER: frozenset[str] = frozenset({
    "ann_index_cdc_upsert_txn",
    "ann_index_streamed",
    "bm25_stats_streamed",
    "bpe_pair_counts",
    "cdc_change_data_feed",
    "cdf_incremental_state_counts",
    "cdf_netting_across_versions",
    "corpus_after_span_strip",
    "corpus_datacard_streamed",
    "customer_order_gap_stats",
    "embedding_norms_by_label",
    "events_json_props",
    "events_minute_rollup_streamed",
    "events_multires_rollup",
    "events_session_windows",
    "events_sliding_10min_5min",
    "events_tumbling_5min",
    "events_user_sketches",
    "events_versioned_ingest_streamed",
    "incremental_decontamination",
    "ivf_pq_top5",
    "kmeans_assign_update",
    "lineitem_measures_unpivot",
    "lineitem_profile",
    "pq_adc_top10",
    "pq_index_after_append",
    "q13_customer_distribution",
    "q22_global_sales_opportunity",
    "rtbf_forget_base_and_index_txn",
    "txn_consistent_read",
    "user_state_cdc_streamed",
    "user_state_scd2_streamed",
    "user_value_resample_1h_ffill",
    "versioned_autocompact_ingest",
    "versioned_bloom_point_lookup",
})

# Round-14 refill (r13 ADVICE: restored members no longer double-listed —
# this set contains EXACTLY the queued-for-reverification names), ordered
# AFTER the round's changed/helper-drifted queries by all_queries() so
# re-certification of changed code always wins window slots over routine
# vintage rotation. Empty now: all 20 oldest-vintage greens it held have
# moved to WINDOW_DEFER (see above).
REVERIFY: frozenset[str] = frozenset()


def all_queries() -> dict[str, Query]:
    """Import every query module (idempotent) and return the registry,
    ordered driver-unverified first (stable registration order within each
    group) so the driver's first-50 correctness window always lands on
    queries that still need a green row."""
    from otus_cpp_11_spark.queries import (  # noqa: F401
        bpe,
        cdc,
        curation,
        dedup,
        mapreduce_ops,
        multimodal,
        pandas_ops,
        pipeline,
        relational,
        rollup,
        sampling,
        similarity,
        text,
        timeseries,
        tpch_extra,
    )

    items = list(_REGISTRY.items())
    items.sort(
        key=lambda kv: (
            kv[0] in DRIVER_VERIFIED,
            kv[0] in WINDOW_DEFER,
            kv[0] in REVERIFY,
        )
    )  # stable within each group: new/changed, then re-verifications
    return dict(items)
