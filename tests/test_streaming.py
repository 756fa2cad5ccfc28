"""Structured Streaming tests (FIXTURES-level + stream/batch equivalence).

Strategy: every transformation in otus_cpp_11_spark.streaming is
batch/stream polymorphic, so the gold answer is the SAME function run on
the batch frame; the streaming run (memory sink, Trigger.AvailableNow)
must produce identical rows.
"""

from __future__ import annotations

import datetime as dt

import pytest

from otus_cpp_11_spark.catalog import load_table
from otus_cpp_11_spark.streaming import (
    dedup_by_event_id,
    read_events_stream,
    run_available_now,
    running_user_counts,
    session_counts,
    sliding_counts,
    tumbling_counts,
    write_stream_parquet,
)

SF = "/root/testdata/sf0.001"


def _rows(df, *order):
    return [tuple(r) for r in df.orderBy(*order).collect()]


@pytest.fixture(scope="module")
def batch_events(spark):
    return load_table(spark, SF, "events")


def test_tumbling_stream_equals_batch(spark, batch_events):
    stream = tumbling_counts(read_events_stream(spark, SF))
    got = run_available_now(stream, "t_tumbling", "complete")
    want = tumbling_counts(batch_events)
    assert _rows(got, "window_start", "event_type") == _rows(
        want, "window_start", "event_type"
    )


def test_sliding_stream_equals_batch(spark, batch_events):
    stream = sliding_counts(read_events_stream(spark, SF))
    got = run_available_now(stream, "t_sliding", "complete")
    want = sliding_counts(batch_events)
    assert _rows(got, "window_start") == _rows(want, "window_start")


def test_session_stream_equals_batch(spark, batch_events):
    stream = session_counts(read_events_stream(spark, SF))
    got = run_available_now(stream, "t_session", "complete")
    want = session_counts(batch_events)
    assert _rows(got, "user_id", "session_start") == _rows(
        want, "user_id", "session_start"
    )


def test_streaming_dedup_drops_duplicates(spark, tmp_path):
    t0 = dt.datetime(2025, 1, 1, 12, 0, 0)
    rows = [
        (1, t0, "click"),
        (1, t0, "click"),  # exact duplicate event_id
        (2, t0 + dt.timedelta(minutes=1), "view"),
        (2, t0 + dt.timedelta(minutes=2), "view"),  # dup id within watermark
        (3, t0 + dt.timedelta(minutes=3), "click"),
    ]
    src = str(tmp_path / "dup_events")
    spark.createDataFrame(rows, "event_id long, ts timestamp, event_type string").write.parquet(src)
    stream = spark.readStream.schema(
        "event_id long, ts timestamp, event_type string"
    ).parquet(src)
    got = run_available_now(dedup_by_event_id(stream), "t_dedup", "append")
    assert sorted(r.event_id for r in got.collect()) == [1, 2, 3]


def test_running_user_counts_matches_batch_groupby(spark, batch_events):
    stream = running_user_counts(read_events_stream(spark, SF))
    got = run_available_now(stream, "t_running", "update")
    # AvailableNow may split input into several micro-batches; the last
    # (max) update per user is the final running count.
    final = {r.user_id: r.n_events for r in got.groupBy("user_id").max("n_events")
             .withColumnRenamed("max(n_events)", "n_events").collect()}
    want = {r.user_id: r.n for r in batch_events.groupBy("user_id").count()
            .withColumnRenamed("count", "n").collect()}
    assert final == want


def test_parquet_sink_roundtrip(spark, tmp_path):
    stream = dedup_by_event_id(read_events_stream(spark, SF))
    out = str(tmp_path / "out")
    q = write_stream_parquet(stream, out, checkpoint=str(tmp_path / "ckpt"))
    q.awaitTermination()
    n_out = spark.read.parquet(out).count()
    n_in = load_table(spark, SF, "events").dropDuplicates(["event_id"]).count()
    assert n_out == n_in


def test_stream_stream_join_equals_batch_range_join(spark):
    from otus_cpp_11_spark.registry import all_queries
    from otus_cpp_11_spark.streaming import view_purchase_stream_join
    from pyspark.sql import functions as F

    src = read_events_stream(spark, SF)
    views = src.where(F.col("event_type") == "view")
    purchases = src.where(F.col("event_type") == "purchase")
    got = run_available_now(
        view_purchase_stream_join(views, purchases), "t_ssj", "append"
    )
    want = all_queries()["view_purchase_within_6h"].fn(spark, SF)
    cols = ["view_id", "purchase_id", "user_id", "gap_us"]
    assert sorted(map(tuple, got.select(cols).collect())) == sorted(
        map(tuple, want.select(cols).collect())
    )


def test_stream_static_enrich_broadcasts_dim(spark, batch_events):
    from otus_cpp_11_spark.streaming import stream_static_enrich
    from pyspark.sql import functions as F

    dim = batch_events.groupBy("user_id").agg(F.count(F.lit(1)).alias("n_total"))
    got = run_available_now(
        stream_static_enrich(read_events_stream(spark, SF), dim), "t_sse", "append"
    )
    assert got.count() == batch_events.count()
    assert got.where(F.col("n_total").isNull()).count() == 0


def test_incremental_rollup_equals_batch(spark, batch_events, tmp_path):
    from otus_cpp_11_spark.streaming import (
        incremental_minute_rollup,
        minute_rollup_delta,
    )

    # split events into several files so maxFilesPerTrigger=1 yields
    # multiple micro-batches and the merge path (existing tier + delta)
    # actually runs
    src = str(tmp_path / "events_src")
    batch_events.repartition(4).write.parquet(src)
    stream = (
        spark.readStream.schema(batch_events.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    tier = str(tmp_path / "minute_tier")
    ckpt = str(tmp_path / "ckpt")
    q = incremental_minute_rollup(stream, tier, ckpt)
    q.awaitTermination()
    from otus_cpp_11_spark.ops.versioned import current_version, read_version
    from otus_cpp_11_spark.streaming import _latest_batch_id

    got = read_version(spark, tier)
    want = minute_rollup_delta(batch_events)
    assert _rows(got, "bucket_start") == _rows(want, "bucket_start")

    # Resume idempotence: resuming with the ORIGINAL checkpoint sees no
    # new files, processes no batches, and leaves the tier unchanged
    # (same current version, same header batch id).
    applied = _latest_batch_id(spark, tier)
    ver = current_version(spark, tier)
    from otus_cpp_11_spark.streaming import incremental_minute_rollup as _imr

    q2 = _imr(
        spark.readStream.schema(batch_events.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src),
        tier,
        ckpt,
    )
    q2.awaitTermination()
    assert _latest_batch_id(spark, tier) == applied
    assert current_version(spark, tier) == ver
    assert _rows(read_version(spark, tier), "bucket_start") == _rows(
        want, "bucket_start"
    )

    # Cross-run guard: maintaining an EXISTING tier with a fresh
    # throwaway checkpoint would restart batch ids at 0 (early batches
    # swallowed as retries, later ones double-applied) — refused up front.
    with pytest.raises(ValueError, match="checkpoint"):
        _imr(
            spark.readStream.schema(batch_events.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src),
            tier,
        )
    assert _rows(read_version(spark, tier), "bucket_start") == _rows(
        want, "bucket_start"
    )


def test_maintainer_restart_resumes_offsets_and_crash_retry_is_exactly_once(
    spark, batch_events, tmp_path
):
    """r5 verdict item 4: exactly-once of the foreachBatch merge across a
    REAL restart, on the additive rollup maintainer (where a double-apply
    is arithmetically visible). Three legs, all on one on-disk
    checkpoint:

    1. run#1 consumes the initial files; tier == batch answer.
    2. new files arrive; run#2 with the SAME checkpoint processes ONLY
       them (batch ids continue past run#1's marker — offset resume, not
       a replay) and the tier equals the full batch answer.
    3. crash-window replay: restore the checkpoint to its pre-run#2
       snapshot, which is byte-for-byte the state of a process killed
       AFTER the tier write but BEFORE the checkpoint commit. run#3
       re-delivers run#2's batches; the in-table marker detects them as
       applied and skips — counts are NOT doubled."""
    import shutil

    from pyspark.sql import functions as F

    from otus_cpp_11_spark.streaming import (
        incremental_minute_rollup,
        minute_rollup_delta,
    )

    src = str(tmp_path / "src")
    e1 = batch_events.where(F.col("user_id") % 2 == 0)
    e2 = batch_events.where(F.col("user_id") % 2 == 1)
    e1.repartition(2).write.parquet(src)
    tier = str(tmp_path / "tier")
    ckpt = str(tmp_path / "ckpt")

    def run():
        stream = (
            spark.readStream.schema(batch_events.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        incremental_minute_rollup(stream, tier, ckpt).awaitTermination()

    from otus_cpp_11_spark.ops.versioned import read_version
    from otus_cpp_11_spark.streaming import _latest_batch_id

    run()  # leg 1
    assert _rows(read_version(spark, tier), "bucket_start") == _rows(
        minute_rollup_delta(e1), "bucket_start"
    )
    marker1 = _latest_batch_id(spark, tier)

    shutil.copytree(ckpt, str(tmp_path / "ckpt_snap"))  # pre-run#2 snapshot
    e2.repartition(2).write.mode("append").parquet(src)

    run()  # leg 2: restart, same checkpoint — only the new files
    want_all = _rows(minute_rollup_delta(batch_events), "bucket_start")
    assert _rows(read_version(spark, tier), "bucket_start") == want_all
    marker2 = _latest_batch_id(spark, tier)
    assert marker2 > marker1  # ids continued: resumed offsets, no replay

    # leg 3: the kill window — tier holds run#2's merge, checkpoint does
    # not know about it yet
    shutil.rmtree(ckpt)
    shutil.copytree(str(tmp_path / "ckpt_snap"), ckpt)
    run()
    assert _rows(read_version(spark, tier), "bucket_start") == want_all
    assert _latest_batch_id(spark, tier) == marker2


def test_incremental_datacard_equals_batch_across_micro_batches(spark, tmp_path):
    """Documents-ingest face: the maintained datacard equals the batch
    aggregate however the corpus is chunked into micro-batches (additive
    + semilattice columns only — the merge path actually runs)."""
    from otus_cpp_11_spark.catalog import load_table
    from otus_cpp_11_spark.streaming import datacard_delta, incremental_datacard

    docs = load_table(spark, SF, "documents")
    src = str(tmp_path / "docs_src")
    docs.repartition(5).write.parquet(src)
    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    card = str(tmp_path / "card")
    incremental_datacard(stream, card, str(tmp_path / "ckpt")).awaitTermination()
    from otus_cpp_11_spark.ops.versioned import read_version

    got = read_version(spark, card)
    want = datacard_delta(docs)
    assert _rows(got, "source") == _rows(want, "source")


def test_maintainer_tier_is_versioned_and_time_travelable(
    spark, batch_events, tmp_path
):
    """r8: the additive maintainers moved from the staging+swap protocol
    onto ops.versioned commits — the swap's crash window (target deleted,
    staging not yet renamed in) no longer EXISTS, because data + manifest
    + batch id publish in one atomic marker rename. What the protocol
    buys instead is pinned-snapshot reads: a version captured mid-stream
    keeps serving its exact state while later batches commit."""
    from pyspark.sql import functions as F

    from otus_cpp_11_spark.ops.versioned import current_version, read_version
    from otus_cpp_11_spark.streaming import (
        incremental_minute_rollup,
        minute_rollup_delta,
    )

    src = str(tmp_path / "src")
    e1 = batch_events.where(F.col("user_id") % 2 == 0)
    e2 = batch_events.where(F.col("user_id") % 2 == 1)
    e1.repartition(2).write.parquet(src)
    tier = str(tmp_path / "tier")
    ckpt = str(tmp_path / "ckpt")

    def run():
        stream = (
            spark.readStream.schema(batch_events.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        incremental_minute_rollup(stream, tier, ckpt).awaitTermination()

    run()
    v_leg1 = current_version(spark, tier)
    want_leg1 = _rows(minute_rollup_delta(e1), "bucket_start")
    assert _rows(read_version(spark, tier), "bucket_start") == want_leg1

    e2.repartition(2).write.mode("append").parquet(src)
    run()
    # current = full batch answer; the pinned leg-1 version still serves
    # exactly leg-1's state (retention: leg 2 committed 2 versions, so
    # v_leg1 is within the keep_last=3 horizon)
    want_all = _rows(minute_rollup_delta(batch_events), "bucket_start")
    assert _rows(read_version(spark, tier), "bucket_start") == want_all
    assert current_version(spark, tier) == v_leg1 + 2
    assert _rows(read_version(spark, tier, v_leg1), "bucket_start") == want_leg1
    # no swap debris anywhere: the protocol has no staging siblings
    import os

    assert not [
        d for d in os.listdir(tmp_path) if ".staging-" in d
    ], "versioned maintainer must not create swap staging dirs"


def test_append_mode_emits_only_watermark_closed_windows(spark, tmp_path):
    """Append-mode watermark contract (the part Spark guarantees): a
    window is emitted only once the watermark passes its end, open windows
    are withheld, and nothing is emitted twice. (Late-row DROPPING is NOT
    guaranteed — the watermark is a state-eviction lower bound, so a row
    older than the watermark may still be admitted, as batch 3 shows by
    emitting its already-expired window immediately.) Watermark advances
    at the END of each micro-batch; three ordered single-file batches."""
    from pyspark.sql import Row
    from datetime import datetime, timedelta
    import time

    base = datetime(2024, 1, 1, 12, 0, 0)
    batches = [
        [
            Row(ts=base + timedelta(minutes=m), event_type="a", value=1.0)
            for m in (0, 1, 2)
        ],
        # advances the watermark to 13:20 after this batch commits; its own
        # window [13:30,13:35) stays OPEN through the end of the run
        [Row(ts=base + timedelta(minutes=90), event_type="fresh", value=1.0)],
        # older than the watermark: may be admitted (eviction-bound only)
        [Row(ts=base + timedelta(minutes=30), event_type="maybe", value=1.0)],
    ]
    src = str(tmp_path / "late_src")
    schema = "ts timestamp, event_type string, value double"
    for i, rows in enumerate(batches):
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(
            f"{src}/b{i}"
        )
        time.sleep(1.1)  # distinct mtimes => deterministic file order

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .option("latestFirst", "false")
        .parquet(src + "/b*")
    )
    out = tumbling_counts(stream, width="5 minutes", watermark="10 minutes")
    q = (
        out.writeStream.format("memory")
        .queryName("t_late")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    rows = spark.table("t_late").collect()
    keyed = [((r["window_start"].minute, r["event_type"]), r["n_events"]) for r in rows]
    got = dict(keyed)
    # closed window emitted once, with the complete count
    assert got.get((0, "a")) == 3
    # the still-open window (end 13:35 > final watermark 13:20) is withheld
    assert not any(et == "fresh" for (_, et) in got)
    # no window/key emitted twice across batches
    assert len(keyed) == len(got)


def test_stream_stream_outer_join_equals_batch(spark):
    """LEFT OUTER interval join: inner pairs identical to the inner join,
    plus exactly one null-extended row for every never-converted view
    whose join horizon the final watermark passed. Views inside the last
    window+delay of the stream stay buffered when the query stops — the
    outer side only emits once Spark KNOWS no match can arrive, which is
    the semantics (not a bug): a restart with later data resumes them
    from the checkpoint."""
    from pyspark.sql import functions as F

    from otus_cpp_11_spark.streaming import (
        view_purchase_stream_join,
        view_purchase_stream_join_outer,
    )

    views = read_events_stream(spark, SF).where(F.col("event_type") == "view")
    purchases = read_events_stream(spark, SF).where(
        F.col("event_type") == "purchase"
    )
    inner = run_available_now(
        view_purchase_stream_join(views, purchases), "t_ssj_i", "append"
    ).collect()
    outer = run_available_now(
        view_purchase_stream_join_outer(views, purchases), "t_ssj_o", "append"
    ).collect()

    inner_pairs = {(r.view_id, r.purchase_id) for r in inner}
    outer_matched = {(r.view_id, r.purchase_id) for r in outer if r.purchase_id is not None}
    assert outer_matched == inner_pairs

    import datetime

    batch_views = spark.read.parquet(f"{SF}/events.parquet").where(
        "event_type = 'view'"
    )
    matched_views = {r.view_id for r in inner}
    unmatched = [r for r in outer if r.purchase_id is None]

    # final watermark = min over both sides of (side max ts - 10 min);
    # a view emits null-extended only once watermark > view.ts + 6 h
    ev = spark.read.parquet(f"{SF}/events.parquet")
    wm = min(
        ev.where(f"event_type = '{t}'").agg({"ts": "max"}).first()[0]
        for t in ("view", "purchase")
    ) - datetime.timedelta(minutes=10)
    horizon = wm - datetime.timedelta(hours=6)
    finalized = {
        r.event_id
        for r in batch_views.select("event_id", "ts").collect()
        if r.ts < horizon
    }
    assert {r.view_id for r in unmatched} == finalized - matched_views
    # unmatched rows are fully null-extended; no duplicate emissions
    assert all(r.gap_us is None for r in unmatched)
    assert len(outer_matched) + len(unmatched) == len(outer)


def test_versioned_append_sink_exactly_once_across_restart_and_replay(
    spark, batch_events, tmp_path
):
    """streaming.append_stream_to_versioned: micro-batches land as append
    COMMITS with the batch id in the header. Same three legs as the
    rollup maintainer's proof: (1) initial run ingests each file as its
    own commit; (2) a restart on the same checkpoint appends ONLY the new
    files; (3) a crash-window replay (checkpoint restored to pre-run#2)
    re-delivers committed batches and the header marker skips them —
    rows are never doubled, the version number never moves."""
    import shutil

    from pyspark.sql import functions as F

    from otus_cpp_11_spark.ops.versioned import (
        current_version,
        metadata_count,
        read_version,
        version_header,
    )
    from otus_cpp_11_spark.streaming import append_stream_to_versioned

    src = str(tmp_path / "src")
    e1 = batch_events.where(F.col("user_id") % 2 == 0)
    e2 = batch_events.where(F.col("user_id") % 2 == 1)
    e1.repartition(2).write.parquet(src)
    tbl = str(tmp_path / "vtbl")
    ckpt = str(tmp_path / "ckpt")

    def run():
        stream = (
            spark.readStream.schema(batch_events.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        append_stream_to_versioned(
            stream, tbl, checkpoint=ckpt, stats_cols=["event_id"]
        ).awaitTermination()

    run()  # leg 1
    v1 = current_version(spark, tbl)
    assert v1 >= 2  # one commit per non-empty micro-batch
    assert read_version(spark, tbl).count() == e1.count()
    assert metadata_count(spark, tbl, strict=True) == e1.count()
    marker1 = version_header(spark, tbl, v1)["batch_id"]

    shutil.copytree(ckpt, str(tmp_path / "ckpt_snap"))
    e2.repartition(2).write.mode("append").parquet(src)

    run()  # leg 2: restart, same checkpoint — only the new files
    v2 = current_version(spark, tbl)
    assert v2 > v1
    assert read_version(spark, tbl).count() == batch_events.count()
    marker2 = version_header(spark, tbl, v2)["batch_id"]
    assert marker2 > marker1  # ids continued: resumed offsets, no replay

    # leg 3: kill window — commits exist, checkpoint doesn't know yet
    shutil.rmtree(ckpt)
    shutil.copytree(str(tmp_path / "ckpt_snap"), ckpt)
    run()
    assert current_version(spark, tbl) == v2  # nothing re-committed
    assert read_version(spark, tbl).count() == batch_events.count()

    # cross-run guard: an existing target with a FRESH checkpoint is the
    # ambiguous case the maintainers refuse
    with pytest.raises(ValueError, match="persistent checkpoint"):
        append_stream_to_versioned(
            spark.readStream.schema(batch_events.schema).parquet(src), tbl
        )


def test_versioned_append_sink_replay_with_interleaved_foreign_commit(
    spark, batch_events, tmp_path
):
    """The exactly-once guard must survive a NON-sink commit landing
    between the sink's last commit and a crash-window replay: a head-only
    batch-id peek would be masked by the foreign commit (OPTIMIZE here)
    and double-append; the txn walk-back (latest commit CARRYING a batch
    id, Delta's appId scan) must skip the replayed batches."""
    import shutil

    from otus_cpp_11_spark.ops.versioned import (
        commit_compaction,
        current_version,
        read_version,
    )
    from otus_cpp_11_spark.streaming import append_stream_to_versioned

    src = str(tmp_path / "src")
    batch_events.repartition(2).write.parquet(src)
    tbl, ckpt = str(tmp_path / "vtbl"), str(tmp_path / "ckpt")

    def run():
        stream = (
            spark.readStream.schema(batch_events.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        append_stream_to_versioned(
            stream, tbl, checkpoint=ckpt, stats_cols=["event_id"]
        ).awaitTermination()

    run()
    n = batch_events.count()
    assert read_version(spark, tbl).count() == n
    shutil.copytree(ckpt, str(tmp_path / "snap"))
    commit_compaction(spark, tbl, 10**6, ["event_id"])  # foreign commit
    shutil.rmtree(ckpt)
    shutil.copytree(str(tmp_path / "snap"), ckpt)  # crash-window replay
    v = current_version(spark, tbl)
    run()
    assert read_version(spark, tbl).count() == n  # nothing double-applied
    assert current_version(spark, tbl) == v


@pytest.mark.parametrize(
    "maintainer",
    ["cdc_upsert_user_state", "incremental_scd2_history", "append_stream_to_versioned"],
)
def test_zero_row_source_file_commits_no_version(spark, tmp_path, maintainer):
    """A 0-row file landing in the source arrives as its own micro-batch,
    and the shared versioned sink must skip it under every maintainer:
    no new version on any table the maintainer owns (SCD2: the history
    AND the raw store), same rows. The CDC and SCD2 maintainers once
    carried their own copy of the foreachBatch protocol without the
    empty-batch skip and committed a version for such a file."""
    import os

    import otus_cpp_11_spark.streaming as S
    from otus_cpp_11_spark.ops.versioned import current_version, read_version

    t0 = dt.datetime(2024, 1, 1)
    rows = spark.createDataFrame(
        [(1, t0, 10, "click", 1.0), (2, t0 + dt.timedelta(minutes=5), 20, "view", 2.0)],
        "user_id bigint, ts timestamp, event_id bigint, event_type string, "
        "value double",
    )
    src, ckpt = str(tmp_path / "src"), str(tmp_path / "ckpt")
    rows.coalesce(1).write.parquet(src)
    tables = [str(tmp_path / "target")]
    if maintainer == "incremental_scd2_history":
        tables.append(str(tmp_path / "raw"))

    def run():
        stream = spark.readStream.schema(rows.schema).parquet(src)
        getattr(S, maintainer)(stream, *tables, checkpoint=ckpt).awaitTermination()

    def n_batches():
        return sum(f.isdigit() for f in os.listdir(os.path.join(ckpt, "offsets")))

    def state():
        return [
            (current_version(spark, t), sorted(map(str, read_version(spark, t).collect())))
            for t in tables
        ]

    run()
    before, batches = state(), n_batches()
    assert all(v == 1 for v, _ in before)
    rows.limit(0).coalesce(1).write.mode("append").parquet(src)
    run()
    assert n_batches() == batches + 1  # the empty file was delivered
    assert state() == before


def test_bm25_stats_merge_path_equivalence(spark):
    """The additive-merge contract for the BM25 stats maintainer: merging
    per-batch deltas over ANY split of the corpus equals the from-scratch
    single-pass aggregate (df sums because each doc is in exactly one
    batch)."""
    from pyspark.sql import functions as F

    from otus_cpp_11_spark.catalog import load_table
    from otus_cpp_11_spark.streaming import (
        _additive_lattice_merge,
        bm25_stats_delta,
    )

    d = load_table(spark, SF, "documents")
    merge_fn = _additive_lattice_merge("term", sums=("df", "tf_sum"))
    whole = {
        (r["term"], r["df"], r["tf_sum"])
        for r in bm25_stats_delta(d).collect()
    }
    b1, b2, b3 = (
        d.where(F.col("doc_id") % 3 == i) for i in range(3)
    )
    # merge_fn now has commit_upsert's (matched, inserts) signature: fold
    # each batch's DELTA into the accumulated state
    acc = None
    for b in (b1, b2, b3):
        delta = bm25_stats_delta(b)
        acc = delta if acc is None else merge_fn(acc, delta)
    merged = {(r["term"], r["df"], r["tf_sum"]) for r in acc.collect()}
    assert merged == whole
