"""Admission control for the versioned-table streaming source
(sources.py `_VTStreamReader`, r8 verdict item 2): `maxFilesPerTrigger`
bounds how many files one micro-batch plans, so a consumer catching up
on a long pending history drains it in several bounded batches with
exactly-once output — instead of one unbounded catch-up batch (memory /
latency blowup at 100 TB). Delta's option of the same name; offsets are
version-granular, so whole versions are admitted and a single oversized
commit still makes progress alone."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from otus_cpp_11_spark.ops.versioned import (
    commit_append,
    commit_version,
)
from otus_cpp_11_spark.sources import register_versioned_table_source


@pytest.fixture()
def table(tmp_path):
    return str(tmp_path / "tbl")


def _df(spark, lo, hi, tag):
    return spark.range(lo, hi).select(
        F.col("id").alias("k"), F.lit(tag).alias("tag")
    )


def _build_history(spark, table, versions=6, files_per_version=2):
    commit_version(
        spark, _df(spark, 0, 10, "v1").repartition(files_per_version), table
    )
    for i in range(1, versions):
        commit_append(
            spark,
            _df(spark, 100 * i, 100 * i + 10, f"v{i + 1}").repartition(
                files_per_version
            ),
            table,
        )


def _run_stream(spark, table, tmp_path, name, **opts):
    # processing-time trigger, NOT availableNow: the Python DataSource
    # API's latestOffset() takes no start offset, so availableNow fixes
    # its one target before the reader learns its position — admission
    # control applies to the per-trigger planning loop this runs
    reader = (
        spark.readStream.format("versioned_table").option("path", table)
    )
    for k, v in opts.items():
        reader = reader.option(k, v)
    batches: list[int] = []

    def sink(df, bid):
        n = df.count()
        if n:
            batches.append(n)
        df.write.mode("append").format("noop").save()

    q = (
        reader.load()
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / f"ckpt_{name}"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    q.awaitTermination()
    return batches


def test_capped_catchup_runs_bounded_batches_exactly_once(spark, table, tmp_path):
    """Six pending versions x 2 files drain under maxFilesPerTrigger=4
    in >= 3 micro-batches of <= 4 files (<= 2 versions) each; the union
    of all batches equals the unbounded single-batch run exactly."""
    _build_history(spark, table, versions=6, files_per_version=2)
    register_versioned_table_source(spark)
    capped = _run_stream(
        spark, table, tmp_path, "capped", maxFilesPerTrigger="4"
    )
    assert sum(capped) == 60  # every row exactly once
    assert len(capped) >= 3  # 12 files / 4 per trigger
    assert all(n <= 20 for n in capped)  # <= 2 versions x 10 rows
    unbounded = _run_stream(spark, table, tmp_path, "unbounded")
    assert sum(unbounded) == 60
    assert len(unbounded) == 1  # the hazard the cap exists to remove


def test_oversized_single_version_still_progresses(spark, table, tmp_path):
    """A version alone exceeding the cap is admitted alone — the stream
    never stalls, and neighbors are not bundled with it."""
    commit_version(spark, _df(spark, 0, 10, "v1").repartition(8), table)
    commit_append(spark, _df(spark, 100, 110, "v2").repartition(2), table)
    register_versioned_table_source(spark)
    batches = _run_stream(
        spark, table, tmp_path, "oversize", maxFilesPerTrigger="3"
    )
    assert sum(batches) == 20
    assert len(batches) == 2  # v1 alone (8 files > cap), then v2


def test_capped_restart_resumes_exactly_once(spark, table, tmp_path):
    """Stop a capped stream mid-history, commit more versions, restart
    on the same checkpoint: total output across both runs is exactly
    once per row (the admission cursor never regresses an offset)."""
    _build_history(spark, table, versions=4, files_per_version=2)
    register_versioned_table_source(spark)
    first = _run_stream(
        spark, table, tmp_path, "resume", maxFilesPerTrigger="4"
    )
    assert sum(first) == 40
    for i in (10, 11):
        commit_append(spark, _df(spark, 100 * i, 100 * i + 10, f"v{i}"), table)
    second = _run_stream(
        spark, table, tmp_path, "resume", maxFilesPerTrigger="4"
    )
    assert sum(second) == 20  # only the two new versions, once each


def test_capped_cdf_stream_bounds_change_batches(spark, table, tmp_path):
    """readChangeFeed + maxFilesPerTrigger: the cap counts each
    version's CHANGE files; a capped CDF catch-up equals the unbounded
    feed exactly."""
    _build_history(spark, table, versions=5, files_per_version=2)
    register_versioned_table_source(spark)

    def run(name, **opts):
        reader = (
            spark.readStream.format("versioned_table")
            .option("path", table)
            .option("readChangeFeed", "true")
        )
        for k, v in opts.items():
            reader = reader.option(k, v)
        batches: list[int] = []

        def sink(df, bid):
            n = df.count()
            if n:
                batches.append(n)
            df.write.mode("append").format("noop").save()

        q = (
            reader.load()
            .writeStream.foreachBatch(sink)
            .option("checkpointLocation", str(tmp_path / f"cdf_{name}"))
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        q.awaitTermination()
        return batches

    capped = run("capped", maxFilesPerTrigger="4")
    unbounded = run("unbounded")
    assert sum(capped) == sum(unbounded) == 50
    assert len(capped) >= 3 and len(unbounded) == 1


def test_invalid_cap_rejected(spark, table, tmp_path):
    commit_version(spark, _df(spark, 0, 5, "v1"), table)
    register_versioned_table_source(spark)
    q = (
        spark.readStream.format("versioned_table")
        .option("path", table)
        .option("maxFilesPerTrigger", "0")
        .load()
        .writeStream.format("noop")
        .option("checkpointLocation", str(tmp_path / "bad"))
        .trigger(availableNow=True)
    )
    with pytest.raises(Exception, match="maxFilesPerTrigger"):
        q.start().awaitTermination()


# ---------------------------------------------------------------------------
# maxBytesPerTrigger (r9 verdict item 6) — the byte-budget twin
# ---------------------------------------------------------------------------


def test_byte_capped_catchup_bounded_and_exactly_once(spark, table, tmp_path):
    """Pending versions drain under maxBytesPerTrigger in several
    bounded batches whose union equals the unbounded run exactly. The
    budget is chosen as ~1.5 per-version payloads so each trigger
    admits exactly one whole version."""
    import os

    _build_history(spark, table, versions=5, files_per_version=2)
    register_versioned_table_source(spark)
    # size one version's data files to pick a budget between 1 and 2
    # version-payloads (parquet sizes vary with encoding, so measure)
    data = os.path.join(table, "_data")
    sizes = sorted(
        os.path.getsize(os.path.join(r, f))
        for r, _, fs in os.walk(data)
        for f in fs
        if f.endswith(".parquet")
    )
    per_version = 2 * sizes[len(sizes) // 2]
    capped = _run_stream(
        spark,
        table,
        tmp_path,
        "bcap",
        maxBytesPerTrigger=str(int(per_version * 1.5)),
    )
    assert sum(capped) == 50
    assert len(capped) >= 3  # far more triggers than the unbounded run
    assert all(n <= 20 for n in capped)
    unbounded = _run_stream(spark, table, tmp_path, "bfree")
    assert sum(unbounded) == 50 and len(unbounded) == 1


def test_byte_cap_oversized_version_progresses_alone(spark, table, tmp_path):
    """A single version larger than the byte budget is admitted alone —
    progress never stalls (Delta admits at least one file the same
    way)."""
    commit_version(spark, _df(spark, 0, 10, "v1").repartition(4), table)
    commit_append(spark, _df(spark, 100, 110, "v2").coalesce(1), table)
    register_versioned_table_source(spark)
    batches = _run_stream(
        spark, table, tmp_path, "btiny", maxBytesPerTrigger="1"
    )
    assert sum(batches) == 20
    assert len(batches) == 2  # each version alone, nothing bundled


def test_byte_and_file_caps_compose(spark, table, tmp_path):
    """With both caps set, a version admits only while BOTH budgets
    hold: a generous byte budget does not defeat a tight file cap."""
    _build_history(spark, table, versions=4, files_per_version=2)
    register_versioned_table_source(spark)
    batches = _run_stream(
        spark,
        table,
        tmp_path,
        "both",
        maxFilesPerTrigger="2",
        maxBytesPerTrigger="1g",
    )
    assert sum(batches) == 40
    assert len(batches) == 4  # file cap binds: one 2-file version each


def test_byte_cap_suffix_and_invalid_values(spark, table, tmp_path):
    import pytest

    from otus_cpp_11_spark.sources import _VTStreamReader, _vt_parse_bytes

    assert _vt_parse_bytes("10") == 10
    assert _vt_parse_bytes("10k") == 10 * 1024
    assert _vt_parse_bytes("2m") == 2 * 1024**2
    assert _vt_parse_bytes("1g") == 1024**3
    # Spark's byte-string grammar: optional k/m/g/t/p, optional 'b'
    assert _vt_parse_bytes("64mb") == 64 * 1024**2
    assert _vt_parse_bytes("1gb") == 1024**3
    assert _vt_parse_bytes("2t") == 2 * 1024**4
    commit_version(spark, _df(spark, 0, 5, "v1"), table)
    for bad in ("0", "abc"):
        with pytest.raises(ValueError, match="maxBytesPerTrigger"):
            _VTStreamReader({"path": table, "maxBytesPerTrigger": bad})


def test_starting_timestamp_streams_only_later_commits(spark, table, tmp_path):
    """Delta's startingTimestamp: resolve the stream's base through
    commit-marker mtimes (the same clock batch timestampAsOf uses) —
    only versions committed after the instant are streamed; mutually
    exclusive with startingVersion."""
    import os
    import time

    from otus_cpp_11_spark.ops import manifest_format as mf
    from otus_cpp_11_spark.sources import _VTStreamReader

    commit_version(spark, _df(spark, 0, 10, "v1").coalesce(1), table)
    commit_append(spark, _df(spark, 100, 110, "v2").coalesce(1), table)
    t_mid = os.path.getmtime(f"{table}/_commits/{mf.marker_name(2)}") + 0.01
    time.sleep(0.05)
    commit_append(spark, _df(spark, 200, 210, "v3").coalesce(1), table)
    commit_append(spark, _df(spark, 300, 310, "v4").coalesce(1), table)
    register_versioned_table_source(spark)
    batches = _run_stream(
        spark, table, tmp_path, "sts", startingTimestamp=str(t_mid)
    )
    assert sum(batches) == 20  # v3 + v4 only
    import pytest

    with pytest.raises(Exception, match="mutually exclusive"):
        _VTStreamReader(
            {
                "path": table,
                "startingVersion": "2",
                "startingTimestamp": str(t_mid),
            }
        )
