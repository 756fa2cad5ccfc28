"""In-commit timestamps (Delta's inCommitTimestamps): the commit
instant lives in the marker header (``commit_ts``), monotone by a
write-side clamp against the parent, so TIMESTAMP AS OF survives file
copies / backups / restores that perturb marker mtimes — the failure
mode the old mtime-only resolution could not: a restored table resolved
every version to the restore instant. Pre-feature markers (no
``commit_ts``) fall back to mtime on every face."""

from __future__ import annotations

import json
import os
import time

import pytest
from pyspark.sql import functions as F

from otus_cpp_11_spark.ops.versioned import (
    commit_append,
    commit_version,
    read_version,
    table_history,
    version_at_or_after_timestamp,
    version_at_timestamp,
    version_header,
)


def _mk(spark, a, b):
    return spark.range(a, b).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v")
    )


def _markers(tbl):
    d = f"{tbl}/_commits"
    return sorted(
        f"{d}/{n}" for n in os.listdir(d) if n.isdigit() and len(n) == 8
    )


def test_commit_ts_recorded_and_monotone(spark, tmp_path):
    tbl = str(tmp_path / "t")
    t0 = time.time()
    commit_version(spark, _mk(spark, 0, 10), tbl)
    commit_append(spark, _mk(spark, 10, 20), tbl)
    commit_append(spark, _mk(spark, 20, 30), tbl)
    ts = [version_header(spark, tbl, v)["commit_ts"] for v in (1, 2, 3)]
    assert ts[0] < ts[1] < ts[2]  # strict, even for sub-ms commits
    assert t0 - 1 <= ts[0] <= time.time() + 1


def test_timestamp_as_of_survives_mtime_perturbation(spark, tmp_path):
    """Backdate every marker's mtime to 1970 (what a naive copy/restore
    can do): mtime-based resolution would send every timestamp to the
    newest version and claim the table predates any query instant —
    in-commit resolution is unaffected."""
    tbl = str(tmp_path / "t")
    commit_version(spark, _mk(spark, 0, 10), tbl)
    t_between = (
        version_header(spark, tbl, 1)["commit_ts"] + 0.2
    )
    time.sleep(0.5)
    commit_append(spark, _mk(spark, 10, 20), tbl)
    for p in _markers(tbl):
        os.utime(p, (1000.0, 1000.0))
    assert version_at_timestamp(spark, tbl, t_between) == 1
    assert version_at_timestamp(spark, tbl, time.time()) == 2
    assert read_version(spark, tbl, timestamp=t_between).count() == 10
    with pytest.raises(FileNotFoundError, match="at or before"):
        version_at_timestamp(spark, tbl, 100.0)  # 1970 stays too old


def test_connector_timestamp_as_of_survives_mtime_perturbation(
    spark, tmp_path
):
    from otus_cpp_11_spark.sources import register_versioned_table_source

    tbl = str(tmp_path / "t")
    commit_version(spark, _mk(spark, 0, 10), tbl)
    t_between = version_header(spark, tbl, 1)["commit_ts"] + 0.2
    time.sleep(0.5)
    commit_append(spark, _mk(spark, 10, 20), tbl)
    for p in _markers(tbl):
        os.utime(p, (1000.0, 1000.0))
    register_versioned_table_source(spark)
    at = (
        spark.read.format("versioned_table")
        .option("path", tbl)
        .option("timestampAsOf", str(t_between))
        .load()
    )
    assert at.count() == 10  # v1 via the in-commit instant
    with pytest.raises(Exception, match="at or before"):
        (
            spark.read.format("versioned_table")
            .option("path", tbl)
            .option("timestampAsOf", "100.0")
            .load()
            .count()
        )


def test_legacy_markers_fall_back_to_mtime(spark, tmp_path):
    """A table written before the feature (simulated by stripping
    commit_ts from every marker header) resolves exactly as the old
    mtime rule did, on both the engine and connector faces."""
    from otus_cpp_11_spark.sources import register_versioned_table_source

    tbl = str(tmp_path / "t")
    commit_version(spark, _mk(spark, 0, 10), tbl)
    commit_append(spark, _mk(spark, 10, 20), tbl)
    marks = _markers(tbl)
    for p in marks:
        with open(p) as fh:
            lines = fh.read().splitlines()
        hdr = json.loads(lines[0])
        hdr.pop("commit_ts", None)
        with open(p, "w") as fh:
            fh.write("\n".join([json.dumps(hdr)] + lines[1:]) + "\n")
    os.utime(marks[0], (2000.0, 2000.0))
    os.utime(marks[1], (3000.0, 3000.0))
    assert version_at_timestamp(spark, tbl, 2500.0) == 1
    assert version_at_timestamp(spark, tbl, 3500.0) == 2
    assert version_at_or_after_timestamp(spark, tbl, 2500.0) == 2
    register_versioned_table_source(spark)

    def connector_rows(ts):
        return (
            spark.read.format("versioned_table")
            .option("path", tbl)
            .option("timestampAsOf", ts)
            .load()
            .count()
        )

    assert connector_rows("2500.0") == 10  # v1
    assert connector_rows("3500.0") == 20  # v2
    with pytest.raises(FileNotFoundError, match="at or before"):
        version_at_timestamp(spark, tbl, 1500.0)


def test_history_exposes_commit_ts_and_meta_unpolluted(spark, tmp_path):
    tbl = str(tmp_path / "t")
    commit_version(spark, _mk(spark, 0, 10), tbl)
    commit_append(spark, _mk(spark, 10, 20), tbl, meta={"batch": 7})
    h = table_history(spark, tbl).collect()
    assert [r["version"] for r in h] == [2, 1]
    assert h[1]["commit_ts"] < h[0]["commit_ts"]
    # commit_ts is a first-class column, NOT leaked into the meta JSON
    assert json.loads(h[0]["meta"]) == {"batch": 7}


def test_cdf_timestamp_bounds(spark, tmp_path):
    """CDF timestamp bounds round like Delta's: ts_from rounds UP to
    the first commit at or after (inclusive lower bound), ts_to rounds
    DOWN to the last commit at or before — both via in-commit
    timestamps, proven by backdating every marker mtime."""
    from otus_cpp_11_spark.ops.versioned import read_change_feed

    tbl = str(tmp_path / "t")
    commit_version(spark, _mk(spark, 0, 10), tbl)
    t1 = version_header(spark, tbl, 1)["commit_ts"]
    time.sleep(0.4)
    commit_append(spark, _mk(spark, 10, 20), tbl)
    time.sleep(0.4)
    commit_append(spark, _mk(spark, 20, 30), tbl)
    t3 = version_header(spark, tbl, 3)["commit_ts"]
    for p in _markers(tbl):
        os.utime(p, (1000.0, 1000.0))
    assert version_at_or_after_timestamp(spark, tbl, t1 + 0.1) == 2
    feed = read_change_feed(spark, tbl, ts_from=t1 + 0.1).collect()
    assert {r["_commit_version"] for r in feed} == {2, 3}
    assert len(feed) == 20 and all(
        r["_change_type"] == "insert" for r in feed
    )
    mid = read_change_feed(
        spark, tbl, ts_from=t1 + 0.1, ts_to=t3 - 0.1
    ).collect()
    assert {r["_commit_version"] for r in mid} == {2}
    with pytest.raises(FileNotFoundError, match="at or after"):
        read_change_feed(spark, tbl, ts_from=time.time() + 60)
    with pytest.raises(ValueError, match="exactly one"):
        read_change_feed(spark, tbl, 1, ts_from=t1)
    with pytest.raises(ValueError, match="mutually exclusive"):
        read_change_feed(spark, tbl, 1, v_to=2, ts_to=t3)


def test_stream_starting_timestamp_rounds_up_inclusive(spark, tmp_path):
    """The STREAM's startingTimestamp is an inclusive lower bound
    (Delta's rule): a commit landing exactly AT the instant is
    streamed, resolved through in-commit timestamps (mtimes backdated
    to prove it); an instant past every commit tails future commits
    only."""
    from otus_cpp_11_spark.sources import _VTStreamReader

    tbl = str(tmp_path / "t")
    commit_version(spark, _mk(spark, 0, 10), tbl)
    commit_append(spark, _mk(spark, 10, 20), tbl)
    t2 = version_header(spark, tbl, 2)["commit_ts"]
    commit_append(spark, _mk(spark, 20, 30), tbl)
    for p in _markers(tbl):
        os.utime(p, (1000.0, 1000.0))
    r = _VTStreamReader({"path": tbl, "startingTimestamp": str(t2)})
    assert r.initialOffset() == {"version": 1}  # base 1 -> v2 INCLUDED
    r2 = _VTStreamReader(
        {"path": tbl, "startingTimestamp": str(t2 + 0.0005)}
    )
    assert r2.initialOffset() == {"version": 2}  # strictly after t2
    r3 = _VTStreamReader(
        {"path": tbl, "startingTimestamp": str(time.time() + 3600)}
    )
    assert r3.initialOffset() == {"version": 3}  # tail future only
