"""Per-file Bloom filters in manifest stats (r10 verdict item 4 —
Delta/Parquet Bloom skipping): point lookups on high-cardinality keys
dismiss files that min/max extents cannot (interleaved key ranges make
every file a range candidate), accounting-gated; rewrites carry the
filters; membership never false-negatives.

Reference parity note: the reference engine has no stats story; this
mirrors Delta's public ``delta.bloomFilter.<col>`` semantics for the
100 TB lakehouse mandate."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from otus_cpp_11_spark.ops.versioned import (
    commit_append,
    commit_compaction,
    commit_delete,
    commit_version,
    read_manifest,
    scan_version,
)
from otus_cpp_11_spark.ops.versioned import manifest_stats


@pytest.fixture()
def table(tmp_path):
    return str(tmp_path / "tbl")


def _interleaved(spark, table):
    """Two files with fully-overlapping [0, 199] extents: evens in one,
    odds in the other — min/max can never dismiss either for an
    in-range point, the Bloom dismisses the wrong-parity file."""
    evens = spark.range(100).select((F.col("id") * 2).alias("k"))
    odds = spark.range(100).select((F.col("id") * 2 + 1).alias("k"))
    commit_version(
        spark, evens.coalesce(1), table, stats_cols=["k"], bloom_cols=["k"]
    )
    commit_append(
        spark, odds.coalesce(1), table, stats_cols=["k"], bloom_cols=["k"]
    )


def test_point_lookup_dismisses_by_bloom_not_range(spark, table):
    _interleaved(spark, table)
    got, acct = scan_version(spark, table, bounds={"k": (42, 42)})
    assert [r["k"] for r in got.collect()] == [42]
    assert acct["files_total"] == 2
    # min/max keeps BOTH files (interleaved extents); the Bloom kills
    # the odd file — the dismissal provably came from the filter tier
    assert acct["files_bloom_dismissed"] == 1
    assert acct["files_scanned"] == 1


def test_range_bounds_ignore_bloom(spark, table):
    _interleaved(spark, table)
    got, acct = scan_version(spark, table, bounds={"k": (40, 44)})
    assert got.count() == 5
    assert acct["files_scanned"] == 2
    assert acct["files_bloom_dismissed"] == 0


def test_no_false_negatives_over_every_key(spark, table):
    """The only wrong Bloom is one that dismisses a PRESENT key: every
    stored key must come back from its point scan."""
    _interleaved(spark, table)
    for k in range(0, 200, 17):
        got, _ = scan_version(spark, table, bounds={"k": (k, k)})
        assert [r["k"] for r in got.collect()] == [k], k


def test_absent_key_scans_nothing(spark, table):
    _interleaved(spark, table)
    got, acct = scan_version(spark, table, bounds={"k": (1_000_000, 1_000_000)})
    assert got.count() == 0
    # out of range: min/max already dismissed both, bloom adds nothing
    assert acct["files_scanned"] == 0 and acct["files_bloom_dismissed"] == 0


def test_string_keys_bloom(spark, table):
    a = spark.createDataFrame([(f"user-{i:04d}",) for i in range(0, 100, 2)], "u string")
    b = spark.createDataFrame([(f"user-{i:04d}",) for i in range(1, 100, 2)], "u string")
    commit_version(spark, a.coalesce(1), table, stats_cols=["u"], bloom_cols=["u"])
    commit_append(spark, b.coalesce(1), table, stats_cols=["u"], bloom_cols=["u"])
    got, acct = scan_version(spark, table, bounds={"u": ("user-0042", "user-0042")})
    assert [r["u"] for r in got.collect()] == ["user-0042"]
    assert acct["files_bloom_dismissed"] == 1


def test_rtbf_point_delete_then_lookup_and_bloom_carried(spark, table):
    """The RTBF shape the verdict named: a point DELETE on a
    stats-tracked bloom key touches only the Bloom-surviving file, and
    the rewrite RECORDS a fresh Bloom for its output (a layout op never
    silently sheds point-lookup skipping)."""
    _interleaved(spark, table)
    v = commit_delete(spark, table, "k = 42", bounds={"k": (42, 42)})
    hdr, files = read_manifest(spark, table, v)
    io = hdr["delete_io"]
    assert io["candidates"] == 1  # bloom+range pruned the odd file
    stats = manifest_stats(hdr)
    assert all(len(s["k"]) == 3 and s["k"][2] for s in stats.values()), (
        "rewritten file lost its bloom"
    )
    got, acct = scan_version(spark, table, bounds={"k": (42, 42)})
    assert got.count() == 0
    got2, _ = scan_version(spark, table, bounds={"k": (44, 44)})
    assert got2.count() == 1


def test_compaction_keeps_bloom_and_prior_stat_columns(spark, table):
    """OPTIMIZE re-records its cluster columns AND the selected files'
    prior stat and Bloom columns (the shared layout tail), so a point
    lookup on a non-cluster Bloom key still skips after compaction. The
    ``u`` values are a permutation of the ``k`` values, so every output
    file's ``u`` extents span nearly the whole domain and only the Bloom
    can dismiss a file."""

    def part(ks):
        return ks.select(
            F.col("id").alias("k"), ((F.col("id") * 37) % 200).alias("u")
        ).coalesce(1)

    evens = spark.range(100).select((F.col("id") * 2).alias("id"))
    odds = spark.range(100).select((F.col("id") * 2 + 1).alias("id"))
    commit_version(spark, part(evens), table, stats_cols=["k"], bloom_cols=["u"])
    commit_append(spark, part(odds), table, stats_cols=["k"], bloom_cols=["u"])
    v = commit_compaction(spark, table, 100, ["k"])
    hdr, files = read_manifest(spark, table, v)
    assert hdr["op"] == "optimize" and len(files) == 2
    stats = manifest_stats(hdr)
    assert all(set(s) == {"k", "u"} for s in stats.values())
    assert all(len(s["u"]) == 3 and s["u"][2] for s in stats.values()), (
        "compaction shed the bloom filter"
    )
    got, acct = scan_version(spark, table, bounds={"u": (150, 150)})
    assert [(r["k"], r["u"]) for r in got.collect()] == [(150, 150)]
    assert acct["files_total"] == 2
    assert acct["files_bloom_dismissed"] == 1
    assert acct["files_scanned"] == 1


def test_bloom_cols_refuse_unsupported_types(spark, table):
    """Self-review (r11): Bloom membership hashes the value's canonical
    string, which only int/string share between the JVM cast and the
    Python probe — a timestamp would hash Spark's cast format at
    collection but arrive as an isoformat string at probe time, the
    false-NEGATIVE channel a Bloom must never have. Collection refuses
    anything else loudly."""
    d = spark.range(5).select(
        F.col("id").alias("k"),
        F.current_timestamp().alias("ts"),
        (F.col("id") * 1.5).alias("x"),
    )
    with pytest.raises(ValueError, match="int/string key columns only"):
        commit_version(
            spark, d.coalesce(1), table, stats_cols=["ts"], bloom_cols=["ts"]
        )
    with pytest.raises(ValueError, match="int/string key columns only"):
        commit_version(
            spark, d.coalesce(1), table, stats_cols=["x"], bloom_cols=["x"]
        )


def test_non_probeable_point_bounds_never_consult_bloom():
    """Probe-side belt-and-braces for stats that predate the type gate:
    bools, floats, ranges, and NULL bounds answer 'maybe' instead of
    hashing a value whose string form could differ between engines."""
    from otus_cpp_11_spark.ops.versioned import _bloom_probe_value

    assert _bloom_probe_value(42, 42) == 42
    assert _bloom_probe_value("a", "a") == "a"
    assert _bloom_probe_value(42, 43) is None  # range
    assert _bloom_probe_value(None, 42) is None
    assert _bloom_probe_value(True, True) is None  # bool
    assert _bloom_probe_value(1.5, 1.5) is None  # float
