"""Versioned manifest-committed tables (ops/versioned.py): atomic commit,
snapshot isolation, crash safety without recovery, conflict detection,
time travel, retention vacuum — and the r7 manifest upgrade: append and
keyed-upsert commits that write O(delta) bytes and carry unchanged files
by reference."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from otus_cpp_11_spark.ops.lakehouse import list_data_files
from otus_cpp_11_spark.ops.versioned import (
    commit_append,
    commit_upsert,
    commit_version,
    current_version,
    list_versions,
    read_manifest,
    read_version,
    vacuum_versions,
    version_header,
)


@pytest.fixture()
def table(tmp_path):
    return str(tmp_path / "tbl")


def _df(spark, n, tag):
    return spark.range(0, n).select(
        F.col("id").alias("k"), F.lit(tag).alias("tag")
    )


def _table_bytes(spark, table):
    return sum(b for _, b in list_data_files(spark, table + "/_data"))


def test_commit_read_roundtrip_and_versions(spark, table):
    assert current_version(spark, table) is None
    v1 = commit_version(spark, _df(spark, 10, "a"), table)
    v2 = commit_version(spark, _df(spark, 20, "b"), table)
    assert (v1, v2) == (1, 2)
    assert current_version(spark, table) == 2
    assert read_version(spark, table).count() == 20
    # time travel
    old = read_version(spark, table, version=1)
    assert old.count() == 10
    assert old.select("tag").distinct().first()[0] == "a"
    assert list_versions(spark, table) == [1, 2]
    assert version_header(spark, table)["op"] == "full"


def test_snapshot_isolation_across_commit_and_vacuum(spark, table):
    commit_version(spark, _df(spark, 10, "a"), table)
    pinned = read_version(spark, table)  # bound to v1's immutable files
    commit_version(spark, _df(spark, 99, "b"), table)
    # the pinned reader still sees v1 in full AFTER a newer commit
    assert pinned.count() == 10
    # and keep_last=2 retention keeps v1's files alive for it
    assert vacuum_versions(spark, table, keep_last=2) == []
    assert pinned.count() == 10


def test_append_commit_is_o_delta_and_reuses_files(spark, table):
    """The verdict item-4 'Done' gate: an append commit writes bytes
    proportional to the DELTA and its manifest carries every previous
    file by reference (same relative paths)."""
    commit_version(spark, _df(spark, 100_000, "base"), table)
    _, files1 = read_manifest(spark, table, 1)
    bytes_before = _table_bytes(spark, table)
    commit_append(spark, _df(spark, 10, "delta"), table)
    _, files2 = read_manifest(spark, table, 2)
    # every v1 file is referenced verbatim by v2
    assert set(files1) < set(files2)
    new_files = set(files2) - set(files1)
    assert new_files  # the delta landed as fresh files
    delta_bytes = _table_bytes(spark, table) - bytes_before
    assert 0 < delta_bytes < bytes_before / 10  # O(delta), not O(table)
    assert read_version(spark, table).count() == 100_010
    assert read_version(spark, table, 1).count() == 100_000  # time travel
    assert version_header(spark, table)["op"] == "append"


def test_append_schema_mismatch_refused(spark, table):
    commit_version(spark, _df(spark, 5, "a"), table)
    bad = spark.range(3).select(F.col("id").alias("other"))
    with pytest.raises(ValueError, match="schema mismatch"):
        commit_append(spark, bad, table)


def test_upsert_rewrites_only_touched_files(spark, table):
    """Keyed MERGE with file pruning: keys land in disjoint files (one
    per range partition); an upsert touching one key's range must carry
    the other files by reference and rewrite only the touched one."""
    base = _df(spark, 1000, "base").repartitionByRange(4, "k")
    commit_version(spark, base, table)
    _, files1 = read_manifest(spark, table, 1)
    assert len(files1) == 4
    delta = spark.createDataFrame([(7, "upd")], "k long, tag string")
    commit_upsert(spark, delta, table, ["k"])
    _, files2 = read_manifest(spark, table, 2)
    carried = set(files1) & set(files2)
    assert len(carried) == 3  # three range files untouched, by reference
    cur = read_version(spark, table)
    assert cur.count() == 1000
    assert cur.where("k = 7").first()["tag"] == "upd"
    assert cur.where("tag = 'upd'").count() == 1
    # unmatched delta keys are inserts
    ins = spark.createDataFrame([(5000, "new")], "k long, tag string")
    commit_upsert(spark, ins, table, ["k"])
    assert read_version(spark, table).count() == 1001
    assert version_header(spark, table)["op"] == "upsert"


def test_upsert_tombstone_deletes_key(spark, table):
    commit_version(spark, _df(spark, 10, "a"), table)
    delta = spark.createDataFrame(
        [(3, "x", True), (11, "new", False)],
        "k long, tag string, _deleted boolean",
    )
    commit_upsert(spark, delta, table, ["k"], delete_col="_deleted")
    cur = read_version(spark, table)
    assert cur.count() == 10  # 10 - deleted 3 + inserted 11
    assert cur.where("k = 3").count() == 0
    assert cur.where("k = 11").first()["tag"] == "new"
    # time travel still sees the pre-delete state
    assert read_version(spark, table, 1).where("k = 3").count() == 1


def test_upsert_on_empty_table_is_first_commit(spark, table):
    delta = spark.createDataFrame(
        [(1, "a", False), (2, "x", True)], "k long, tag string, _deleted boolean"
    )
    assert commit_upsert(spark, delta, table, ["k"], delete_col="_deleted") == 1
    cur = read_version(spark, table)
    assert cur.count() == 1  # the tombstone row was not inserted
    assert "_deleted" not in cur.columns


def test_commit_meta_rides_in_header(spark, table):
    commit_version(spark, _df(spark, 5, "a"), table, meta={"batch_id": 7})
    assert version_header(spark, table)["batch_id"] == 7
    commit_append(spark, _df(spark, 1, "b"), table, meta={"batch_id": 8})
    assert version_header(spark, table)["batch_id"] == 8
    assert version_header(spark, table, 1)["batch_id"] == 7


def test_empty_commit_reads_back_empty_with_schema(spark, table):
    df = _df(spark, 0, "none")
    commit_version(spark, df, table)
    got = read_version(spark, table)
    assert got.count() == 0
    # nullability-insensitive: file reads force nullable columns
    assert got.schema.simpleString() == df.schema.simpleString()


def test_crash_before_claim_leaves_previous_version_current(spark, table):
    """A writer that dies after its data write (and even after staging
    the commit file) but before the rename leaves NO observable damage:
    the previous version stays current, readers resolve files through
    committed manifests only, and the leftovers are quiesced-vacuum
    garbage. There is no pointer to lose and no deterministic dir a
    retry could clobber."""
    commit_version(spark, _df(spark, 10, "a"), table)
    # forge the crash: complete data dir + staged commit file, no marker
    _df(spark, 50, "b").write.parquet(table + "/_data/c00000002-deadbeef")
    with open(table + "/_commits/.tmp-deadbeef", "w") as fh:
        fh.write(json.dumps({"op": "full"}) + "\n")
    assert current_version(spark, table) == 1
    assert read_version(spark, table).count() == 10  # readers unaffected
    # a retrying writer simply commits next to the orphan
    v = commit_version(spark, _df(spark, 60, "c"), table)
    assert v == 2
    assert read_version(spark, table).count() == 60
    # quiesced vacuum (grace 0: no live writers) removes the orphan
    # data dir and stale staging
    vacuum_versions(
        spark, table, keep_last=2, drop_uncommitted=True,
        uncommitted_grace_s=0,
    )
    assert not os.path.exists(table + "/_data/c00000002-deadbeef")
    assert not os.path.exists(table + "/_commits/.tmp-deadbeef")
    assert read_version(spark, table).count() == 60


def test_concurrent_commit_conflict_detected_and_winner_intact(spark, table):
    """The r6-advice race, distilled: two writers race version 2. The
    loser must fail loudly AND the winner's committed snapshot must be
    byte-intact — writer-unique data dirs make clobbering impossible,
    unlike the old deterministic-v{n}-dir design."""
    from otus_cpp_11_spark.ops.versioned import _claim_commit, _commit

    commit_version(spark, _df(spark, 10, "a"), table)
    # winner commits version 2 normally
    commit_version(spark, _df(spark, 20, "w"), table)
    _, winner_files = read_manifest(spark, table, 2)
    # loser raced to the same number: its data is already written to its
    # OWN dir; the claim must fail as a conflict
    loser_df = _df(spark, 30, "l")
    from otus_cpp_11_spark.ops.versioned import _write_data_dir

    loser_files = _write_data_dir(spark, loser_df, table, 2)
    with pytest.raises(RuntimeError, match="concurrent committer"):
        _commit(spark, table, 2, "full", loser_df.schema, loser_files, None)
    # winner's version 2 is untouched: same manifest, same rows
    _, after = read_manifest(spark, table, 2)
    assert after == winner_files
    assert read_version(spark, table, 2).count() == 20
    assert read_version(spark, table, 2).select("tag").distinct().first()[0] == "w"
    # and a writer arriving AFTER the conflict builds on top
    assert commit_version(spark, _df(spark, 40, "c"), table) == 3


def test_infra_failure_not_reported_as_conflict(spark, table):
    """Rename failing with NO marker present (e.g. commits dir vanished)
    is an IO fault and must surface as one (r6 advice item 2)."""
    from otus_cpp_11_spark.ops.versioned import _claim_commit

    commit_version(spark, _df(spark, 5, "a"), table)
    # sabotage: replace the _commits dir with a plain FILE so the rename
    # destination's parent is invalid -> rename fails, marker absent
    import shutil

    shutil.rmtree(table + "/_commits")
    with open(table + "/_commits", "w") as fh:
        fh.write("not a directory")
    with pytest.raises((IOError, Exception)) as ei:
        _claim_commit(spark, table, 9, "{}\n")
    assert "concurrent committer" not in str(ei.value)


def test_vacuum_deletes_only_unreferenced_files(spark, table):
    """Manifest-aware retention: a file shared between a dropped and a
    kept version must survive the vacuum — the whole point of carrying
    files by reference."""
    commit_version(spark, _df(spark, 1000, "base"), table)  # v1
    commit_append(spark, _df(spark, 10, "d1"), table)  # v2 = v1 files + d1
    commit_append(spark, _df(spark, 10, "d2"), table)  # v3 = v2 files + d2
    _, files3 = read_manifest(spark, table, 3)
    assert vacuum_versions(spark, table, keep_last=2) == [1]
    # v1's marker is gone, but its FILES live on inside v2/v3 manifests
    assert list_versions(spark, table) == [2, 3]
    with pytest.raises(FileNotFoundError):
        read_version(spark, table, 1)
    assert read_version(spark, table, 2).count() == 1010
    assert read_version(spark, table, 3).count() == 1020
    on_disk = {p.split("/_data/")[1] for p, _ in list_data_files(spark, table + "/_data")}
    assert on_disk == {f.split("_data/")[1] for f in files3}


def test_vacuum_drops_files_exclusive_to_dropped_versions(spark, table):
    """Full-snapshot commits share nothing: vacuuming old versions must
    actually reclaim their bytes."""
    for i, tag in enumerate(["a", "b", "c", "d"], start=1):
        commit_version(spark, _df(spark, 10 * i, tag), table)
    before = _table_bytes(spark, table)
    assert vacuum_versions(spark, table, keep_last=2) == [1, 2]
    assert _table_bytes(spark, table) < before
    assert list_versions(spark, table) == [3, 4]
    assert current_version(spark, table) == 4
    assert read_version(spark, table, version=3).count() == 30
    # current can never be vacuumed
    assert 4 not in vacuum_versions(spark, table, keep_last=1)
    assert read_version(spark, table).count() == 40
    assert os.path.exists(table + "/_commits/00000004")


def test_default_vacuum_never_touches_unclaimed_data(spark, table):
    """An unreferenced data dir may belong to a LIVE commit between its
    data write and its claim: default vacuum must leave it alone (the
    lakehouse quiesce rule)."""
    commit_version(spark, _df(spark, 10, "a"), table)
    commit_version(spark, _df(spark, 20, "b"), table)
    _df(spark, 5, "x").write.parquet(table + "/_data/c00000003-inflight")
    vacuum_versions(spark, table, keep_last=1)
    assert os.path.exists(table + "/_data/c00000003-inflight")


def test_upsert_null_delete_flag_means_upsert_not_delete(spark, table):
    """Delta MERGE semantics (r7 review): a NULL delete flag is an
    UPSERT. The broken form (`~col` over NULL = NULL) dropped the row
    from inserts while its key still anti-joined the stored rows away —
    silently vanishing the key."""
    commit_version(spark, _df(spark, 10, "a"), table)
    delta = spark.createDataFrame(
        [(4, "upd", None), (5, "gone", True)],
        "k long, tag string, _deleted boolean",
    )
    commit_upsert(spark, delta, table, ["k"], delete_col="_deleted")
    cur = read_version(spark, table)
    assert cur.where("k = 4").first()["tag"] == "upd"  # updated, not lost
    assert cur.where("k = 5").count() == 0  # true flag still deletes
    assert cur.count() == 9


def test_upsert_manifest_stats_prune_disjoint_files(spark, table):
    """Two-tier pruning (r7): with per-file key extents in the manifest,
    an upsert whose delta key range is provably disjoint from a file's
    extent dismisses that file WITHOUT scanning it — `upsert_io` in the
    commit header records prev/candidate/touched counts."""
    base = _df(spark, 1000, "base").repartitionByRange(4, "k")
    commit_version(spark, base, table, stats_cols=["k"])
    hdr, files1 = read_manifest(spark, table, 1)
    assert set(hdr["stats"].keys()) == set(files1)
    for ext in hdr["stats"].values():
        assert ext["k"][0] <= ext["k"][1]
    delta = spark.createDataFrame([(7, "upd")], "k long, tag string")
    commit_upsert(spark, delta, table, ["k"])
    hdr2, files2 = read_manifest(spark, table, 2)
    io = hdr2["upsert_io"]
    assert io["prev_files"] == 4
    assert io["candidates"] == 1  # three files dismissed from stats alone
    assert io["touched"] == 1
    # carried files keep their stats; the rewritten file got fresh ones
    assert set(hdr2["stats"].keys()) == set(files2)
    cur = read_version(spark, table)
    assert cur.count() == 1000
    assert cur.where("k = 7").first()["tag"] == "upd"


def test_upsert_without_stats_still_correct_full_candidates(spark, table):
    """A table committed WITHOUT stats degrades to scanning every prev
    file for the exact-match tier — correctness is stats-independent."""
    base = _df(spark, 100, "base").repartitionByRange(4, "k")
    commit_version(spark, base, table)  # no stats_cols
    delta = spark.createDataFrame([(7, "upd")], "k long, tag string")
    commit_upsert(spark, delta, table, ["k"])
    hdr, _ = read_manifest(spark, table, 2)
    assert hdr["upsert_io"]["candidates"] == hdr["upsert_io"]["prev_files"]
    assert read_version(spark, table).where("k = 7").first()["tag"] == "upd"


def test_upsert_merge_fn_latest_wins_inside_commit(spark, table):
    """merge_fn turns replace-by-key into read-modify-write evaluated
    inside the commit's touched-file read: stored (k, n) rows merge with
    the delta by MAX(n), while untouched keys are carried untouched."""
    base = spark.createDataFrame(
        [(1, 10), (2, 20), (3, 30)], "k long, n long"
    ).repartitionByRange(3, "k")
    commit_version(spark, base, table, stats_cols=["k"])
    delta = spark.createDataFrame([(2, 5), (4, 40)], "k long, n long")
    mx = lambda matched, ins: (
        matched.unionByName(ins).groupBy("k").agg(F.max("n").alias("n"))
    )
    commit_upsert(spark, delta, table, ["k"], merge_fn=mx)
    got = {r["k"]: r["n"] for r in read_version(spark, table).collect()}
    assert got == {1: 10, 2: 20, 3: 30, 4: 40}  # stored 20 beats delta 5
    # first-commit path applies merge_fn too (matched = empty)
    t2 = table + "_fresh"
    commit_upsert(
        spark,
        spark.createDataFrame([(1, 3), (1, 9)], "k long, n long"),
        t2,
        ["k"],
        merge_fn=mx,
    )
    assert {r["k"]: r["n"] for r in read_version(spark, t2).collect()} == {1: 9}


def test_append_carries_stats_forward(spark, table):
    """Stats survive append commits: carried files keep their recorded
    extents, new files get fresh ones — so a later upsert can prune
    against the whole table's extents."""
    commit_version(spark, _df(spark, 10, "a"), table, stats_cols=["k"])
    commit_append(
        spark,
        spark.range(100, 110).select(
            F.col("id").alias("k"), F.lit("b").alias("tag")
        ),
        table,
        stats_cols=["k"],
    )
    hdr, files = read_manifest(spark, table, 2)
    assert set(hdr["stats"].keys()) == set(files)


def test_commit_compaction_accounting_and_time_travel(spark, table):
    """OPTIMIZE as a commit: 3 appends of 4 files -> 12 small files;
    compaction packs them into ceil(n/max) range-clustered files as a
    NEW version, rows conserved; the fragmented snapshot remains
    time-travelable; retention vacuum reclaims the superseded files."""
    from otus_cpp_11_spark.ops.versioned import commit_compaction

    for i in range(3):
        part = (
            spark.range(i * 100, (i + 1) * 100)
            .select(F.col("id").alias("k"), F.lit(f"b{i}").alias("tag"))
            .repartition(4)
        )
        if i == 0:
            commit_version(spark, part, table, stats_cols=["k"])
        else:
            commit_append(spark, part, table, stats_cols=["k"])
    _, files3 = read_manifest(spark, table, 3)
    assert len(files3) == 12
    v4 = commit_compaction(spark, table, 75, ["k"])
    hdr, files4 = read_manifest(spark, table, v4)
    assert hdr["optimize_io"] == {
        "files_before": 12,
        "files_selected": 12,
        "files_after": 4,
        "rows": 300,
    }
    assert hdr["op"] == "optimize"
    assert len(files4) == 4 and not (set(files4) & set(files3))
    assert set(hdr["stats"].keys()) == set(files4)  # clustered extents recorded
    assert read_version(spark, table).count() == 300
    assert len(read_manifest(spark, table, 3)[1]) == 12  # pre-compaction intact
    before = _table_bytes(spark, table)
    vacuum_versions(spark, table, keep_last=1)
    assert _table_bytes(spark, table) < before  # superseded files reclaimed
    assert read_version(spark, table).count() == 300


def test_scan_version_prunes_and_reapplies_predicate(spark, table):
    """scan_version is a superset selection + predicate, never a filter
    substitute: the pruned result equals the brute filter; accounting
    proves files were dismissed; a stats-less table degrades to
    scanning everything, still correct."""
    from otus_cpp_11_spark.ops.versioned import scan_version

    base = _df(spark, 1000, "a").repartitionByRange(5, "k")
    commit_version(spark, base, table, stats_cols=["k"])
    df, acct = scan_version(spark, table, {"k": (100, 150)})
    assert acct["files_total"] == 5 and acct["files_scanned"] < 5
    assert df.count() == 51
    assert [r["k"] for r in df.orderBy("k").collect()] == list(range(100, 151))
    # no stats -> every file is a candidate, result identical
    t2 = table + "_nostats"
    commit_version(spark, base, t2)
    df2, acct2 = scan_version(spark, t2, {"k": (100, 150)})
    assert acct2["files_scanned"] == acct2["files_total"] == 5
    assert df2.count() == 51


def test_diff_versions_feed_semantics(spark, table):
    """Keyed change feed between versions: insert/delete/update
    classification, unchanged keys absent, NULL values neither mask nor
    fake a change (null-safe struct compare)."""
    from otus_cpp_11_spark.ops.versioned import diff_versions

    commit_version(
        spark,
        spark.createDataFrame(
            [(1, "a"), (2, "b"), (3, None), (4, "d")], "k long, s string"
        ),
        table,
    )
    commit_version(
        spark,
        spark.createDataFrame(
            [(2, "b"), (3, None), (4, "x"), (5, None)], "k long, s string"
        ),
        table,
    )
    rows = {
        r["k"]: (
            r["change_type"],
            r["old"]["s"] if r["old"] is not None else None,
            r["new"]["s"] if r["new"] is not None else None,
        )
        for r in diff_versions(spark, table, 1, 2, ["k"]).collect()
    }
    # k=2 unchanged, k=3 unchanged (NULL == NULL null-safely): absent
    assert rows == {
        1: ("delete", "a", None),
        4: ("update", "d", "x"),
        5: ("insert", None, None),
    }


def test_schema_evolution_refusals_and_time_travel(spark, table):
    """merge_schema is ADDITIVE only: dropping a committed column or
    changing its type is refused; a plain append with an extra column is
    refused without the flag; pre-evolution versions keep the old
    schema."""
    commit_version(spark, _df(spark, 5, "a"), table)
    extra = spark.createDataFrame([(100, "b", 1.5)], "k long, tag string, w double")
    with pytest.raises(ValueError):
        commit_append(spark, extra, table)  # no flag: schema mismatch
    commit_append(spark, extra, table, merge_schema=True)
    cur = read_version(spark, table)
    assert cur.columns == ["k", "tag", "w"]
    assert cur.where("k < 100").select("w").distinct().collect()[0][0] is None
    assert read_version(spark, table, 1).columns == ["k", "tag"]  # time travel
    with pytest.raises(ValueError):  # type change refused
        commit_append(
            spark,
            spark.createDataFrame([(7, 1.0, 2.0)], "k long, tag double, w double"),
            table,
            merge_schema=True,
        )
    with pytest.raises(ValueError):  # dropped committed column refused
        commit_append(
            spark,
            spark.createDataFrame([(7,)], "k long"),
            table,
            merge_schema=True,
        )


def test_merge_schema_append_keeps_committed_nullability(spark, table):
    """A merge_schema append of a NOT NULL frame leaves a committed
    nullable column nullable: the table's k already holds a NULL, so the
    evolved header must not declare k or tag NOT NULL."""
    base = spark.createDataFrame([(None, "a"), (1, "b")], "k bigint, tag string")
    commit_version(spark, base, table)
    not_null = spark.range(2, 4).select(
        F.col("id").alias("k"), F.lit("c").alias("tag"), F.lit(1.5).alias("w")
    )
    assert not any(f.nullable for f in not_null.schema.fields)
    commit_append(spark, not_null, table, merge_schema=True)
    fields = json.loads(version_header(spark, table, 2)["schema"])["fields"]
    assert {f["name"]: f["nullable"] for f in fields} == {"k": True, "tag": True, "w": True}
    assert read_version(spark, table).where("k IS NULL").count() == 1


def test_metadata_count_exact_across_lifecycle(spark, table):
    """COUNT(*) from manifest row counts (zero data IO, strict mode):
    exact after base commit, append, pruned upsert with tombstones, and
    compaction; historical versions keep their own counts."""
    from otus_cpp_11_spark.ops.versioned import (
        commit_compaction,
        commit_upsert,
        metadata_count,
    )

    commit_version(
        spark, _df(spark, 100, "a").repartitionByRange(4, "k"), table,
        stats_cols=["k"],
    )
    assert metadata_count(spark, table, strict=True) == 100
    commit_append(spark, _df(spark, 50, "b"), table)
    assert metadata_count(spark, table, strict=True) == 150
    delta = spark.createDataFrame(
        [(3, "upd", False), (7, None, True), (500, "new", False)],
        "k long, tag string, _deleted boolean",
    )
    commit_upsert(spark, delta, table, ["k"], delete_col="_deleted")
    # 150 rows: k=3 updated in place (two copies existed: base+append
    # both hold k<50 ids) -> dedup math: base 0..99 + append 0..49 gives
    # duplicates of k in 0..49; upsert replaces ALL rows of k=3 with one
    # row, removes both k=7 rows, inserts k=500
    expect = read_version(spark, table).count()
    assert metadata_count(spark, table, strict=True) == expect
    commit_compaction(spark, table, 60, ["k"])
    assert metadata_count(spark, table, strict=True) == expect
    assert metadata_count(spark, table, version=1, strict=True) == 100


def test_selective_compaction_packs_only_small_files(spark, table):
    """small_file_rows makes OPTIMIZE selective (Delta's minFileSize
    behavior): adequately-sized files are carried by reference, only the
    ingest debris is repacked, and a second run with no remaining small
    files is an O(1) no-op returning the current version."""
    from otus_cpp_11_spark.ops.versioned import (
        commit_compaction,
        metadata_count,
    )

    commit_version(
        spark, _df(spark, 1000, "big").coalesce(1), table, stats_cols=["k"]
    )
    for i in range(3):
        commit_append(
            spark,
            spark.range(1000 + i * 10, 1010 + i * 10)
            .select(F.col("id").alias("k"), F.lit("s").alias("tag"))
            .coalesce(1),
            table,
            stats_cols=["k"],
        )
    _, files4 = read_manifest(spark, table, 4)
    assert len(files4) == 4  # 1 big + 3 small
    v5 = commit_compaction(spark, table, 500, ["k"], small_file_rows=500)
    hdr, files5 = read_manifest(spark, table, v5)
    assert hdr["optimize_io"] == {
        "files_before": 4,
        "files_selected": 3,
        "files_after": 2,
        "rows": 30,
    }
    big = [f for f in files4 if f in set(files5)]
    assert len(big) == 1  # the 1000-row file carried by reference
    assert read_version(spark, table).count() == 1030
    assert metadata_count(spark, table, strict=True) == 1030
    # steady state: nothing small remains -> no-op, no new version
    assert commit_compaction(spark, table, 500, ["k"], small_file_rows=500) == v5
    assert current_version(spark, table) == v5


def test_append_optimistic_retry_composes_without_data_rewrite(spark, table):
    """Optimistic concurrency for appends: a loser of the marker race
    re-stages its manifest against the NEW parent, reusing its
    already-written data files (no rewrite); the final table holds both
    writers' rows exactly once. Forged by letting the appender read a
    STALE current_version while the winner's commit already exists."""
    from unittest import mock

    import otus_cpp_11_spark.ops.versioned as V

    commit_version(spark, _df(spark, 10, "base"), table)
    commit_append(spark, _df(spark, 5, "winner"), table)  # v2: the winner
    real_cv = V.current_version
    calls = {"n": 0}

    def stale_once(s, t):
        calls["n"] += 1
        return 1 if calls["n"] == 1 else real_cv(s, t)

    loser_rows = spark.range(100, 107).select(
        F.col("id").alias("k"), F.lit("loser").alias("tag")
    )
    with mock.patch.object(V, "current_version", side_effect=stale_once):
        v = V.commit_append(spark, loser_rows, table, max_retries=2)
    assert v == 3
    cur = read_version(spark, table)
    assert cur.count() == 22  # 10 + 5 + 7, nothing lost or doubled
    assert cur.where("tag = 'loser'").count() == 7
    _, files2 = read_manifest(spark, table, 2)
    _, files3 = read_manifest(spark, table, 3)
    assert set(files2) < set(files3)  # winner's files carried by reference
    # loser's files appear ONCE (no duplicate write from the retry)
    assert len(files3) == len(set(files3))
    # and with max_retries=0 the same race raises CommitConflict
    calls["n"] = 0
    with mock.patch.object(V, "current_version", side_effect=stale_once):
        with pytest.raises(V.CommitConflict):
            V.commit_append(spark, loser_rows, table, max_retries=0)


def test_append_retry_refuses_a_nullability_only_schema_change(spark, table):
    """The append retry compares schemas with full StructType equality,
    like every other retry: a winning commit that changed only the
    table's nullability (same simpleString) makes the stale appender
    raise CommitConflict instead of committing its stale schema over
    the winner's."""
    from unittest import mock

    import otus_cpp_11_spark.ops.versioned as V

    commit_version(spark, _df(spark, 10, "base"), table)  # k, tag NOT NULL
    winner = spark.createDataFrame([(100, "winner")], "k bigint, tag string")
    commit_version(spark, winner, table)  # v2: the same columns, nullable
    s1, s2 = (
        json.loads(version_header(spark, table, v)["schema"]) for v in (1, 2)
    )
    assert s1 != s2
    assert [f["type"] for f in s1["fields"]] == [f["type"] for f in s2["fields"]]
    with mock.patch.object(V, "current_version", side_effect=_stale_cv(V, 1)):
        with pytest.raises(V.CommitConflict, match="schema"):
            V.commit_append(spark, _df(spark, 5, "loser"), table, max_retries=2)
    assert current_version(spark, table) == 2


def test_append_retry_with_merge_schema_composes_against_old_parent(spark, table):
    """merge_schema + max_retries: the loser validated its ADDITIVE
    evolution against a pre-race parent; a same-schema append winning the
    race does NOT invalidate that evolution, so the retry must compose
    (commit the evolved schema against the new parent) rather than
    misreport a phantom concurrent schema change."""
    from unittest import mock

    import otus_cpp_11_spark.ops.versioned as V

    commit_version(spark, _df(spark, 10, "base"), table)
    commit_append(spark, _df(spark, 5, "winner"), table)  # v2, same schema
    real_cv = V.current_version
    calls = {"n": 0}

    def stale_once(s, t):
        calls["n"] += 1
        return 1 if calls["n"] == 1 else real_cv(s, t)

    evolved = spark.range(200, 204).select(
        F.col("id").alias("k"),
        F.lit("evolved").alias("tag"),
        F.lit(1.5).alias("score"),
    )
    with mock.patch.object(V, "current_version", side_effect=stale_once):
        v = V.commit_append(spark, evolved, table, merge_schema=True, max_retries=2)
    assert v == 3
    cur = read_version(spark, table)
    assert cur.count() == 19  # 10 + 5 + 4
    assert cur.columns == ["k", "tag", "score"]
    # pre-evolution rows read NULL for the added column; evolved rows keep it
    assert cur.where("score IS NULL").count() == 15
    assert cur.where("tag = 'evolved' AND score = 1.5").count() == 4

def _stale_cv(V, stale_value, n_stale=1):
    """Side-effect fn: current_version returns ``stale_value`` for the
    first ``n_stale`` calls, then delegates to the real implementation —
    forging the read-stale-then-race shape of a commit conflict."""
    real_cv = V.current_version
    calls = {"n": 0}

    def f(s, t):
        calls["n"] += 1
        return stale_value if calls["n"] <= n_stale else real_cv(s, t)

    return f


def test_upsert_retry_composes_when_interleaved_commit_is_disjoint(spark, table):
    """Delta's MERGE conflict resolution: a losing upsert recommits
    WITHOUT redoing its merge when the interleaved commit only added
    files whose key extents are provably disjoint from the merge keys.
    The rewritten files are reused — no data rewrite on restage."""
    from unittest import mock

    import otus_cpp_11_spark.ops.versioned as V

    commit_version(spark, _df(spark, 100, "base"), table, stats_cols=["k"])
    # winner: append keys 200-209, disjoint from the loser's 10-19
    commit_append(
        spark,
        spark.range(200, 210).select(F.col("id").alias("k"), F.lit("win").alias("tag")),
        table,
        stats_cols=["k"],
    )
    delta = spark.range(10, 20).select(
        F.col("id").alias("k"), F.lit("upd").alias("tag")
    )
    with mock.patch.object(V, "current_version", side_effect=_stale_cv(V, 1)):
        v = V.commit_upsert(spark, delta, table, ["k"], max_retries=2)
    assert v == 3
    cur = read_version(spark, table)
    assert cur.count() == 110  # 100 base (10 updated in place) + 10 appended
    assert cur.where("tag = 'upd'").count() == 10
    assert cur.where("tag = 'win'").count() == 10
    # the winner's appended file is carried by reference in v3
    _, files2 = read_manifest(spark, table, 2)
    _, files3 = read_manifest(spark, table, 3)
    winner_files = [f for f in files2 if f in set(files3)]
    assert winner_files  # not rewritten
    # and with max_retries=0 the same race raises
    with mock.patch.object(V, "current_version", side_effect=_stale_cv(V, 1)):
        with pytest.raises(V.CommitConflict):
            V.commit_upsert(spark, delta, table, ["k"], max_retries=0)


def test_upsert_retry_aborts_on_key_overlap_or_missing_stats(spark, table):
    """The retry refuses to compose when the interleaved commit's added
    files MAY contain a merge key: overlapping extents, or no recorded
    extents at all (absence of stats is never treated as proof)."""
    from unittest import mock

    import otus_cpp_11_spark.ops.versioned as V

    commit_version(spark, _df(spark, 100, "base"), table, stats_cols=["k"])
    # interleaved append whose keys OVERLAP the merge's 10-19 range
    commit_append(
        spark,
        spark.range(15, 25).select(F.col("id").alias("k"), F.lit("win").alias("tag")),
        table,
        stats_cols=["k"],
    )
    delta = spark.range(10, 20).select(
        F.col("id").alias("k"), F.lit("upd").alias("tag")
    )
    with mock.patch.object(V, "current_version", side_effect=_stale_cv(V, 1)):
        with pytest.raises(V.CommitConflict, match="may contain"):
            V.commit_upsert(spark, delta, table, ["k"], max_retries=2)
    # fresh table: disjoint-keyed append but committed WITHOUT stats —
    # nothing proves disjointness, so the retry must abort too
    tbl2 = table + "_nostats"
    commit_version(spark, _df(spark, 100, "base"), tbl2, stats_cols=["k"])
    commit_append(
        spark,
        spark.range(200, 210).select(F.col("id").alias("k"), F.lit("win").alias("tag")),
        tbl2,
    )  # no stats_cols: added file carries no extents
    with mock.patch.object(V, "current_version", side_effect=_stale_cv(V, 1)):
        with pytest.raises(V.CommitConflict, match="may contain"):
            V.commit_upsert(spark, delta, tbl2, ["k"], max_retries=2)


def test_upsert_retry_aborts_on_write_write_conflict(spark, table):
    """If the interleaved commit rewrote a file this merge also rewrote
    (both merges touched the same keys' files), the loser's read is
    stale — the retry must raise, never silently drop the winner's
    update."""
    from unittest import mock

    import otus_cpp_11_spark.ops.versioned as V

    commit_version(spark, _df(spark, 100, "base").coalesce(1), table, stats_cols=["k"])
    # winner: upsert key 12 — rewrites the (single) file holding 10-19
    commit_upsert(
        spark,
        spark.createDataFrame([(12, "win")], "k long, tag string"),
        table,
        ["k"],
        stats_cols=["k"],
    )
    delta = spark.range(10, 20).select(
        F.col("id").alias("k"), F.lit("upd").alias("tag")
    )
    with mock.patch.object(V, "current_version", side_effect=_stale_cv(V, 1)):
        with pytest.raises(V.CommitConflict, match="write-write"):
            V.commit_upsert(spark, delta, table, ["k"], max_retries=2)


def test_upsert_retry_into_created_table_composes_when_disjoint(spark, table):
    """Empty-table race: the loser believed the table had no commits
    while a winner created v1. With disjoint, stats-proven keys the
    loser's initial write composes as v2 (its files become plain
    inserts); with overlapping keys it must raise."""
    from unittest import mock

    import otus_cpp_11_spark.ops.versioned as V

    commit_version(spark, _df(spark, 50, "win"), table, stats_cols=["k"])  # v1: keys 0-49
    delta = spark.range(100, 110).select(
        F.col("id").alias("k"), F.lit("new").alias("tag")
    )
    with mock.patch.object(V, "current_version", side_effect=_stale_cv(V, None)):
        v = V.commit_upsert(spark, delta, table, ["k"], stats_cols=["k"], max_retries=2)
    assert v == 2
    cur = read_version(spark, table)
    assert cur.count() == 60
    assert cur.where("tag = 'new'").count() == 10
    overlap = spark.range(40, 45).select(
        F.col("id").alias("k"), F.lit("new").alias("tag")
    )
    with mock.patch.object(V, "current_version", side_effect=_stale_cv(V, None)):
        with pytest.raises(V.CommitConflict, match="may contain"):
            V.commit_upsert(spark, overlap, table, ["k"], max_retries=2)


def test_concurrent_appends_with_real_threads_lose_nothing(spark, table):
    """TRUE concurrency (not forged staleness): 4 threads each append
    their own disjoint key block with optimistic retry, racing on real
    marker claims through one SparkSession. Every block must land
    exactly once and the version chain must be a clean 1..9 — whoever
    lost any race re-staged rather than rewrote or dropped data."""
    import threading

    commit_version(spark, _df(spark, 10, "base"), table, stats_cols=["k"])
    errors: list[Exception] = []

    def appender(i: int) -> None:
        try:
            for j in range(2):
                rows = spark.range(
                    1000 * (i + 1) + 100 * j, 1000 * (i + 1) + 100 * j + 50
                ).select(F.col("id").alias("k"), F.lit(f"w{i}").alias("tag"))
                commit_append(spark, rows, table, stats_cols=["k"], max_retries=16)
        except Exception as e:  # surfaced after join
            errors.append(e)

    threads = [threading.Thread(target=appender, args=(i,)) for i in range(4)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errors, errors
    assert list_versions(spark, table) == list(range(1, 10))  # 1 + 4*2
    cur = read_version(spark, table)
    assert cur.count() == 10 + 8 * 50
    per_writer = {
        r["tag"]: r["n"]
        for r in cur.groupBy("tag").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert per_writer == {"base": 10, "w0": 100, "w1": 100, "w2": 100, "w3": 100}


def test_versioned_protocol_model_based_random_walk(spark, table):
    """Model-based check of the WHOLE commit protocol: a seeded random
    walk of appends / keyed upserts / deletes / selective compactions /
    vacuums is mirrored into a plain Python dict model; after every
    commit the live snapshot, the metadata-only COUNT, and a sample of
    retained TIME-TRAVEL snapshots must all equal the model's recorded
    states. One test, ~30 operations — the cheap cousin of a hypothesis
    state machine (a full SparkSession per example is too slow; the
    seeded walk covers op interleavings the hand-written tests do not)."""
    import random

    from otus_cpp_11_spark.ops.versioned import (
        commit_compaction,
        commit_upsert,
        metadata_count,
    )

    rng = random.Random(71)
    model: dict[int, str] = {}
    snapshots: dict[int, dict[int, str]] = {}

    def mk(rows):
        return spark.createDataFrame(
            [(k, t) for k, t in rows], "k long, tag string"
        ).coalesce(1)

    def mk_del(keys, rows):
        data = [(k, "x", True) for k in keys] + [(k, t, False) for k, t in rows]
        return spark.createDataFrame(
            data, "k long, tag string, dead boolean"
        ).coalesce(1)

    def check():
        got = {
            r["k"]: r["tag"] for r in read_version(spark, table).collect()
        }
        assert got == model, f"live snapshot diverged: {got} != {model}"
        assert metadata_count(spark, table, strict=True) == len(model)

    # op 0: create
    rows = [(k, f"v0-{k}") for k in range(8)]
    v = commit_version(spark, mk(rows), table, stats_cols=["k"])
    model = dict(rows)
    snapshots[v] = dict(model)
    check()

    for step in range(1, 30):
        op = rng.choice(["append", "upsert", "delete", "compact", "vacuum"])
        if op == "append":
            lo = rng.randrange(100, 10_000)
            rows = [(lo + i, f"a{step}-{lo + i}") for i in range(rng.randrange(1, 5))]
            v = commit_append(spark, mk(rows), table, stats_cols=["k"])
            model.update(rows)
            snapshots[v] = dict(model)
        elif op == "upsert":
            keys = rng.sample(sorted(model), min(len(model), rng.randrange(1, 4)))
            keys += [rng.randrange(100, 10_000)]  # one insert
            rows = [(k, f"u{step}-{k}") for k in keys]
            v = commit_upsert(spark, mk(rows), table, ["k"], stats_cols=["k"])
            model.update(rows)
            snapshots[v] = dict(model)
        elif op == "delete":
            if not model:
                continue
            keys = rng.sample(sorted(model), min(len(model), rng.randrange(1, 3)))
            v = commit_upsert(
                spark, mk_del(keys, []), table, ["k"],
                delete_col="dead", stats_cols=["k"],
            )
            for k in keys:
                model.pop(k)
            snapshots[v] = dict(model)
        elif op == "compact":
            v = commit_compaction(
                spark, table, 50, ["k"], small_file_rows=25
            )
            snapshots[v] = dict(model)  # rows untouched by contract
        else:
            removed = vacuum_versions(spark, table, keep_last=4)
            for gone in removed:
                snapshots.pop(gone, None)
        check()
        # time travel: every retained recorded snapshot still reads back
        # exactly as it was committed
        live = [v for v in snapshots if v in set(list_versions(spark, table))]
        for v in rng.sample(live, min(2, len(live))):
            got = {
                r["k"]: r["tag"]
                for r in read_version(spark, table, v).collect()
            }
            assert got == snapshots[v], f"time travel to v{v} diverged"


def test_restore_is_zero_copy_and_audit_preserving(spark, table):
    """RESTORE TABLE ... VERSION AS OF (Delta parity): rolling back is a
    NEW commit whose manifest is the target version's file list — zero
    data bytes written, history intact (the botched versions stay
    time-travelable), lineage recorded in the header."""
    from otus_cpp_11_spark.ops.versioned import metadata_count, restore_version

    commit_version(spark, _df(spark, 100, "good"), table, stats_cols=["k"])
    commit_version(spark, _df(spark, 7, "botched"), table)
    bytes_before = _table_bytes(spark, table)
    v3 = restore_version(spark, table, 1, meta={"reason": "bad load"})
    assert v3 == 3 and current_version(spark, table) == 3
    # zero data IO: the restore wrote no files, it references v1's
    assert _table_bytes(spark, table) == bytes_before
    hdr, files3 = read_manifest(spark, table, 3)
    assert files3 == read_manifest(spark, table, 1)[1]
    assert hdr["op"] == "restore"
    assert hdr["restored_from"] == 1
    assert hdr["reason"] == "bad load"
    # the restored snapshot IS the old one, and carries its metadata:
    # row counts (metadata-only COUNT) and stats survive the round trip
    got = read_version(spark, table)
    assert got.count() == 100
    assert got.select("tag").distinct().first()[0] == "good"
    assert metadata_count(spark, table, strict=True) == 100
    assert hdr.get("stats") == read_manifest(spark, table, 1)[0].get("stats")
    # audit: the botched version is still in the history, still readable
    assert list_versions(spark, table) == [1, 2, 3]
    assert read_version(spark, table, 2).count() == 7


def test_restore_survives_vacuum_of_source_version(spark, table):
    """The restore manifest's file references keep the restored data
    alive through retention even after the SOURCE version's marker is
    vacuumed away — reference counting is per-file, not per-version."""
    from otus_cpp_11_spark.ops.versioned import restore_version

    commit_version(spark, _df(spark, 50, "keep"), table)
    commit_version(spark, _df(spark, 5, "bad"), table)
    restore_version(spark, table, 1)
    commit_append(spark, _df(spark, 10, "more"), table)  # v4
    # retain only v3 (restore) + v4: v1's MARKER goes, its FILES stay
    # because the restore/append manifests still reference them
    removed = vacuum_versions(spark, table, keep_last=2)
    assert removed == [1, 2]
    assert read_version(spark, table).count() == 60
    assert read_version(spark, table, 3).count() == 50
    # ...and restoring to the vacuumed version now fails loudly
    with pytest.raises(FileNotFoundError, match="not committed"):
        restore_version(spark, table, 1)


def test_restore_errors_and_further_commits_compose(spark, table):
    from otus_cpp_11_spark.ops.versioned import restore_version

    with pytest.raises(FileNotFoundError, match="no commits"):
        restore_version(spark, table, 1)
    commit_version(spark, _df(spark, 20, "a"), table, stats_cols=["k"])
    commit_version(spark, _df(spark, 3, "b"), table)
    restore_version(spark, table, 1)
    # life goes on: a keyed upsert against the restored snapshot prunes
    # and merges exactly as if v1 were still current
    delta = spark.createDataFrame([(1, "upd")], "k long, tag string")
    commit_upsert(spark, delta, table, ["k"])
    cur = read_version(spark, table)
    assert cur.count() == 20
    assert cur.where("k = 1").first()["tag"] == "upd"
    assert cur.where("tag = 'b'").count() == 0


def test_shallow_clone_zero_copy_reads_and_metadata(spark, table, tmp_path):
    """CLONE parity: the clone is a manifest referencing the source's
    files by absolute path — zero bytes copied, immediately readable,
    with row counts and stats riding along (metadata-only COUNT and
    stats-pruned scans work on the clone from the first second)."""
    from otus_cpp_11_spark.ops.versioned import (
        clone_version, metadata_count, scan_version,
    )

    commit_version(
        spark, _df(spark, 100, "src").repartitionByRange(4, "k"), table,
        stats_cols=["k"],
    )
    dst = str(tmp_path / "clone")
    v = clone_version(spark, table, dst, meta={"who": "test"})
    assert v == 1
    # zero copy: the clone has NO data dir of its own
    assert not os.path.exists(dst + "/_data")
    hdr, files = read_manifest(spark, dst, 1)
    assert hdr["op"] == "clone"
    assert hdr["cloned_from"] == {"table": table, "version": 1}
    assert hdr["who"] == "test"
    assert all(f.startswith("/") for f in files)
    got = read_version(spark, dst)
    assert got.count() == 100
    assert got.select("tag").distinct().first()[0] == "src"
    assert metadata_count(spark, dst, strict=True) == 100
    # carried stats prune: a 1-file range scan skips the other 3 files
    _, acct = scan_version(spark, dst, {"k": (0, 10)})
    assert acct["files_total"] == 4 and acct["files_scanned"] < 4


def test_clone_diverges_and_weans_off_source(spark, table, tmp_path):
    """Writes to the clone land in ITS OWN _data dir; an upsert rewrites
    only the touched source files into clone-local replacements, the
    source is never modified, and compaction localizes the rest."""
    from otus_cpp_11_spark.ops.versioned import clone_version, commit_compaction

    commit_version(
        spark, _df(spark, 100, "src").repartitionByRange(4, "k"), table,
        stats_cols=["k"],
    )
    src_bytes = _table_bytes(spark, table)
    dst = str(tmp_path / "clone")
    clone_version(spark, table, dst)
    delta = spark.createDataFrame([(3, "upd")], "k long, tag string")
    commit_upsert(spark, delta, table=dst, keys=["k"])
    hdr2, files2 = read_manifest(spark, dst, 2)
    foreign = [f for f in files2 if f.startswith("/")]
    local = [f for f in files2 if not f.startswith("/")]
    # pruning held across the clone boundary: 3 source files carried by
    # reference, only the k=3 file rewritten locally
    assert len(foreign) == 3 and len(local) >= 1
    assert hdr2["upsert_io"]["touched"] == 1
    cur = read_version(spark, dst)
    assert cur.count() == 100
    assert cur.where("k = 3").first()["tag"] == "upd"
    # the source is untouched: same bytes, same content
    assert _table_bytes(spark, table) == src_bytes
    assert read_version(spark, table).where("tag = 'upd'").count() == 0
    # OPTIMIZE localizes: after compaction no foreign references remain
    commit_compaction(spark, dst, 1000, ["k"])
    _, files3 = read_manifest(spark, dst, 3)
    assert all(not f.startswith("/") for f in files3)
    assert read_version(spark, dst).count() == 100


def test_clone_vacuum_never_deletes_source_files(spark, table, tmp_path):
    """The clone's vacuum reclaims only clone-local files; by-reference
    source files are the SOURCE's to vacuum (Delta's exact contract)."""
    from otus_cpp_11_spark.ops.versioned import clone_version

    commit_version(spark, _df(spark, 50, "src"), table)
    dst = str(tmp_path / "clone")
    clone_version(spark, table, dst)
    commit_append(spark, _df(spark, 5, "d1"), dst)
    commit_append(spark, _df(spark, 5, "d2"), dst)
    removed = vacuum_versions(spark, dst, keep_last=1, drop_uncommitted=True)
    assert removed == [1, 2]
    # clone still reads (v3 references the source files), source intact
    assert read_version(spark, dst).count() == 60
    assert read_version(spark, table).count() == 50
    # and the source's own vacuum still behaves normally
    assert vacuum_versions(spark, table, keep_last=1) == []


def test_table_history_describes_the_whole_lifecycle(spark, table):
    from otus_cpp_11_spark.ops.versioned import restore_version, table_history

    commit_version(spark, _df(spark, 10, "a"), table)
    commit_append(spark, _df(spark, 5, "b"), table, meta={"batch": 7})
    restore_version(spark, table, 1)
    h = table_history(spark, table).collect()
    assert [r["version"] for r in h] == [3, 2, 1]  # newest first
    assert [r["op"] for r in h] == ["restore", "append", "full"]
    assert h[0]["parent"] == 2 and h[2]["parent"] is None
    assert [r["n_rows"] for r in h] == [10, 15, 10]
    assert json.loads(h[0]["operation_metrics"])["restored_from"] == 1
    assert json.loads(h[1]["meta"]) == {"batch": 7}


def test_commit_delete_rewrites_only_matching_files(spark, table):
    """DELETE FROM ... WHERE as a commit: manifest-stats bounds dismiss
    disjoint files, the exact probe narrows to files physically holding
    a match, only those are rewritten (minus the rows); a no-match
    delete is an O(1) no-op with no version churn."""
    from otus_cpp_11_spark.ops.versioned import commit_delete, metadata_count

    commit_version(
        spark, _df(spark, 100, "a").repartitionByRange(4, "k"), table,
        stats_cols=["k"],
    )
    _, files1 = read_manifest(spark, table, 1)
    v2 = commit_delete(
        spark, table, "k >= 95", bounds={"k": (95, 10**9)}
    )
    hdr, files2 = read_manifest(spark, table, v2)
    assert hdr["op"] == "delete"
    # bounds pruned to the one top-range file; 3 files carried verbatim
    assert hdr["delete_io"]["candidates"] == 1
    assert hdr["delete_io"]["touched"] == 1
    assert len(set(files1) & set(files2)) == 3
    cur = read_version(spark, table)
    assert cur.count() == 95 and cur.agg(F.max("k")).first()[0] == 94
    assert metadata_count(spark, table, strict=True) == 95
    # time travel still shows the pre-delete rows (GDPR: vacuum to forget)
    assert read_version(spark, table, 1).count() == 100
    # no-match delete: no-op, same version
    assert commit_delete(spark, table, "k > 10000") == v2
    assert current_version(spark, table) == v2


def test_commit_update_where_applies_old_row_semantics(spark, table):
    """UPDATE ... SET a=b, b=a WHERE: every RHS evaluates against the
    OLD row (the classic swap works); untouched files carry by
    reference; NULL-condition rows are not matches."""
    from otus_cpp_11_spark.ops.versioned import commit_update

    df = spark.createDataFrame(
        [(1, 10, 100), (2, 20, 200), (3, None, 300), (4, 40, 400)],
        "k long, a long, b long",
    ).repartitionByRange(2, "k")
    commit_version(spark, df, table, stats_cols=["k"])
    v2 = commit_update(
        spark, table, "a >= 20", {"a": "b", "b": "a"},
    )
    hdr, _ = read_manifest(spark, table, v2)
    assert hdr["op"] == "update" and hdr["update_io"]["prev_files"] == 2
    got = {r["k"]: (r["a"], r["b"]) for r in read_version(spark, table).collect()}
    assert got == {
        1: (10, 100),        # unmatched: untouched
        2: (200, 20),        # swapped against the OLD row
        3: (None, 300),      # NULL condition -> not a match
        4: (400, 40),
    }
    # schema drift refused: assignment may not change a column's type
    with pytest.raises(ValueError, match="schema mismatch"):
        commit_update(spark, table, "k = 1", {"a": "cast(a as double)"})


def test_clone_readable_through_connector_and_relative_src(spark, table):
    """Review fixes: the versioned_table connector resolves a clone's
    absolute manifest entries (batch face), and cloning from a RELATIVE
    source root records anchored absolute references — never entries
    that would resolve against the clone's own root."""
    import os as _os

    from otus_cpp_11_spark.ops.versioned import clone_version
    from otus_cpp_11_spark.sources import register_versioned_table_source

    register_versioned_table_source(spark)
    commit_version(spark, _df(spark, 40, "src"), table)
    dst = table + "_clone"
    rel_src = _os.path.relpath(table)  # exercise the relative-root path
    clone_version(spark, rel_src, dst)
    _, files = read_manifest(spark, dst, 1)
    assert all(f.startswith("/") for f in files)  # anchored, not relative
    got = (
        spark.read.format("versioned_table").option("path", dst).load()
    )
    assert got.count() == 40
    assert got.schema.simpleString() == read_version(spark, table).schema.simpleString()


def test_update_unknown_column_raises_even_when_nothing_matches(spark, table):
    from otus_cpp_11_spark.ops.versioned import commit_update

    commit_version(spark, _df(spark, 5, "a"), table)
    with pytest.raises(ValueError, match="assignment to column"):
        commit_update(spark, table, "k > 10**9", {"taag": "'x'"})
    assert current_version(spark, table) == 1  # nothing committed


def test_delete_emptying_a_file_leaves_no_placeholder(spark, table):
    """A delete that removes EVERY row of the touched files references
    nothing new (no schema-only file chained into descendant manifests);
    a delete-everything table reads back empty with its schema."""
    from otus_cpp_11_spark.ops.versioned import commit_delete, metadata_count

    commit_version(
        spark, _df(spark, 100, "a").repartitionByRange(4, "k"), table,
        stats_cols=["k"],
    )
    _, files1 = read_manifest(spark, table, 1)
    v2 = commit_delete(spark, table, "k >= 75")  # empties the top file
    _, files2 = read_manifest(spark, table, v2)
    assert set(files2) < set(files1)  # carried subset, nothing new
    assert read_version(spark, table).count() == 75
    assert metadata_count(spark, table, strict=True) == 75
    v3 = commit_delete(spark, table, "k >= 0")  # delete EVERYTHING
    _, files3 = read_manifest(spark, table, v3)
    assert files3 == []
    got = read_version(spark, table)
    assert got.count() == 0
    assert got.schema.simpleString() == "struct<k:bigint,tag:string>"
    assert metadata_count(spark, table, strict=True) == 0


def test_check_constraints_enforced_on_new_rows(spark, table):
    """Delta CHECK-constraint parity: add_constraint validates existing
    data (one scan), later commits enforce on their NEW files only, a
    violating commit commits NOTHING, NULL evaluations pass (SQL
    standard), and drop_constraint lifts the gate."""
    from otus_cpp_11_spark.ops.versioned import (
        ConstraintViolation,
        add_constraint,
        drop_constraint,
        table_constraints,
    )

    commit_version(spark, _df(spark, 10, "a"), table)
    v2 = add_constraint(spark, table, "k_nonneg", "k >= 0")
    assert version_header(spark, table, v2)["op"] == "add_constraint"
    assert table_constraints(spark, table) == {"k_nonneg": "k >= 0"}
    # a violating append commits nothing
    bad = spark.createDataFrame([(-1, "x")], "k long, tag string")
    with pytest.raises(ConstraintViolation, match="k_nonneg"):
        commit_append(spark, bad, table)
    assert current_version(spark, table) == v2
    assert read_version(spark, table).count() == 10
    # a clean append passes and CARRIES the constraint forward
    commit_append(spark, _df(spark, 5, "b"), table)
    assert table_constraints(spark, table) == {"k_nonneg": "k >= 0"}
    # NULL passes: SQL-standard CHECK (tag length unknown != false)
    add_constraint(spark, table, "tag_len", "length(tag) > 0")
    nulltag = spark.createDataFrame([(99, None)], "k long, tag string")
    commit_append(spark, nulltag, table)
    # adding a constraint the EXISTING data violates is refused
    with pytest.raises(ConstraintViolation, match="existing row"):
        add_constraint(spark, table, "k_small", "k < 50")
    # drop lifts the gate; dropping the unknown raises
    drop_constraint(spark, table, "k_nonneg")
    commit_append(spark, bad, table)
    assert read_version(spark, table).where("k = -1").count() == 1
    with pytest.raises(KeyError, match="no constraint"):
        drop_constraint(spark, table, "k_nonneg")


def test_constraints_travel_with_clone_and_gate_dml(spark, table, tmp_path):
    from otus_cpp_11_spark.ops.versioned import (
        ConstraintViolation,
        add_constraint,
        clone_version,
        commit_update,
        table_constraints,
    )

    commit_version(spark, _df(spark, 10, "a"), table)
    add_constraint(spark, table, "k_nonneg", "k >= 0")
    dst = str(tmp_path / "clone")
    clone_version(spark, table, dst)  # zero-copy, no revalidation scan
    assert table_constraints(spark, dst) == {"k_nonneg": "k >= 0"}
    bad = spark.createDataFrame([(-7, "x")], "k long, tag string")
    with pytest.raises(ConstraintViolation, match="k_nonneg"):
        commit_append(spark, bad, dst)
    # UPDATE rewrites files -> its output is 'new rows' and is gated too
    with pytest.raises(ConstraintViolation, match="k_nonneg"):
        commit_update(spark, dst, "k = 3", {"k": "-k"})
    assert read_version(spark, dst).where("k < 0").count() == 0


def test_timestamp_time_travel(spark, table):
    import time

    from otus_cpp_11_spark.ops.versioned import version_at_timestamp

    commit_version(spark, _df(spark, 10, "a"), table)
    time.sleep(0.3)
    t_mid = time.time()
    time.sleep(0.3)
    commit_version(spark, _df(spark, 99, "b"), table)
    assert version_at_timestamp(spark, table, t_mid) == 1
    assert read_version(spark, table, timestamp=t_mid).count() == 10
    assert read_version(spark, table, timestamp=time.time()).count() == 99
    with pytest.raises(FileNotFoundError, match="at or before"):
        version_at_timestamp(spark, table, t_mid - 3600)
    with pytest.raises(ValueError, match="mutually exclusive"):
        read_version(spark, table, version=1, timestamp=t_mid)
