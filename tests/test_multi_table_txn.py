"""Multi-table transactions (r10 verdict item 8): both-or-neither
visibility across tables via slot claims through the normal marker
rename plus ONE atomic final record as the single arbiter; readers
resolve in-doubt claims (poll, then force-abort), so a crashed
coordinator can never leave one table committed and the other lost.

Reference parity note: the reference engine has no transactions; this
closes the last lakehouse-parity gap 100 TB pipelines actually use
(corpus + datacard, index + base table committing together)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

import otus_cpp_11_spark.ops.versioned as V
from otus_cpp_11_spark.ops.versioned import (
    CommitConflict,
    commit_append,
    commit_transaction,
    commit_version,
    current_version,
    read_change_feed,
    read_version,
    version_at_or_after_timestamp,
    version_at_timestamp,
    version_header,
)


@pytest.fixture()
def roots(tmp_path):
    return (
        str(tmp_path / "corpus"),
        str(tmp_path / "datacard"),
        str(tmp_path / "txns"),
    )


def _df(spark, lo, hi):
    return spark.range(lo, hi).select(F.col("id").alias("k"))


@pytest.fixture(autouse=True)
def _fast_grace(monkeypatch):
    # readers force-abort in-doubt claims immediately: the tests BELOW
    # simulate crashed coordinators, and a 2 s poll per observation
    # would dominate the suite
    monkeypatch.setattr(V, "_TXN_INDOUBT_WAIT_SECS", 0.0)
    V._TXN_FINAL_CACHE.clear()
    V._TXN_SEAL_CACHE.clear()


def _wipe_txn_artifacts(troot, *tables):
    """Simulate a HARD coordinator crash after the claims: no final
    record survives AND no table-side seal was written (the r12 seal is
    written on the coordinator's graceful abort path, which a hard
    crash skips). Clears the in-process caches too, so resolution
    restarts from durable state only."""
    import glob
    import os

    for f in glob.glob(f"{troot}/txn-*.final"):
        os.remove(f)
    for t in tables:
        for f in glob.glob(f"{t}/_commits/*.txnseal"):
            os.remove(f)
    V._TXN_FINAL_CACHE.clear()
    V._TXN_SEAL_CACHE.clear()


def test_happy_path_commits_both(spark, roots):
    a, b, troot = roots
    commit_version(spark, _df(spark, 0, 10).coalesce(1), a)
    commit_version(spark, _df(spark, 0, 5).coalesce(1), b)
    got = commit_transaction(
        spark,
        [(a, _df(spark, 100, 110).coalesce(1)), (b, _df(spark, 100, 103).coalesce(1))],
        troot,
    )
    assert got == {a: 2, b: 2}
    assert read_version(spark, a).count() == 20
    assert read_version(spark, b).count() == 8
    ha = version_header(spark, a, 2)
    hb = version_header(spark, b, 2)
    assert ha["txn"]["id"] == hb["txn"]["id"]  # one transaction, two tables
    # the committed claim feeds its inserts like any append
    feed = read_change_feed(spark, a, 2, 2)
    assert feed.count() == 10
    assert {r["_change_type"] for r in feed.collect()} == {"insert"}


def test_first_commit_via_transaction(spark, roots):
    a, b, troot = roots
    got = commit_transaction(
        spark,
        [(a, _df(spark, 0, 7).coalesce(1)), (b, _df(spark, 0, 3).coalesce(1))],
        troot,
    )
    assert got == {a: 1, b: 1}
    assert read_version(spark, a).count() == 7
    assert read_version(spark, b).count() == 3


def _crash_before_final(spark, monkeypatch, a, b, troot):
    """Drive a coordinator that claims BOTH slots and dies before the
    final record: monkeypatch the decide step to crash on 'commit'."""
    real = V._txn_decide

    def dying(spark_, root, txn_id, want):
        if want == "commit":
            raise RuntimeError("simulated coordinator crash before final")
        return real(spark_, root, txn_id, want)

    monkeypatch.setattr(V, "_txn_decide", dying)
    with pytest.raises(RuntimeError, match="simulated coordinator crash"):
        commit_transaction(
            spark,
            [
                (a, _df(spark, 100, 110).coalesce(1)),
                (b, _df(spark, 100, 103).coalesce(1)),
            ],
            troot,
        )
    monkeypatch.setattr(V, "_txn_decide", real)


def test_crash_before_final_aborts_both(spark, roots, monkeypatch):
    """Both slots claimed, coordinator dead, no final record: the FIRST
    reader of either table force-aborts the transaction; neither table
    ever shows the new rows, and both keep working."""
    a, b, troot = roots
    commit_version(spark, _df(spark, 0, 10).coalesce(1), a)
    commit_version(spark, _df(spark, 0, 5).coalesce(1), b)
    _crash_before_final(spark, monkeypatch, a, b, troot)
    # the dying coordinator wrote an abort (and seals) on its way out
    # (the except branch) — wipe them to simulate a HARD crash, then
    # let readers decide
    _wipe_txn_artifacts(troot, a, b)
    # both slots ARE claimed (version number consumed)...
    assert current_version(spark, a) == 2
    assert current_version(spark, b) == 2
    # ...but reading either resolves the txn to ABORT: parent content
    assert read_version(spark, a).count() == 10
    assert read_version(spark, b).count() == 5
    assert version_header(spark, a, 2)["txn_aborted"] is True
    # the aborted version feeds nothing
    assert read_change_feed(spark, a, 2, 2).count() == 0
    # and the tables stay writable: next append takes the next slot
    commit_append(spark, _df(spark, 200, 205).coalesce(1), a)
    assert read_version(spark, a).count() == 15


def test_resolution_is_decided_once_and_shared(spark, roots, monkeypatch):
    """One arbiter: after table A's reader force-aborts, table B's
    reader (and a late coordinator finalize) must see the SAME verdict."""
    a, b, troot = roots
    commit_version(spark, _df(spark, 0, 10).coalesce(1), a)
    commit_version(spark, _df(spark, 0, 5).coalesce(1), b)
    _crash_before_final(spark, monkeypatch, a, b, troot)
    _wipe_txn_artifacts(troot, a, b)
    txn = version_header(spark, a, 2)["txn"]  # resolves -> abort record
    assert V._txn_read_final(spark, troot, txn["id"]) == "abort"
    # a late coordinator trying to finalize now LOSES to the abort
    assert V._txn_decide(spark, troot, txn["id"], "commit") == "abort"
    assert read_version(spark, b).count() == 5


def test_preaborted_txn_raises_conflict_and_commits_nothing(
    spark, roots, monkeypatch
):
    """A concurrent resolver aborting the txn before its final record
    lands: the coordinator raises CommitConflict and neither table
    shows the rows (the claims replay as no-ops)."""
    import uuid as uuid_mod

    a, b, troot = roots
    commit_version(spark, _df(spark, 0, 10).coalesce(1), a)
    commit_version(spark, _df(spark, 0, 5).coalesce(1), b)
    fixed = "feedfacefeedfacefeedfacefeedface"
    V._txn_decide(spark, troot, fixed, "abort")  # the concurrent resolver

    calls = {"n": 0}
    real_uuid4 = uuid_mod.uuid4

    class _Fixed:
        hex = fixed

    def fake_uuid4():
        calls["n"] += 1
        return _Fixed() if calls["n"] == 1 else real_uuid4()

    monkeypatch.setattr(V.uuid, "uuid4", fake_uuid4)
    with pytest.raises(CommitConflict, match="aborted"):
        commit_transaction(
            spark,
            [
                (a, _df(spark, 100, 110).coalesce(1)),
                (b, _df(spark, 100, 103).coalesce(1)),
            ],
            troot,
        )
    monkeypatch.setattr(V.uuid, "uuid4", real_uuid4)
    assert read_version(spark, a).count() == 10
    assert read_version(spark, b).count() == 5


def test_slot_conflict_aborts_whole_txn(spark, roots, monkeypatch):
    """A concurrent normal append steals table B's slot between prepare
    and claim: the transaction aborts WHOLE — table A (whose slot claim
    landed first) must not keep its rows."""
    a, b, troot = roots
    commit_version(spark, _df(spark, 0, 10).coalesce(1), a)
    commit_version(spark, _df(spark, 0, 5).coalesce(1), b)

    real_claim = V._claim_commit
    state = {"stolen": False}

    def stealing_claim(spark_, table, version, content):
        if table == b and not state["stolen"]:
            state["stolen"] = True
            monkeypatch.setattr(V, "_claim_commit", real_claim)
            commit_append(spark_, _df(spark_, 900, 902).coalesce(1), b)
            monkeypatch.setattr(V, "_claim_commit", stealing_claim)
        return real_claim(spark_, table, version, content)

    monkeypatch.setattr(V, "_claim_commit", stealing_claim)
    with pytest.raises(CommitConflict):
        commit_transaction(
            spark,
            [
                (a, _df(spark, 100, 110).coalesce(1)),
                (b, _df(spark, 100, 103).coalesce(1)),
            ],
            troot,
        )
    monkeypatch.setattr(V, "_claim_commit", real_claim)
    # neither table shows the txn's rows; B shows the stealer's append
    assert read_version(spark, a).count() == 10
    assert sorted(r["k"] for r in read_version(spark, b).collect()) == (
        list(range(5)) + [900, 901]
    )


def test_connector_faces_respect_txn_state(spark, roots, monkeypatch):
    """The versioned_table connector (batch + stream) reads a committed
    txn claim normally, passes over an aborted one, and fails loudly on
    an in-doubt one (a reader-only face cannot decide)."""
    from otus_cpp_11_spark.sources import register_versioned_table_source

    a, b, troot = roots
    commit_version(spark, _df(spark, 0, 10).coalesce(1), a)
    commit_version(spark, _df(spark, 0, 5).coalesce(1), b)
    commit_transaction(
        spark,
        [(a, _df(spark, 100, 105).coalesce(1)), (b, _df(spark, 100, 102).coalesce(1))],
        troot,
    )
    register_versioned_table_source(spark)
    via = spark.read.format("versioned_table").option("path", a).load()
    assert via.count() == 15  # committed claim served
    # aborted claim: crash a second txn, force-abort, connector skips it
    _crash_before_final(spark, monkeypatch, a, b, troot)
    assert read_version(spark, a).count() == 15  # engine reader resolves
    via2 = spark.read.format("versioned_table").option("path", a).load()
    assert via2.count() == 15
    name = "txn_stream_sink"
    (
        spark.readStream.format("versioned_table")
        .option("path", a)
        .load()
        .writeStream.format("memory")
        .queryName(name)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )
    assert spark.table(name).count() == 15  # aborted claim streamed nothing


def test_connector_fails_loudly_on_in_doubt(spark, roots, monkeypatch):
    from otus_cpp_11_spark.sources import register_versioned_table_source

    a, b, troot = roots
    commit_version(spark, _df(spark, 0, 10).coalesce(1), a)
    commit_version(spark, _df(spark, 0, 5).coalesce(1), b)
    _crash_before_final(spark, monkeypatch, a, b, troot)
    import time

    _wipe_txn_artifacts(troot, a, b)
    monkeypatch.setattr(time, "monotonic", time.monotonic)  # keep real
    # shrink the connector's poll window by pre-expiring: it polls up to
    # ~2 s then raises — acceptable in one test
    register_versioned_table_source(spark)
    with pytest.raises(Exception, match="IN-DOUBT"):
        spark.read.format("versioned_table").option("path", a).load().count()


def test_timestamp_lookup_never_decides_an_in_doubt_claim(
    spark, roots, monkeypatch
):
    """Picking a version by timestamp reads raw headers only, in BOTH
    directions: an in-doubt claim's ``commit_ts`` names its slot, and a
    lookup must not force-abort the transaction (no final record, no
    table-side seal written) — only a real snapshot read decides it."""
    import glob

    a, b, troot = roots
    commit_version(spark, _df(spark, 0, 10).coalesce(1), a)
    commit_version(spark, _df(spark, 0, 5).coalesce(1), b)
    _crash_before_final(spark, monkeypatch, a, b, troot)
    _wipe_txn_artifacts(troot, a, b)
    cts = V._read_commit_header_raw(spark, a, "00000002")["commit_ts"]
    assert version_at_timestamp(spark, a, cts) == 2
    assert version_at_or_after_timestamp(spark, a, cts) == 2
    assert not glob.glob(f"{troot}/txn-*.final")
    assert not glob.glob(f"{a}/_commits/*.txnseal")


def test_duplicate_table_rejected(spark, roots):
    a, _b, troot = roots
    with pytest.raises(ValueError, match="twice"):
        commit_transaction(
            spark,
            [(a, _df(spark, 0, 1)), (a, _df(spark, 1, 2))],
            troot,
        )


_TXN_WORKER = """
import os, sys, time
sys.path.insert(0, {repo!r})
from pyspark.sql import SparkSession, functions as F
from otus_cpp_11_spark.ops.versioned import CommitConflict, commit_transaction

ta, tb, troot, role, gate = (
    sys.argv[1], sys.argv[2], sys.argv[3], sys.argv[4], sys.argv[5]
)
spark = (
    SparkSession.builder.master("local[2]")
    .appName(f"txn-{{role}}")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
)
while not os.path.exists(gate):
    time.sleep(0.05)

def df(lo, hi, tag):
    return spark.range(lo, hi).select(
        F.col("id").alias("k"), F.lit(tag).alias("tag")
    )

base = 1000 if role == "x" else 2000
done = 0
attempts = 0
while done < 3 and attempts < 60:
    attempts += 1
    lo = base + 10 * done
    try:
        commit_transaction(
            spark,
            [(ta, df(lo, lo + 10, role).coalesce(1)),
             (tb, df(lo, lo + 5, role).coalesce(1))],
            troot,
        )
        done += 1
    except CommitConflict:
        time.sleep(0.1)  # lost a slot or the arbiter: retry whole txn
spark.stop()
print("DONE", role, done, attempts)
"""


def test_two_processes_race_transactions(spark, tmp_path, monkeypatch):
    """Two SEPARATE Spark sessions race multi-table transactions over
    the SAME two tables: every committed transaction must be atomic
    across both tables (each version of A pairs with the same txn's
    version of B or an aborted no-op in both), and the final state must
    equal the union of exactly the transactions the workers report as
    committed — a torn transaction would break the pairing invariant."""
    import os
    import subprocess
    import sys as _sys
    import time

    import re

    a = str(tmp_path / "A")
    b = str(tmp_path / "B")
    troot = str(tmp_path / "txns")
    base = spark.range(10).select(
        F.col("id").alias("k"), F.lit("base").alias("tag")
    )
    commit_version(spark, base.coalesce(1), a)
    commit_version(spark, base.coalesce(1), b)
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    script = tmp_path / "txn_worker.py"
    script.write_text(_TXN_WORKER.format(repo=repo))
    gate = str(tmp_path / "go")
    procs = [
        subprocess.Popen(
            [_sys.executable, str(script), a, b, troot, role, gate],
            stdout=subprocess.PIPE,
            stderr=subprocess.PIPE,
            env=dict(os.environ),
        )
        for role in ("x", "y")
    ]
    time.sleep(20)  # both JVMs up: the race is real
    open(gate, "w").close()
    committed = {}
    for p, role in zip(procs, ("x", "y")):
        out, err = p.communicate(timeout=420)
        assert p.returncode == 0, f"worker failed: {err.decode()[-2000:]}"
        m = re.search(rf"DONE {role} (\d+)", out.decode())
        committed[role] = int(m.group(1))
    assert committed["x"] == 3 and committed["y"] == 3, committed
    # atomic pairing: every committed txn added 10 rows to A AND 5 to B
    ga = read_version(spark, a)
    gb = read_version(spark, b)
    for role in ("x", "y"):
        na = ga.where(F.col("tag") == role).count()
        nb = gb.where(F.col("tag") == role).count()
        assert na == committed[role] * 10, (role, na)
        assert nb == committed[role] * 5, (role, nb)
    # txn ids pair across tables: committed versions of A and B carry
    # the SAME id set (both-or-neither held under the race)
    from otus_cpp_11_spark.ops.versioned import list_versions

    def txn_ids(t):
        ids = set()
        for v in list_versions(spark, t):
            h = version_header(spark, t, v)
            if h.get("txn") and not h.get("txn_aborted"):
                ids.add(h["txn"]["id"])
        return ids

    assert txn_ids(a) == txn_ids(b)
    assert len(txn_ids(a)) == 6


def test_vacuum_reclaims_aborted_txn_data(spark, roots, monkeypatch):
    """An aborted transaction's staged data files are referenced by no
    RESOLVED manifest (the claim replays as a no-op), so
    vacuum(drop_uncommitted=True) reclaims them — aborted transactions
    cannot leak storage forever."""
    import glob
    import os

    from otus_cpp_11_spark.ops.versioned import vacuum_versions

    a, b, troot = roots
    commit_version(spark, _df(spark, 0, 10).coalesce(1), a)
    commit_version(spark, _df(spark, 0, 5).coalesce(1), b)
    _crash_before_final(spark, monkeypatch, a, b, troot)
    # resolve to abort via a read (the crashed coordinator's abort
    # record stands in for the reader's force-abort here)
    assert read_version(spark, a).count() == 10

    def data_files(t):
        return {
            p
            for p in glob.glob(f"{t}/_data/**/*.parquet", recursive=True)
        }

    # data dirs are c{version:08d}-{token}: the aborted claim staged v2
    before_a, before_b = data_files(a), data_files(b)
    assert any("/c00000002-" in p for p in before_a), before_a
    assert any("/c00000002-" in p for p in before_b), before_b
    vacuum_versions(spark, a, keep_last=5, drop_uncommitted=True,
                    uncommitted_grace_s=0.0)
    vacuum_versions(spark, b, keep_last=5, drop_uncommitted=True,
                    uncommitted_grace_s=0.0)
    after_a, after_b = data_files(a), data_files(b)
    assert not any("/c00000002-" in p for p in after_a), after_a
    assert not any("/c00000002-" in p for p in after_b), after_b
    # live content untouched
    assert read_version(spark, a).count() == 10
    assert read_version(spark, b).count() == 5
