"""The Python-worker transport ``get_spark`` sets up: Unix domain sockets
in a private per-process directory whose path stays under Spark's length
limit whatever the temp dir is, and both Python task kinds (RDD functions
and Arrow batches) running over it."""

from __future__ import annotations

import os
import shutil
import stat
import tempfile

import pyarrow as pa
import pytest

from otus_cpp_11_spark import session


def _mode(path: str) -> int:
    return stat.S_IMODE(os.stat(path).st_mode)


def test_socket_dir_is_short_and_private_under_a_deep_tempdir(tmp_path, monkeypatch):
    deep = tmp_path / ("d" * 40) / ("e" * 40)
    deep.mkdir(parents=True)
    assert len(str(deep)) > 70
    monkeypatch.setattr(tempfile, "tempdir", str(deep))
    monkeypatch.setattr(session, "_SOCKET_DIR", None)
    path = session._socket_dir()
    try:
        assert len(path) < 61
        assert _mode(path) == 0o700
        assert session._socket_dir() == path  # one directory per process
    finally:
        shutil.rmtree(path, ignore_errors=True)


def test_socket_dir_stays_in_a_short_tempdir(tmp_path, monkeypatch):
    short = tempfile.mkdtemp(prefix="t", dir="/tmp")
    monkeypatch.setattr(tempfile, "tempdir", short)
    monkeypatch.setattr(session, "_SOCKET_DIR", None)
    try:
        path = session._socket_dir()
        assert os.path.dirname(path) == short
        assert _mode(path) == 0o700
    finally:
        shutil.rmtree(short, ignore_errors=True)


def test_session_workers_run_over_unix_sockets(spark):
    conf = spark.sparkContext.getConf()
    assert conf.get("spark.python.unix.domain.socket.enabled") == "true"
    sock_dir = conf.get("spark.python.unix.domain.socket.dir")
    assert sock_dir == session._socket_dir()
    assert _mode(sock_dir) == 0o700
    rdd = spark.sparkContext.parallelize(range(10), 2).map(lambda x: x * x)
    assert rdd.sum() == 285

    def double(batches):
        for b in batches:
            yield pa.RecordBatch.from_arrays([pa.compute.multiply(b.column(0), 2)], ["id"])

    got = spark.range(5).mapInArrow(double, "id long").collect()
    assert sorted(r.id for r in got) == [0, 2, 4, 6, 8]


def test_get_spark_rejects_nonpositive_shuffle_partitions(spark, monkeypatch):
    """Zero shuffle partitions, from the argument or SPARK_GRAFT_SHUFFLE,
    raise ValueError before the builder runs (a fresh session built that
    way hangs; never build one here). The live session keeps its conf."""
    prior = spark.conf.get("spark.sql.shuffle.partitions")
    with pytest.raises(ValueError, match="shuffle_partitions must be >= 1"):
        session.get_spark(shuffle_partitions=0)
    monkeypatch.setenv("SPARK_GRAFT_SHUFFLE", "0")
    with pytest.raises(ValueError, match="shuffle_partitions must be >= 1"):
        session.get_spark()
    assert spark.conf.get("spark.sql.shuffle.partitions") == prior
