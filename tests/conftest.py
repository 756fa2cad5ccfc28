"""Shared pytest fixtures: one SparkSession per test session (JVM spin-up is
~10 s; never per-test), testdata paths, and small canonical line fixtures
mirroring FIXTURES.md §A/§C."""

from __future__ import annotations

import os
from pathlib import Path

import pytest

from otus_cpp_11_spark.session import get_spark

SF_SMOKE = "/root/testdata/sf0.001"
SF_CORRECTNESS = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    os.environ.setdefault("SPARK_GRAFT_CPUS", "4")
    s = get_spark(app_name="otus-cpp-11-spark-tests", shuffle_partitions=4)
    yield s
    s.stop()


# FIXTURES.md §A.1 — exact replica of /root/reference/test.txt: the 69
# three-digit strings 111,121,...,391,411,...,801 (401 absent).
NUMBERS69 = [str(n) for n in range(111, 802, 10) if n != 401]

REFERENCE_TEST_TXT = Path("/root/reference/test.txt")
REPLICA_TEST_TXT = Path(__file__).resolve().parent / "fixtures" / "test.txt"


@pytest.fixture(scope="session")
def golden_test_txt():
    """Path of the reference's bundled test.txt: the reference checkout's
    own file when it exists, else the committed byte-exact replica
    tests/fixtures/test.txt (69 lines, 275 bytes, no final newline —
    SURVEY.md §6). A missing or drifted replica fails here, never skips."""
    replica = REPLICA_TEST_TXT.read_bytes()
    assert replica == "\n".join(NUMBERS69).encode(), "replica drifted from NUMBERS69"
    assert len(replica) == 275, f"replica is {len(replica)} bytes, not 275"
    if REFERENCE_TEST_TXT.exists():
        assert REFERENCE_TEST_TXT.read_bytes() == replica, (
            "replica differs from the reference's test.txt"
        )
        return str(REFERENCE_TEST_TXT)
    return str(REPLICA_TEST_TXT)


@pytest.fixture(scope="session")
def lines_numbers69(spark):
    return spark.createDataFrame([(v,) for v in NUMBERS69], ["value"])


@pytest.fixture(scope="session")
def lines_dups(spark):
    return spark.createDataFrame(
        [("alpha",), ("alpha",), ("beta",), ("gamma",)], ["value"]
    )


@pytest.fixture(scope="session")
def lines_trivial(spark):
    return spark.createDataFrame([("apple",), ("banana",), ("cherry",)], ["value"])


@pytest.fixture(scope="session")
def lines_edge(spark):
    # empty line, single char, short/long shared-prefix pair, UTF-8 multibyte
    return spark.createDataFrame(
        [("",), ("a",), ("ab",), ("abc",), ("déjà-vu",), ("déjà-lu",)], ["value"]
    )
