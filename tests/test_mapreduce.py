"""Generic MapReduceJob contract tests (SURVEY.md §3.3 acceptance contract +
§2.1 lecture tasks + the reference CLI program end-to-end)."""

from __future__ import annotations

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from otus_cpp_11_spark.mapreduce import (
    MapReduceJob,
    find_min_unique_prefix,
    make_adjacent_dup_reducer,
    make_prefix_mapper,
)

# Exact input vectors from /root/reference/description/MapReduce.cpp:20,46.
# (FIXTURES.md §C.1 quotes expected values 414 / 8; recomputing from the
# reference's own lists gives 438 / 7 — we assert the recomputed truth.)
INTS_SQUARES = [1, 6, 3, 7, 2, 15, 10, 1, 3, 2]  # sum of squares = 438
INTS_ABS = [1, 6, 3, -7, 2, 15, -10, -1, 3, 2, -3, 7, -2, 15, 10]  # 7 unique |x|


def lines_df(spark, values):
    return spark.createDataFrame([(str(v),) for v in values], ["value"])


def _assert_sorted_ranges(parts):
    """The §3.3 shuffle contract on ``glom()`` output: every partition is
    sorted by key, and (range partitioning) every key of a partition is
    below every key of the next non-empty one, so equal keys never
    straddle partitions (O7 align_blocks)."""
    keys = [[k for k, _ in part] for part in parts if part]
    for part in keys:
        assert part == sorted(part)
    for a, b in zip(keys, keys[1:]):
        assert a[-1] < b[0]


class TestReferenceProgram:
    def test_golden_test_txt(self, spark, tmp_path, golden_test_txt):
        """Reference e2e: test.txt → Result = 2; iter1 fails, iter2 passes
        (out/iter{L}/result.txt mirror — SURVEY.md §5 golden). The file is
        /root/reference/test.txt when present, else the committed replica
        tests/fixtures/test.txt."""
        out = str(tmp_path / "out")
        result = find_min_unique_prefix(
            spark, golden_test_txt, mappers=3, reducers=2,
            output_directory=out,
        )
        assert result == 2
        assert (tmp_path / "out/iter1/result.txt").read_text() == "0\n"
        assert (tmp_path / "out/iter2/result.txt").read_text() == "1\n"
        votes = sorted((tmp_path / "out/iter2/reducer").glob("reduce.*.txt"))
        assert len(votes) == 2  # R=2 reducer vote files

    def test_l4_cap_miss_returns_none(self, spark, lines_dups):
        # duplicate full lines: no L succeeds; reference would report the cap
        assert find_min_unique_prefix(spark, lines_dups, max_len=3) is None

    def test_custom_parallelism(self, spark, lines_numbers69):
        assert find_min_unique_prefix(spark, lines_numbers69, mappers=5, reducers=4) == 2


class TestFrameworkContract:
    """The §3.3 guarantees: sorted adjacency, key co-location, M/R honored."""

    def test_reducer_sees_sorted_colocated_keys(self, spark):
        df = lines_df(spark, ["b", "a", "c", "a", "b", "a", "d"])
        job = MapReduceJob(mappers=3, reducers=2)
        job.set_mapper(lambda line: [(line, 1)])
        shuffled = job._shuffled(spark, df)
        assert shuffled.getNumPartitions() == 2
        _assert_sorted_ranges(shuffled.glom().collect())

    def test_mapper_sees_every_line_once(self, spark):
        values = [f"line{i}" for i in range(100)]
        job = MapReduceJob(mappers=7, reducers=3)
        job.set_mapper(lambda line: [(line, 1)])
        counts = job.run_counts(spark, lines_df(spark, values)).collect()
        assert len(counts) == 100
        assert all(r["count"] == 1 for r in counts)

    def test_flatmap_one_to_many(self, spark):
        # mapper is flatMap-shaped (O3): 1 line → N pairs
        job = MapReduceJob(mappers=2, reducers=2)
        job.set_mapper(lambda line: [(c, 1) for c in line])
        counts = {
            r["key"]: r["count"]
            for r in job.run_counts(spark, lines_df(spark, ["aab", "ba"])).collect()
        }
        assert counts == {"a": 3, "b": 2}

    def test_unset_functions_raise(self, spark, lines_trivial):
        job = MapReduceJob()
        with pytest.raises(RuntimeError):
            job.run(spark, lines_trivial)
        job.set_mapper(lambda line: [(line, 1)])
        with pytest.raises(RuntimeError):
            job.run(spark, lines_trivial)

    def test_bad_parallelism_rejected(self):
        with pytest.raises(ValueError):
            MapReduceJob(mappers=0)
        with pytest.raises(ValueError):
            MapReduceJob(reducers=0)


class TestLectureTasks:
    """description/MapReduce.cpp tasks expressed on the generic API
    (SURVEY.md §2.1), FIXTURES.md §C expected values."""

    def test_sum_of_squares(self, spark):
        job = MapReduceJob(mappers=3, reducers=1)
        job.set_mapper(lambda line: [("sum", int(line) ** 2)])
        rows = job.run_counts(spark, lines_df(spark, INTS_SQUARES)).collect()
        assert rows[0]["key"] == "sum" and rows[0]["count"] == 438

    def test_unique_by_abs(self, spark):
        job = MapReduceJob(mappers=3, reducers=2)
        job.set_mapper(lambda line: [(str(abs(int(line))), 1)])
        rows = job.run_counts(spark, lines_df(spark, INTS_ABS)).collect()
        assert len(rows) == 7

    def test_word_count(self, spark):
        text = "the quick brown fox jumps over the lazy dog the end"
        job = MapReduceJob(mappers=2, reducers=2)
        job.set_mapper(
            lambda line: [(w, 1) for w in line.lower().split() if w.isalpha()]
        )
        counts = {
            r["key"]: r["count"]
            for r in job.run_counts(spark, lines_df(spark, [text])).collect()
        }
        assert counts["the"] == 3
        assert counts["fox"] == 1

    def test_stateful_vote_reducer(self, spark):
        # count>1 branch of the client reducer (dead in the reference,
        # SURVEY.md §2.3.3 — live here because run_counts can pre-combine)
        df = lines_df(spark, ["x", "y", "z"])
        job = MapReduceJob(mappers=2, reducers=2)
        job.set_mapper(lambda line: [(line, 2)])  # emit count=2 directly
        job.set_reducer(make_adjacent_dup_reducer())
        assert job.run(spark, df).ok is False  # every pair has count>1

    def test_prefix_mapper_factory(self):
        assert make_prefix_mapper(2)("hello") == [("he", 1)]
        assert make_prefix_mapper(9)("abc") == [("abc", 1)]


class TestCombiner:
    """The combine phase the reference spec reserves room for
    (description/homework/client.cpp:39-44): map-side merge of equal keys
    makes the reducer's count>1 branch live."""

    def test_combiner_activates_count_branch(self, spark):
        # 'aa' and 'ab' share prefix 'a' and land in ONE mapper partition,
        # so the combiner emits ('a', 2) and the dup verdict comes from
        # count>1, not sorted adjacency
        df = spark.createDataFrame([("aa",), ("ab",), ("zz",)], ["value"])
        job = MapReduceJob(mappers=1, reducers=1)
        job.set_mapper(make_prefix_mapper(1))
        job.set_combiner()
        job.set_reducer(make_adjacent_dup_reducer())
        assert job.run(spark, df).ok is False

    def test_combined_verdict_matches_uncombined(self, spark, lines_numbers69):
        for length, want in ((1, False), (2, True)):
            plain = MapReduceJob(mappers=3, reducers=2)
            plain.set_mapper(make_prefix_mapper(length))
            plain.set_reducer(make_adjacent_dup_reducer())
            combined = MapReduceJob(mappers=3, reducers=2)
            combined.set_mapper(make_prefix_mapper(length))
            combined.set_combiner()
            combined.set_reducer(make_adjacent_dup_reducer())
            assert plain.run(spark, lines_numbers69).ok is want
            assert combined.run(spark, lines_numbers69).ok is want


class TestRangeShuffle:
    """The shuffle behind ``run``: one sketch job picks R-1 range bounds,
    then ``repartitionAndSortWithinPartitions`` cuts R sorted ranges."""

    @given(
        keys=st.lists(st.text(alphabet="abé𝄞", max_size=3), max_size=40),
        mappers=st.integers(1, 5),
        reducers=st.integers(1, 5),
    )
    @settings(
        max_examples=8,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    def test_partitions_are_sorted_disjoint_ranges(self, spark, keys, mappers, reducers):
        job = MapReduceJob(mappers=mappers, reducers=reducers)
        job.set_mapper(lambda line: [(line, 1)])
        df = spark.createDataFrame([(k,) for k in keys], "value string")
        parts = job._shuffled(spark, df).glom().collect()
        assert len(parts) == reducers
        _assert_sorted_ranges(parts)
        assert [p for part in parts for p in part] == sorted((k, 1) for k in keys)

    def test_empty_inputs_vote_true(self, spark, tmp_path):
        empty = tmp_path / "empty.txt"
        empty.write_text("")
        for source in (str(empty), spark.createDataFrame([], "value string")):
            job = MapReduceJob(mappers=3, reducers=4)
            job.set_mapper(lambda line: [(line, 1)])
            job.set_reducer(make_adjacent_dup_reducer())
            result = job.run(spark, source)
            assert result.ok is True
            assert result.reducer_votes == [True] * 4

    def test_more_reducers_than_distinct_keys(self, spark):
        job = MapReduceJob(mappers=2, reducers=5)
        job.set_mapper(lambda line: [(line, 1)])
        parts = job._shuffled(spark, lines_df(spark, ["b", "a", "b", "a"])).glom().collect()
        assert len(parts) == 5
        _assert_sorted_ranges(parts)
        assert sorted(p for part in parts for p in part) == [("a", 1)] * 2 + [("b", 1)] * 2
        job.set_reducer(make_adjacent_dup_reducer())
        result = job.run(spark, lines_df(spark, ["b", "a", "c"]))
        assert result.ok is True and len(result.reducer_votes) == 5

    def test_all_equal_keys_land_in_one_partition(self, spark):
        job = MapReduceJob(mappers=3, reducers=3)
        job.set_mapper(lambda line: [("same", 1)])
        parts = job._shuffled(spark, lines_df(spark, range(50))).glom().collect()
        assert sorted(len(part) for part in parts) == [0, 0, 50]
        job.set_reducer(make_adjacent_dup_reducer())
        assert job.run(spark, lines_df(spark, range(50))).reducer_votes.count(False) == 1

    def test_sketch_bounds_balance_sorted_input(self, spark, tmp_path):
        # a sorted file makes every input split a contiguous key range, so
        # a sample biased to each split's head would skew the bounds
        path = tmp_path / "sorted.txt"
        path.write_text("".join(f"{i:05d}\n" for i in range(1200)))
        job = MapReduceJob(mappers=3, reducers=4)
        job.set_mapper(lambda line: [(line, 1)])
        sizes = job._shuffled(spark, str(path)).glom().map(len).collect()
        assert sum(sizes) == 1200
        assert all(200 <= n <= 400 for n in sizes), sizes

    @pytest.mark.parametrize("mappers", [1, 3, 5])
    def test_path_source_splits_into_m_partitions_without_shuffle(
        self, spark, tmp_path, mappers
    ):
        path = tmp_path / "lines.txt"
        path.write_text("".join(f"line{i:04d}\n" for i in range(400)))
        rdd = MapReduceJob(mappers=mappers)._lines(spark, str(path))
        assert rdd.getNumPartitions() == mappers
        lineage = rdd.toDebugString().decode()
        assert "HadoopRDD" in lineage and "Shuffled" not in lineage
        assert rdd.count() == 400

    @pytest.mark.parametrize("reducers, jobs", [(1, 1), (2, 2), (4, 2)])
    def test_one_run_launches_one_sketch_and_one_shuffle_job(
        self, spark, tmp_path, reducers, jobs
    ):
        path = tmp_path / "lines.txt"
        path.write_text("".join(f"{i:03d}\n" for i in range(120)))
        job = MapReduceJob(mappers=3, reducers=reducers)
        job.set_mapper(make_prefix_mapper(3))
        job.set_reducer(make_adjacent_dup_reducer())
        sc = spark.sparkContext
        group = f"mapreduce-jobs-{reducers}"
        sc.setJobGroup(group, "count the jobs of one run")
        try:
            assert job.run(spark, str(path)).ok is True
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        assert len(sc.statusTracker().getJobIdsForGroup(group)) == jobs
