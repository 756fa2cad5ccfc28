"""Generic MapReduce surface — API parity with the reference framework
(`PrefixFindRunner`, /root/reference/src/mapreduce.hpp:21-40).

Reference contract (description/homework/mapreduce.h:26-64, SURVEY.md §3.3):
construct with (mappers M, reducers R); inject any
``str -> list[(str, int)]`` mapper (flatMap-shaped, mapreduce.hpp:26) and any
``(str, int) -> bool`` reducer (ordered fold, mapreduce.hpp:27); ``run``
shuffles each emitted pair exactly once and the reducer sees its
partition's pairs in **globally sorted key order** with **all equal keys
in one partition**; the job result is the AND of every reducer vote
(runner.cpp:62-80). The mapper, unlike the reference's, is not called
exactly once per line: with R >= 2 it runs twice over every line, once in
the sketch job that picks the range bounds and once in the shuffle (the
pairs are not persisted between the two), so it must be a pure function
of the line. With R = 1 there is no sketch job and it runs once.

Spark-first realization — each reference stage maps onto the runtime:

==========================  =============================================
reference (SURVEY.md §2)    here
==========================  =============================================
split_file → M blocks (O1)  ``textFile(path, minPartitions=M)`` splits;
                            ``repartition(M)`` only when the split count
                            is not M, and for DataFrame sources
M mapper threads (O3)       ``rdd.flatMap(mapper)`` over M partitions
per-mapper sort (O4/O5)     not needed pre-shuffle (sort-based shuffle)
k-way merge shuffle (O6)    ``repartitionAndSortWithinPartitions(R)`` —
                            range partitioning + per-partition sort ≡ one
                            globally sorted run cut into R aligned blocks
align_blocks (O7)           one sketch job before the shuffle: per
                            partition a count and a seeded key reservoir,
                            turned into R-1 strictly increasing bounds;
                            ``bisect_left`` never splits a key
R reducer threads (O9)      ``mapPartitions(fold)``
AND-aggregate (O12)         driver ``all()`` over R partition votes
==========================  =============================================

The user functions are arbitrary Python — this is the deliberate slow path
(the escape hatch the reference exists for). Every operator that *can* be a
Column expression is registered in ``otus_cpp_11_spark.queries`` instead;
the lecture tasks are expressed on this API in tests to prove the contract,
and as DataFrame queries in the registry to run fast.

Per SURVEY.md §2.3.2 the reference's cross-partition reducer state (C++
function-``static`` shared across threads — a data race) is deliberately
not reproducible: reducer state is per-partition, which is the *intended*
semantics and the only one that scales.
"""

from __future__ import annotations

import math
import os
import random
from bisect import bisect_left
from collections.abc import Callable, Iterable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

MapperFn = Callable[[str], Iterable[tuple[str, int]]]
ReducerFn = Callable[[tuple[str, int]], bool]
CombinerFn = Callable[[int, int], int]


@dataclass
class MapReduceResult:
    """Mirror of the reference's observable outputs (runner.cpp:62-83):
    overall AND verdict + the per-reducer votes (reduce.<i>.txt lines)."""

    ok: bool
    reducer_votes: list[bool]


class MapReduceJob:
    """Reference-parity generic MapReduce job.

    >>> job = MapReduceJob(mappers=3, reducers=2)
    >>> job.set_mapper(lambda line: [(line[:1], 1)])
    >>> job.set_reducer(make_dup_detector())
    >>> job.run(spark, "input.txt").ok
    """

    def __init__(self, mappers: int = 3, reducers: int = 2):
        # defaults M=3, R=2 mirror the reference CLI (src/main.cpp:49)
        if mappers < 1 or reducers < 1:
            raise ValueError("mappers and reducers must be >= 1")
        self.mappers = mappers
        self.reducers = reducers
        self._mapper: MapperFn | None = None
        self._reducer: ReducerFn | None = None
        self._combiner: CombinerFn | None = None

    def set_mapper(self, fn: MapperFn) -> "MapReduceJob":
        """src/mapreduce.hpp:32 — any line → list[(key, count)] functor."""
        self._mapper = fn
        return self

    def set_reducer(self, fn: ReducerFn) -> "MapReduceJob":
        """src/mapreduce.hpp:36 — ordered (key, count) → bool vote fold.
        State belongs in the callable (closure/object); it is per-partition."""
        self._reducer = fn
        return self

    def set_combiner(self, fn: CombinerFn = lambda a, b: a + b) -> "MapReduceJob":
        """The Hadoop-style combine phase the reference spec reserves room
        for (description/homework/client.cpp:39-44 — the reducer's
        ``count > 1`` branch, dead in the shipped binary, exists to consume
        combined counts). ``fn`` must be associative+commutative; default
        is count-sum. Combining runs per mapper partition BEFORE the
        shuffle — at scale this is the map-side partial aggregation that
        shrinks shuffle volume from |records| to |distinct keys per
        partition|."""
        self._combiner = fn
        return self

    # -- internals ---------------------------------------------------------

    def _lines(self, spark: SparkSession, source: str | DataFrame):
        if isinstance(source, DataFrame):
            col = source.columns[0]
            rdd = source.select(col).rdd.map(lambda row: row[0])
        else:
            # the reference's split_file into M blocks: Hadoop input splits
            rdd = spark.sparkContext.textFile(source, minPartitions=self.mappers)
        # M input partitions ≡ M mapper threads (src/runner.cpp:14-29).
        return rdd.repartition(self.mappers) if rdd.getNumPartitions() != self.mappers else rdd

    def _shuffled(self, spark: SparkSession, source: str | DataFrame):
        """map → globally-sorted range-partitioned pairs (the O6 shuffle +
        O7 alignment contract). Range bounds come from one sketch job;
        ``sortByKey`` would run a count job and then a sample job."""
        if self._mapper is None:
            raise RuntimeError("set_mapper first")
        mapper = self._mapper
        pairs = self._lines(spark, source).flatMap(mapper)
        if self._combiner is not None:
            combiner = self._combiner

            def combine_partition(it):
                acc: dict[str, int] = {}
                for key, count in it:
                    acc[key] = combiner(acc[key], count) if key in acc else count
                return iter(acc.items())

            pairs = pairs.mapPartitions(combine_partition)
        bounds = _range_bounds(pairs, self.reducers) if self.reducers > 1 else []
        return pairs.repartitionAndSortWithinPartitions(
            self.reducers, lambda key: bisect_left(bounds, key)
        )

    # -- public runs -------------------------------------------------------

    def run(
        self,
        spark: SparkSession,
        source: str | DataFrame,
        output_directory: str | None = None,
    ) -> MapReduceResult:
        """Full reference pipeline: returns the AND of reducer votes
        (runner.cpp:62-80). With ``output_directory``, writes the
        reference's observable file layout: ``reducer/reduce.<i>.txt`` (one
        0/1 line per reducer, runner.cpp:46-47) and ``result.txt``
        (runner.cpp:65)."""
        if self._reducer is None:
            raise RuntimeError("set_reducer first")
        reducer = self._reducer

        def fold(it):
            # an empty partition votes true, like a reducer fed no pairs
            vote = True
            for key, count in it:
                vote = reducer((key, count)) and vote
            yield vote

        # one vote per range partition, in partition order
        votes = self._shuffled(spark, source).mapPartitions(fold).collect()
        ok = all(votes)
        if output_directory is not None:
            red_dir = os.path.join(output_directory, "reducer")
            os.makedirs(red_dir, exist_ok=True)
            for i, v in enumerate(votes):
                with open(os.path.join(red_dir, f"reduce.{i}.txt"), "w") as f:
                    f.write(f"{int(v)}\n")
            with open(os.path.join(output_directory, "result.txt"), "w") as f:
                f.write(f"{int(ok)}\n")
        return MapReduceResult(ok=ok, reducer_votes=votes)

    def run_counts(
        self, spark: SparkSession, source: str | DataFrame
    ) -> DataFrame:
        """The count-per-key reduction the reference's client approximates
        (SURVEY.md §2.3.3) and the lecture tasks need: key → sum(count),
        as a DataFrame. Uses reduceByKey (map-side combine), not the sorted
        fold — this is the fast path when the reduction is associative."""
        if self._mapper is None:
            raise RuntimeError("set_mapper first")
        mapper = self._mapper
        pairs = self._lines(spark, source).flatMap(mapper)
        reduced = pairs.reduceByKey(lambda a, b: a + b, numPartitions=self.reducers)
        return spark.createDataFrame(reduced, schema="key string, count long")


def _range_bounds(pairs, reducers: int) -> list:
    """R-1 strictly increasing keys that cut ``pairs`` into ``reducers``
    ranges of about equal size, from one Spark job. Each partition returns
    its pair count and a seeded reservoir of ⌈3·20·R/M⌉ keys, the sizing of
    Spark's ``RangePartitioner``; a sampled key stands for count/len(sample)
    pairs, and the bounds are the weighted R-quantiles with repeats
    dropped, as in ``RangePartitioner.determineBounds``."""
    size = math.ceil(3 * 20 * reducers / pairs.getNumPartitions())

    def sketch(idx: int, it):
        rng = random.Random(idx)
        sample: list = []
        n = 0
        for key, _ in it:
            if n < size:
                sample.append(key)
            else:
                j = rng.randrange(n + 1)
                if j < size:
                    sample[j] = key
            n += 1
        yield n, sample

    weighted = sorted(
        (key, n / len(sample))
        for n, sample in pairs.mapPartitionsWithIndex(sketch).collect()
        for key in sample
    )
    step = sum(w for _, w in weighted) / reducers
    bounds: list = []
    cum, target = 0.0, step
    for key, w in weighted:
        if len(bounds) == reducers - 1:
            break
        cum += w
        if cum >= target and (not bounds or key > bounds[-1]):
            bounds.append(key)
            target += step
    return bounds


def make_adjacent_dup_reducer() -> ReducerFn:
    """The client reducer (src/main.cpp:75-91): votes false when the current
    key equals the previous key (sorted adjacency) or count > 1. State is a
    closure cell — per partition, not process-global (SURVEY.md §2.3.2)."""
    prev: list[str | None] = [None]

    def reducer(pair: tuple[str, int]) -> bool:
        key, count = pair
        dup = (prev[0] is not None and key == prev[0]) or count > 1
        prev[0] = key
        return not dup

    return reducer


def make_prefix_mapper(length: int) -> MapperFn:
    """The client mapper (src/main.cpp:62-74): emit (line[:L], 1)."""

    def mapper(line: str) -> list[tuple[str, int]]:
        return [(line[:length], 1)]

    return mapper


def find_min_unique_prefix(
    spark: SparkSession,
    source: str | DataFrame,
    mappers: int = 3,
    reducers: int = 2,
    max_len: int = 3,
    output_directory: str | None = None,
) -> int | None:
    """The reference's full CLI program (src/main.cpp:59-99) on the generic
    API: loop L = 1..max_len, one MapReduce job per L, stop on first success.
    ``max_len=3`` mirrors the reference's hard cap (``result < 4``,
    src/main.cpp:61); pass a larger cap for correct behavior on deep-prefix
    data. Returns None if no L in range succeeds (the reference would print
    the failing cap value instead — SURVEY.md §2.3.5)."""
    for length in range(1, max_len + 1):
        job = MapReduceJob(mappers=mappers, reducers=reducers)
        job.set_mapper(make_prefix_mapper(length))
        job.set_reducer(make_adjacent_dup_reducer())
        outdir = (
            os.path.join(output_directory, f"iter{length}")
            if output_directory
            else None
        )
        if job.run(spark, source, outdir).ok:
            return length
    return None
