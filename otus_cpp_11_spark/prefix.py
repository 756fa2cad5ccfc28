"""The reference's flagship query: minimal prefix length that uniquely
identifies every line of a text dataset.

Reference behavior (reference src/main.cpp:59-99): loop L = 1, 2, 3; each
iteration runs a full MapReduce job whose mapper emits
``(line.substr(0, L), 1)`` (main.cpp:62-74) and whose reducer votes false on
any adjacent duplicate key in the sorted stream (main.cpp:75-91); stop at the
first L where every prefix is unique. Semantic quirks we deliberately fix
(SURVEY.md §2.3): the L < 4 cap becomes an optional parameter; identical
full lines are reported as "no answer" (None) instead of the cap value; NULL
lines are ignored.

One strategy: one sort answers every L. Prefixes of length L collide iff
two lines share their first L characters (a line shorter than L is its own
prefix and can only equal an identical line). In sorted order the longest
common prefix (LCP) of any two lines is the shortest LCP of the adjacent
pairs between them, so for distinct lines the answer is 1 + the max LCP of
sorted neighbours; equal neighbours mean duplicate full lines (NULL), and
no non-empty line means no L exists (NULL). Spark sorts UTF-8 bytes, which
orders strings exactly as code points do; the LCP counts code points, as
``substring`` does.

The plan is the reference's own sort, in one of two shapes; both fold the
sorted lines with ``_fold_sorted`` and stitch the folds with ``_stitch``.

* **one task** — when the optimizer's size estimate of the lines is at
  most AQE's coalescing target (``coalescePartitions.minPartitionSize``
  with ``parallelismFirst`` on, else ``advisoryPartitionSizeInBytes``):
  ``coalesce(1)``, ``sortWithinPartitions`` and one ``mapInArrow`` that
  folds and stitches. One Spark job, no shuffle.
* **range** — otherwise, or with AQE coalescing off, or with no estimate
  (an RDD-backed frame reports ``Long.MaxValue``): ``repartitionByRange``
  with no fixed partition count (AQE coalesces the ranges),
  ``sortWithinPartitions``, a ``mapInArrow`` fold per partition, then
  ``repartition(1)`` and a ``mapInArrow`` stitch that crosses each
  partition boundary (the reference's ``align_blocks``). The shuffle
  carries each line once: O(rows), not O(rows x length). Four Spark jobs.

The rule is a heuristic: it compares an input-size estimate (for a text
scan, the bytes on disk) with a target that AQE applies to shuffle bytes,
which run larger by a per-row overhead, so lines just under the target may
take one task where AQE would have kept a few range partitions. Below the
target the range plan offers no parallelism: its fold would run in one
coalesced task, behind a sample and a shuffle. The target is not the
crossover, though, only a safe side of it: on a 4-core host the one-task
plan was the faster up to 4 MB of email-like lines, the two were level at
about 8 MB, and the range plan won above that (1.3-1.5x at 32 MB, 1.6-1.8x
at 64 MB), as its sort and fold run on every core.

The fold is interpreted Python, one slice compare per row: about 2 us per
short line on one core (0.38 s for 200k email-like lines), the per-row
cost to watch at scale.
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def prefix_counts(df: DataFrame, col: str, length: int) -> DataFrame:
    """(prefix, cnt) at a fixed prefix length — the reference's one MapReduce
    job (map: substr+lit(1), src/main.cpp:62-74; reduce: count per key)."""
    return df.groupBy(F.substring(F.col(col), 1, length).alias("prefix")).agg(
        F.count(F.lit(1)).alias("cnt")
    )


def has_duplicate_prefix(df: DataFrame, col: str, length: int) -> bool:
    """True iff some prefix of ``length`` occurs more than once.

    Short-circuits via LIMIT 1 over the post-aggregation filter — the
    reference's reducer early-false (src/main.cpp:83-88) expressed as an
    existence query.
    """
    return prefix_counts(df, col, length).where(F.col("cnt") > 1).limit(1).count() > 0


def _lcp(a: str, b: str) -> int:
    """Length of the longest common prefix, in code points."""
    n = 0
    for x, y in zip(a, b):
        if x != y:
            break
        n += 1
    return n


def _fold_sorted(batches):
    """One partition's sorted lines -> one row (first, last, max adjacent
    LCP, any equal neighbours); an empty partition emits nothing."""
    first = prev = None
    best, dup = 0, False
    for batch in batches:
        for line in batch.column(0).to_pylist():
            if prev is None:
                first = line
            elif line[: best + 1] == prev[: best + 1]:
                # only a neighbour sharing more than ``best`` chars moves it
                dup = dup or line == prev
                best = max(best, _lcp(prev, line))
            prev = line
    if prev is not None:
        yield pa.RecordBatch.from_pylist(
            [{"first": first, "last": prev, "max_lcp": best, "dup": dup}]
        )


def _stitch(batches):
    """Every partition's fold row -> the one-row answer. Range partitions
    hold disjoint ordered ranges, so sorting the rows by first line restores
    partition order; each boundary is then one more neighbour pair."""
    parts = sorted((r for b in batches for r in b.to_pylist()), key=lambda r: r["first"])
    dup = any(r["dup"] for r in parts)
    best = max((r["max_lcp"] for r in parts), default=0)
    for left, right in zip(parts, parts[1:]):
        dup = dup or left["last"] == right["first"]
        best = max(best, _lcp(left["last"], right["first"]))
    answer = None if dup or not parts or parts[-1]["last"] == "" else best + 1
    yield pa.RecordBatch.from_pydict({"min_unique_prefix_len": pa.array([answer], pa.int64())})


def _fold_and_stitch(batches):
    """The one-task plan's only Python step: all sorted lines -> the answer."""
    return _stitch(_fold_sorted(batches))


def _fits_one_partition(lines: DataFrame) -> bool:
    """True when the size estimate of ``lines`` is at most the target
    size that Spark's ``ShufflePartitionsUtil`` coalesces shuffles to: an
    estimate of whether AQE would keep one range partition, not a
    guarantee (see the module docstring)."""
    session = lines.sparkSession
    conf = session._jsparkSession.sessionState().conf()
    if not (conf.adaptiveExecutionEnabled() and conf.coalesceShufflePartitionsEnabled()):
        return False
    entries = session._jvm.org.apache.spark.sql.internal.SQLConf
    if conf.getConf(entries.COALESCE_PARTITIONS_PARALLELISM_FIRST()):
        target = conf.getConf(entries.COALESCE_PARTITIONS_MIN_PARTITION_SIZE())
    else:
        target = conf.getConf(entries.ADVISORY_PARTITION_SIZE_IN_BYTES())
    return lines._jdf.queryExecution().optimizedPlan().stats().sizeInBytes() <= target


def min_unique_prefix_length_single_pass(df: DataFrame, col: str = "value") -> DataFrame:
    """Lazy one-row DataFrame ``[min_unique_prefix_len: bigint]`` (NULL = no
    unique prefix exists: duplicate full lines, or no non-empty line).
    NULL lines are ignored."""
    lines = df.select(F.col(col).alias("v")).where(F.col("v").isNotNull())
    schema = "min_unique_prefix_len bigint"
    if _fits_one_partition(lines):
        return lines.coalesce(1).sortWithinPartitions("v").mapInArrow(_fold_and_stitch, schema)
    folded = (
        lines.repartitionByRange("v")
        .sortWithinPartitions("v")
        .mapInArrow(_fold_sorted, "first string, last string, max_lcp bigint, dup boolean")
    )
    return folded.repartition(1).mapInArrow(_stitch, schema)


def min_unique_prefix_length(
    spark: SparkSession,
    df: DataFrame,
    col: str = "value",
    max_len: int | None = None,
    on_iteration=None,
) -> int | None:
    """The reference's driver loop (src/main.cpp:61-99), answered by one run
    of the single-pass plan: None when no unique prefix exists (duplicate
    full lines — SURVEY.md §2.3.5/§2.3.7) or when it exceeds ``max_len``.

    ``on_iteration(length, unique)`` replays the loop's verdicts for
    L = 1..answer (capped at ``max_len``); uniqueness is monotone in L, so
    the answer decides each. The CLI writes the reference's per-iteration
    ``iter{L}/result.txt`` layout with it (src/runner.cpp:65)."""
    # collect, not first(): a LIMIT stops reading the stitch's Python worker,
    # so Spark drops it and the next Arrow task pays a fresh worker's
    # pyarrow + pandas import (~0.5 s)
    answer = min_unique_prefix_length_single_pass(df, col).collect()[0][0]
    if answer is None:
        return None
    last = answer if max_len is None else min(answer, max_len)
    if on_iteration is not None:
        for length in range(1, last + 1):
            on_iteration(length, length == answer)
    return answer if answer == last else None
