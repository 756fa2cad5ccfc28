"""Golden + adversarial tests for the flagship prefix query (SURVEY.md §5).

Golden: the reference's bundled fixture test.txt (69 three-digit numbers)
must yield minimal unique prefix length 2 — L=1 collides on shared first
digits, L=2 is unique (expected behavior SURVEY.md §2.3.7). The file is read
from /root/reference/test.txt when present and from the committed replica
tests/fixtures/test.txt otherwise (conftest `golden_test_txt`).
"""

from __future__ import annotations

import pytest

from otus_cpp_11_spark.prefix import (
    has_duplicate_prefix,
    min_unique_prefix_length,
    min_unique_prefix_length_single_pass,
    prefix_counts,
)


def single_pass_answer(df):
    return min_unique_prefix_length_single_pass(df).first()["min_unique_prefix_len"]


class TestGoldenNumbers69:
    def test_iterative_answer_is_2(self, spark, lines_numbers69):
        assert min_unique_prefix_length(spark, lines_numbers69) == 2

    def test_single_pass_answer_is_2(self, lines_numbers69):
        assert single_pass_answer(lines_numbers69) == 2

    def test_l1_collides_l2_unique(self, lines_numbers69):
        # mirrors out/iter1/result.txt == 0, out/iter2/result.txt == 1
        assert has_duplicate_prefix(lines_numbers69, "value", 1)
        assert not has_duplicate_prefix(lines_numbers69, "value", 2)

    def test_prefix_counts_l1(self, lines_numbers69):
        rows = {r["prefix"]: r["cnt"] for r in prefix_counts(
            lines_numbers69, "value", 1).collect()}
        # first-digit histogram of test.txt: 1->9 (starts at 111), 4->9
        # (401 absent), 8->1 (only 801), others 10
        assert rows["1"] == 9
        assert rows["4"] == 9
        assert rows["8"] == 1
        assert sum(rows.values()) == 69


class TestAdversarial:
    def test_duplicate_full_lines_no_answer(self, spark, lines_dups):
        assert min_unique_prefix_length(spark, lines_dups) is None
        assert single_pass_answer(lines_dups) is None

    def test_trivial_first_char_distinct(self, spark, lines_trivial):
        assert min_unique_prefix_length(spark, lines_trivial) == 1
        assert single_pass_answer(lines_trivial) == 1

    def test_edge_lines(self, spark, lines_edge):
        # "", "a", "ab", "abc", "déjà-vu", "déjà-lu": at L=6 "déjà-v"/"déjà-l"
        # split; "ab" vs "abc" split at L=3; "" never equals non-empty; but
        # "a"/"ab"/"abc" collide until L where prefixes diverge: L=2 -> "a",
        # "ab","ab" collide; L=3 -> "a","ab","abc" distinct... yet "déjà-" pair
        # needs L=6. Empty line prefix is always "" (distinct from others).
        expected = 6
        assert min_unique_prefix_length(spark, lines_edge) == expected
        assert single_pass_answer(lines_edge) == expected

    def test_single_row(self, spark):
        df = spark.createDataFrame([("solo",)], ["value"])
        assert min_unique_prefix_length(spark, df) == 1
        assert single_pass_answer(df) == 1

    def test_null_lines_are_ignored(self, spark):
        # NULL is no line: neither a duplicate of another NULL nor a prefix
        df = spark.createDataFrame([(None,), (None,), ("a",), ("b",)], "value string")
        assert min_unique_prefix_length(spark, df) == 1
        assert single_pass_answer(df) == 1

    def test_max_len_below_answer_is_no_answer(self, spark, lines_numbers69):
        seen = []
        got = min_unique_prefix_length(
            spark, lines_numbers69, max_len=1, on_iteration=lambda *v: seen.append(v)
        )
        assert got is None
        assert seen == [(1, False)]

    def test_reference_test_txt_directly(self, spark, golden_test_txt):
        """Read the reference fixture file end-to-end via spark.read.text —
        the O1/O2 line-text source path (SURVEY.md §2 O1-O2)."""
        df = spark.read.text(golden_test_txt)
        assert min_unique_prefix_length(spark, df) == 2


def test_prefix_answer_is_config_invariant(spark):
    """Range bounds, coalesced partitions and empty partitions move the
    partition boundaries the stitch crosses, never the answer. With 20
    lines and 32 unadaptive partitions nearly every neighbour pair,
    the deepest included, straddles a boundary. A ``createDataFrame``
    frame has no size estimate, so this always runs the range plan."""
    lines = [f"k{i:03d}x" for i in range(0, 200, 13)] + ["k130yy", "k0", "", "zz", None]
    df = spark.createDataFrame([(v,) for v in lines], "value string")
    keys = ("spark.sql.shuffle.partitions", "spark.sql.adaptive.enabled")
    prior = {k: spark.conf.get(k) for k in keys}
    got = set()
    try:
        for aqe in ("true", "false"):
            for parts in ("1", "3", "32"):
                spark.conf.set("spark.sql.adaptive.enabled", aqe)
                spark.conf.set("spark.sql.shuffle.partitions", parts)
                got.add((aqe, parts, single_pass_answer(df)))
    finally:
        for k, v in prior.items():
            spark.conf.set(k, v)
    # the deepest neighbours, "k130x" and "k130yy", share 4 characters
    assert {answer for _, _, answer in got} == {5}, sorted(got)


# (file text, answer); None text is the golden test.txt
LINE_FILES = {
    "golden": (None, 2),
    "edge": ("\n".join(["", "a", "ab", "abc", "déjà-vu", "déjà-lu"]) + "\n", 6),
    "duplicates": ("alpha\nalpha\nbeta\ngamma\n", None),
    "empty": ("", None),
    "only_empty_lines": ("\n\n\n", None),
}


@pytest.mark.parametrize("name", list(LINE_FILES))
def test_prefix_plans_agree_on_line_files(spark, tmp_path, golden_test_txt, name):
    """The one-task plan and the range plan (forced by a 1-byte coalescing
    target) give one row and the same answer under AQE on/off and 1/3/32
    shuffle partitions. With AQE off the range plan always runs. An empty
    file is a zero-split scan and still answers its one NULL row; its size
    estimate is 0 bytes, so it fits even the 1-byte target."""
    text, expected = LINE_FILES[name]
    path = golden_test_txt
    if text is not None:
        path = tmp_path / "lines.txt"
        path.write_text(text, encoding="utf-8")
    keys = (
        "spark.sql.shuffle.partitions",
        "spark.sql.adaptive.enabled",
        "spark.sql.adaptive.coalescePartitions.minPartitionSize",
    )
    prior = {k: spark.conf.get(k) for k in keys}
    got = {}
    try:
        for plan, min_size in (("one-task", prior[keys[2]]), ("range", "1b")):
            for aqe in ("true", "false"):
                for parts in ("1", "3", "32"):
                    spark.conf.set(keys[0], parts)
                    spark.conf.set(keys[1], aqe)
                    spark.conf.set(keys[2], min_size)
                    q = min_unique_prefix_length_single_pass(spark.read.text(str(path)))
                    shuffles = "Exchange" in q._jdf.queryExecution().executedPlan().toString()
                    got[plan, aqe, parts] = (shuffles, q.collect())
    finally:
        for k, v in prior.items():
            spark.conf.set(k, v)
    for (plan, aqe, parts), (shuffles, rows) in got.items():
        one_task = aqe == "true" and (plan == "one-task" or text == "")
        assert shuffles != one_task, (plan, aqe, parts)
        assert [r[0] for r in rows] == [expected], (plan, aqe, parts, rows)
