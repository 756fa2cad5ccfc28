"""CLI parity test: the golden e2e of the reference binary
(`Result = 2` on its bundled test.txt fixture, SURVEY.md §2.3.7) through
our argparse surface, including the per-iteration output layout
(iter{L}/result.txt with 0/1, mirroring src/runner.cpp:65). The fixture is
read from /root/reference/test.txt when present and from the committed
replica tests/fixtures/test.txt otherwise (conftest `golden_test_txt`)."""

from __future__ import annotations

import pytest

from otus_cpp_11_spark.cli import build_parser, main


@pytest.fixture(autouse=True)
def _restore_shuffle_partitions(spark):
    """cli.main builds its session with shuffle_partitions = R (the
    reference's reducer count); under getOrCreate that retunes the SHARED
    test session, and R=2 would leak into every later test (it broke the
    skew-split plan test: with 2 partitions the skew detector's median IS
    the hot partition). main now restores the caller's value itself; this
    snapshot/restore stays as the backstop."""
    prior = spark.conf.get("spark.sql.shuffle.partitions")
    yield
    spark.conf.set("spark.sql.shuffle.partitions", prior)


def test_parser_defaults_mirror_reference():
    args = build_parser().parse_args(["-i", "x.txt"])
    # reference CLI defaults m=3, r=2 (src/main.cpp:49)
    assert (args.mappers, args.reducers, args.debug) == (3, 2, False)


def test_cli_golden_result_and_iter_layout(spark, tmp_path, capsys, golden_test_txt):
    out = tmp_path / "out"
    rc = main(["-i", golden_test_txt, "--out", str(out)])
    assert rc == 0
    assert "Result = 2" in capsys.readouterr().out
    assert (out / "iter1" / "result.txt").read_text() == "0\n"
    assert (out / "iter2" / "result.txt").read_text() == "1\n"


def test_cli_iter_layout_stops_at_answer(spark, tmp_path, capsys):
    f = tmp_path / "lines.txt"
    # "carrot" / "carton" share "car": the answer is 4
    f.write_text("apple\ncarrot\ncarton\nbanana\n")
    out = tmp_path / "out"
    assert main(["-i", str(f), "--out", str(out)]) == 0
    assert "Result = 4" in capsys.readouterr().out
    for length in (1, 2, 3):
        assert (out / f"iter{length}" / "result.txt").read_text() == "0\n"
    assert (out / "iter4" / "result.txt").read_text() == "1\n"
    assert not (out / "iter5").exists()
    assert main(["-i", str(f), "--max-len", "3"]) == 1
    assert "not found" in capsys.readouterr().out


def test_cli_duplicate_lines_exit_code(spark, tmp_path, capsys):
    f = tmp_path / "dups.txt"
    f.write_text("same\nsame\nother\n")
    rc = main(["-i", str(f)])
    assert rc == 1
    assert "not found" in capsys.readouterr().out


def test_cli_main_leaves_caller_shuffle_partitions(spark, tmp_path, capsys):
    f = tmp_path / "lines.txt"
    f.write_text("ab\ncd\n")
    prior = spark.conf.get("spark.sql.shuffle.partitions")
    reducers = str(int(prior) + 3)
    assert main(["-i", str(f), "-r", reducers]) == 0
    assert "Result = 1" in capsys.readouterr().out
    assert spark.conf.get("spark.sql.shuffle.partitions") == prior


@pytest.mark.parametrize("flag", ["-m", "-r"])
def test_cli_rejects_nonpositive_parallelism_before_spark(spark, flag, capsys):
    prior = spark.conf.get("spark.sql.shuffle.partitions")
    for value in ("0", "-1"):
        with pytest.raises(SystemExit) as exc:
            main(["-i", "lines.txt", flag, value])
        assert exc.value.code == 2
        assert "must be >= 1" in capsys.readouterr().err
    assert spark.conf.get("spark.sql.shuffle.partitions") == prior


def _cli_jobs(spark, group: str, argv: list[str]) -> int:
    """Spark jobs one CLI run starts, counted in a fresh job group."""
    sc = spark.sparkContext
    sc.setJobGroup(group, "count the jobs of one CLI run")
    try:
        assert main(argv) == 0
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_cli_reads_without_a_mapper_shuffle(spark, tmp_path, capsys):
    """-m is advisory on the DataFrame path: one run is the prefix plan's
    own jobs (no round-robin pre-shuffle to M partitions), and the answer
    and iter{L} layout do not depend on M. The 2000 lines fit one AQE
    partition, so the plan is one job; the range plan is 4."""
    f = tmp_path / "lines.txt"
    f.write_text("".join(f"{i:05d}-user@example.com\n" for i in range(2000)))
    assert _cli_jobs(spark, "cli-jobs", ["-i", str(f)]) == 1
    key = "spark.sql.adaptive.coalescePartitions.minPartitionSize"
    prior = spark.conf.get(key)
    spark.conf.set(key, "1b")
    try:
        assert _cli_jobs(spark, "cli-jobs-range", ["-i", str(f)]) == 4
    finally:
        spark.conf.set(key, prior)
    capsys.readouterr()
    runs = []
    for m in ("1", "5"):
        out = tmp_path / f"out{m}"
        assert main(["-i", str(f), "-m", m, "--out", str(out)]) == 0
        layout = sorted(
            (p.parent.name, p.read_text()) for p in out.glob("iter*/result.txt")
        )
        runs.append((capsys.readouterr().out, layout))
    assert runs[0] == runs[1]
    assert "Result = 5" in runs[0][0]
    assert runs[0][1][-1] == ("iter5", "1\n")
