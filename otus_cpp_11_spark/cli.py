"""CLI mirroring the reference binary's surface (src/main.cpp:19-56):
``-i/--input`` file, ``-m/--mappers`` M, ``-r/--reducers`` R (defaults 3/2,
src/main.cpp:49), ``-d/--debug`` verbosity — running the flagship
minimal-unique-prefix search (src/main.cpp:59-99) and printing
``Result = L`` exactly like the reference.

R maps to its Spark equivalent (SURVEY.md §1.4): R = shuffle partitions,
which only sizes the prefix query's range plan; lines that fit one AQE
partition are sorted in one task whatever R is. M is accepted and
validated for reference parity but is advisory on this DataFrame path:
Spark sizes the input splits itself, the prefix plan sorts every line
right after the read, and the answer does not depend on M, so no
round-robin pre-shuffle to M partitions is paid.
``--out`` optionally writes per-iteration ``iter{L}/result.txt`` files
(0/1) mirroring the reference's output layout
(src/runner.cpp:65), plus the final answer.

Usage: ``python -m otus_cpp_11_spark.cli -i test.txt -m 3 -r 2``
"""

from __future__ import annotations

import argparse
import logging
import sys
from pathlib import Path

_SHUFFLE = "spark.sql.shuffle.partitions"


def _positive_int(text: str) -> int:
    """M and R below 1 are rejected here, before any Spark call: a session
    built with zero shuffle partitions cannot start its SQL state."""
    try:
        value = int(text)
    except ValueError:
        raise argparse.ArgumentTypeError(f"invalid int value: {text!r}") from None
    if value < 1:
        raise argparse.ArgumentTypeError(f"must be >= 1, got {value}")
    return value


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(
        prog="otus-cpp-11-spark",
        description="Minimal unique prefix length over a line file (MapReduce flagship).",
    )
    p.add_argument("-i", "--input", required=True, help="input text file")
    p.add_argument(
        "-m",
        "--mappers",
        type=_positive_int,
        default=3,
        help="map parallelism (default 3; advisory, Spark sizes the input splits)",
    )
    p.add_argument(
        "-r", "--reducers", type=_positive_int, default=2, help="reduce parallelism (default 2)"
    )
    p.add_argument("-d", "--debug", action="store_true", help="debug logging")
    p.add_argument("--out", default=None, help="optional output dir for iter{L}/result.txt files")
    p.add_argument(
        "--max-len",
        type=int,
        default=None,
        help="search cap (reference hard-codes 3, src/main.cpp:61; default: none)",
    )
    return p


def main(argv: list[str] | None = None) -> int:
    args = build_parser().parse_args(argv)
    logging.basicConfig(
        level=logging.DEBUG if args.debug else logging.INFO,
        format="%(levelname)s %(name)s: %(message)s",
    )
    log = logging.getLogger("otus_cpp_11_spark.cli")

    from pyspark.sql import SparkSession

    from otus_cpp_11_spark.session import get_spark

    # get_spark on a live session re-applies shuffle_partitions = R to it
    # through getOrCreate; hand the caller's session back as it came
    live = SparkSession.getActiveSession()
    prior = live.conf.get(_SHUFFLE) if live is not None else None
    spark = get_spark(app_name="prefix-cli", shuffle_partitions=args.reducers)
    try:
        return _run(spark, args, log)
    finally:
        if prior is not None:
            spark.conf.set(_SHUFFLE, prior)


def _run(spark, args: argparse.Namespace, log: logging.Logger) -> int:
    from otus_cpp_11_spark.prefix import min_unique_prefix_length

    if not args.debug:
        spark.sparkContext.setLogLevel("ERROR")
    lines = spark.read.text(args.input)
    log.debug("input=%s mappers=%d reducers=%d", args.input, args.mappers, args.reducers)

    on_iter = None
    if args.out:
        outdir = Path(args.out)

        def on_iter(length: int, unique: bool) -> None:
            d = outdir / f"iter{length}"
            d.mkdir(parents=True, exist_ok=True)
            (d / "result.txt").write_text(f"{int(unique)}\n")

    result = min_unique_prefix_length(
        spark, lines, max_len=args.max_len, on_iteration=on_iter
    )
    if result is None:
        print("Result = not found (duplicate lines, or longer than --max-len)")
        return 1
    print(f"Result = {result}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
