#!/usr/bin/env python3
"""Benchmark driver for the PySpark MapReduce engine.

Usage (from the repository root)::

    python3 perfbench/run.py --workload prefix_mapreduce --seed 1 --seconds 6 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 6 --trace 1

One run is one process on ``local[nproc]`` with one closed-loop client:

1. set-up: start the SparkSession through the package's ``get_spark`` and run
   a trivial job (``setup_s`` counts from process start);
2. generate the seeded inputs and, for registry operations, the DuckDB
   oracle answers;
3. warm-up passes over the workload's operation list; the last one collects
   every registry result and compares it with its oracle;
4. measured passes until ``--seconds`` have elapsed (at least four);
5. a fixed calibration kernel, then shutdown.

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` wraps the
package's public functions (see ``tracing.py``), turns on the Spark event log
and reports the per-layer metrics; its measured passes alternate untraced and
traced (in the order untraced, traced, traced, untraced) so
``trace.overhead_pct`` compares the two in one process. The last
line of standard output is the result object; the full artifact (machine
context, per-pass numbers, errors, spans) goes to
``.perfbench_work/artifacts/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
import traceback
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))
sys.path.insert(0, str(ROOT))

import proctree  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

WORK = ROOT / ".perfbench_work"
WARMUP_PASSES = 2
MIN_PASSES = 4
CALIBRATION_ROWS = 10_000_000
# Best floor of the calibration kernel per core class (c4: a 4-core x86 VM);
# a run whose floor is well above it ran on a slower or busier machine.
REFERENCE_FLOOR_S = {"c4": 0.057}

PER_LAYER = {
    "session.get_spark_s": "s",
    "catalog.load_table.calls": "count",
    "catalog.load_table.s": "s",
    "catalog.spread.calls": "count",
    "catalog.spread.s": "s",
    "queries.build.s": "s",
    "queries.build.jobs": "count",
    "exec.s": "s",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.executor_run_s": "s",
    "exec.executor_cpu_s": "s",
    "exec.cpu_ratio": "ratio",
    "exec.gc_s": "s",
    "exec.shuffle_write_bytes": "bytes",
    "exec.shuffle_read_bytes": "bytes",
    "exec.spill_bytes": "bytes",
    "exec.task_skew": "ratio",
    "mapreduce.run.calls": "count",
    "mapreduce.run.s": "s",
    "mapreduce.shuffle_write_bytes": "bytes",
    "prefix.min_unique_prefix_length.s": "s",
    "prefix.has_duplicate_prefix.calls": "count",
    "prefix.jobs_per_answer": "count",
    "cli.main.s": "s",
    "versioned.commit.calls": "count",
    "versioned.commit.s": "s",
    "versioned.read.calls": "count",
    "versioned.read.s": "s",
    "versioned.bytes_written": "bytes",
    "versioned.files_written": "count",
    "versioned.conflicts": "count",
    "cache.persistent_rdds": "count",
    "trace.overhead_pct": "%",
}


class Context:
    """State shared by the operations of one run."""

    def __init__(self, spark, tracer, run_dir: Path, seed: int) -> None:
        self.spark = spark
        self.tracer = tracer
        self.run_dir = run_dir
        self.seed = seed
        self.sf_dir = str(run_dir / "data")
        self.lines_path = str(run_dir / "lines" / "lines.txt")
        self.mr_lines_path = str(run_dir / "lines" / "mr_lines.txt")
        self.queries: dict = {}
        self.expected: dict = {}
        self.op_id = ""
        self.attempted = 0
        self.failed = 0
        self.errors: list[dict] = []
        self.conf_base: dict[str, str] = {}
        self.conf_leaks: dict[str, int] = {}


# -- environment and session --------------------------------------------


def prepare_env(run_dir: Path) -> None:
    """Keep every file Spark, its workers and the package write under
    ``run_dir`` and pin the core count."""
    for sub in ("tmp", "spark-local"):
        (run_dir / sub).mkdir(parents=True, exist_ok=True)
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "3g")
    os.environ["SPARK_LOCAL_DIRS"] = str(run_dir / "spark-local")
    os.environ["TMPDIR"] = str(run_dir / "tmp")
    tempfile.tempdir = str(run_dir / "tmp")
    # Every JVM (the launcher too): temp files under run_dir, and no
    # hsperfdata file in the system temp directory.
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-XX:+PerfDisableSharedMem -Djava.io.tmpdir={run_dir / 'tmp'}"
    )


def session_conf(run_dir: Path, trace: bool) -> dict[str, str]:
    conf = {
        "spark.sql.warehouse.dir": str(run_dir / "warehouse"),
        "spark.hadoop.hadoop.tmp.dir": str(run_dir / "tmp"),
    }
    if trace:
        (run_dir / "eventlog").mkdir(exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": str(run_dir / "eventlog"),
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    return conf


def setup(run_dir: Path, trace: bool):
    """Start the session and run a first trivial job; returns the session
    and the seconds since process start."""
    from otus_cpp_11_spark.session import get_spark

    spark = get_spark(app_name="perfbench", extra_conf=session_conf(run_dir, trace))
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1).count()
    return spark, proctree.since_process_start_s()


def stop(spark) -> None:
    """Stop the session, end the JVM and wait for every descendant."""
    from pyspark import SparkContext

    descendants = [p for p in proctree.tree_pids() if p != os.getpid()]
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None
    deadline = time.monotonic() + 20
    while descendants and time.monotonic() < deadline:
        descendants = [p for p in descendants if os.path.exists(f"/proc/{p}")]
        time.sleep(0.1)
    for pid in descendants:
        try:
            os.kill(pid, 9)
        except OSError:
            pass


# -- inputs and passes ----------------------------------------------------


def make_inputs(ctx: Context, workload_ops) -> None:
    import datagen
    from workloads import DEPTH, LINES, MR_DEPTH, MR_LINES

    if workload_ops[0].kind == "prefix":
        datagen.write_lines(ctx.lines_path, ctx.seed, LINES, DEPTH)
        datagen.write_lines(ctx.mr_lines_path, ctx.seed, MR_LINES, MR_DEPTH)
        return
    datagen.write_tables(ctx.sf_dir, ctx.seed)
    import duckdb

    from otus_cpp_11_spark.catalog import TABLES
    from otus_cpp_11_spark.registry import all_queries
    from workloads import oracle_rows

    ctx.queries = all_queries()
    con = duckdb.connect()
    con.sql(f"SET temp_directory = '{ctx.run_dir / 'tmp'}'")
    con.sql("SET threads = 1")
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{ctx.sf_dir}/{t}.parquet')")
    for op in workload_ops:
        ctx.expected[op.name] = oracle_rows(con, ctx.queries[op.name].oracle)
    con.close()


def restore_conf(ctx: Context) -> list[str]:
    """Put the SQL confs back to the snapshot; returns the keys that had
    changed (``cli.main`` re-applies its shuffle partitions to the live
    session through ``getOrCreate``)."""
    now = ctx.spark.conf.getAll
    changed = sorted(
        k for k in set(now) | set(ctx.conf_base) if now.get(k) != ctx.conf_base.get(k)
    )
    for k in changed:
        if k in ctx.conf_base:
            ctx.spark.conf.set(k, ctx.conf_base[k])
        else:
            ctx.spark.conf.unset(k)
    return changed


def scratch_usage() -> tuple[int, int]:
    from otus_cpp_11_spark import session

    root = session._SCRATCH_ROOT
    nbytes = nfiles = 0
    if root and os.path.isdir(root):
        for dirpath, _, files in os.walk(root):
            for f in files:
                nfiles += 1
                nbytes += os.path.getsize(os.path.join(dirpath, f))
    return nbytes, nfiles


def cleanup(spark) -> None:
    """Untimed state hygiene between passes: release the package's caches
    and persisted RDDs, drop the pass's scratch tables, nudge the JVM GC."""
    from otus_cpp_11_spark import session
    from otus_cpp_11_spark.queries.bpe import release_bpe_caches
    from otus_cpp_11_spark.queries.dedup import release_dedup_caches

    release_dedup_caches()
    release_bpe_caches()
    for rdd in list(spark.sparkContext._jsc.getPersistentRDDs().values()):
        rdd.unpersist(True)
    root = session._SCRATCH_ROOT
    if root and os.path.isdir(root):
        for entry in os.listdir(root):
            shutil.rmtree(os.path.join(root, entry), ignore_errors=True)
    spark._jvm.System.gc()
    time.sleep(0.5)


def run_pass(ctx: Context, ops, index: int, collect: bool, traced: bool) -> dict:
    from workloads import run_op

    sc = ctx.spark.sparkContext
    conflicts0 = ctx.tracer.conflicts
    latencies = []
    cpu0 = proctree.tree_cpu_s()
    ctx.tracer.enabled = traced
    t_pass = time.perf_counter()
    for op in ops:
        ctx.op_id = ctx.tracer.op = f"p{index}:{op.name}"
        t0 = time.perf_counter()
        ok = False
        try:
            with ctx.tracer.span("op"):
                ok = run_op(ctx, op, collect)
            error = None if ok else "wrong result"
        except Exception:  # counted in error_rate; the run goes on
            error = traceback.format_exc(limit=-8)[-4000:]
        latencies.append(time.perf_counter() - t0)
        ctx.attempted += 1
        if error:
            ctx.failed += 1
            ctx.errors.append({"op": ctx.op_id, "error": error})
        for k in restore_conf(ctx):
            ctx.conf_leaks[f"{op.name}:{k}"] = ctx.conf_leaks.get(f"{op.name}:{k}", 0) + 1
    wall = time.perf_counter() - t_pass
    ctx.tracer.enabled = False
    cpu = proctree.tree_cpu_s() - cpu0
    sc.setJobGroup("harness", "between passes")
    persistent = len(sc._jsc.getPersistentRDDs())
    nbytes, nfiles = scratch_usage()
    cleanup(ctx.spark)
    drift = restore_conf(ctx)
    if drift:  # the per-operation restore must leave nothing behind
        ctx.failed += 1
        ctx.errors.append({"op": f"p{index}:pass-boundary", "error": f"conf drift {drift}"})
    return {
        "index": index,
        "traced": traced,
        "checked": collect,
        "wall_s": wall,
        "cpu_s": cpu,
        "latencies_s": latencies,
        "persistent_rdds": persistent,
        "scratch_bytes": nbytes,
        "scratch_files": nfiles,
        "conflicts": ctx.tracer.conflicts - conflicts0,
    }


def calibrate(spark) -> float:
    """Floor of a fixed, data-independent JVM kernel (min of 3 after 3
    warm-ups); it moves with the machine, never with the code."""
    from pyspark.sql import functions as F

    def kernel() -> float:
        t0 = time.perf_counter()
        spark.range(CALIBRATION_ROWS).select(F.sum(F.col("id") * 2 + 1)).write.format(
            "noop"
        ).mode("overwrite").save()
        return time.perf_counter() - t0

    for _ in range(3):
        kernel()
    return min(kernel() for _ in range(3))


# -- metrics --------------------------------------------------------------


def tail(samples: list[float]) -> dict:
    """Highest of p99/p95/p90/p75 with at least ten samples beyond it; with
    fewer than 40 samples none qualifies and p75 is reported, flagged."""
    n = len(samples)
    for p in (99, 95, 90, 75):
        if n * (100 - p) / 100 >= 10:
            break
    else:
        p = 75
    value = statistics.quantiles(samples, n=100, method="inclusive")[p - 1]
    beyond = sum(1 for s in samples if s > value)
    return {"value": value, "percentile": p, "n": n, "beyond": beyond, "qualified": beyond >= 10}


def end_to_end(passes: list[dict], setup_s: float) -> dict:
    lat = [x for p in passes for x in p["latencies_s"]]
    t = tail(lat)
    return {
        "setup_s": {"value": setup_s, "unit": "s", "n": 1},
        "pass_s": {"value": statistics.median(p["wall_s"] for p in passes), "unit": "s", "n": len(passes)},
        "op_p50_s": {"value": statistics.median(lat), "unit": "s", "n": len(lat)},
        "op_tail_s": {"value": t["value"], "unit": "s", "n": t["n"], "percentile": t["percentile"],
                      "beyond": t["beyond"], "qualified": t["qualified"]},
        "cpu_s": {"value": statistics.median(p["cpu_s"] for p in passes), "unit": "s", "n": len(passes)},
        "peak_rss_mb": {
            "value": statistics.median(p["peak_rss_bytes"] for p in passes) / 2**20,
            "unit": "MB",
            "n": len(passes),
        },
    }


def per_layer(passes: list[dict], tracer, groups: dict, setup_span_s: float) -> dict:
    import tracing

    summary = tracing.summarize(tracer.spans)
    traced = [p for p in passes if p["traced"]]
    untraced = [p for p in passes if not p["traced"]]
    rows = []
    for p in traced:
        prefix = f"p{p['index']}:"
        ops = {op: s for op, s in summary.items() if op.startswith(prefix)}
        gs = {g: v for g, v in groups.items() if g.startswith(prefix)}

        def span(name: str, field: str = "s") -> float:
            return sum(s.get(name, {}).get(field, 0) for s in ops.values())

        def ev(field: str, phase: str | None = None, op: str | None = None) -> float:
            return sum(
                v[field]
                for g, v in gs.items()
                if (phase is None or g.endswith(f":{phase}"))
                and (op is None or g.startswith(f"{prefix}{op}:"))
            )

        prefix_ops = [op for op, s in ops.items() if "prefix.min_unique_prefix_length" in s]
        answers = span("prefix.min_unique_prefix_length", "calls")
        jobs_per_answer = (
            sum(ev("jobs", op=op[len(prefix):]) for op in prefix_ops) / answers if answers else 0
        )
        slowest = max(gs.values(), key=lambda v: v["slowest_stage_s"], default=None)
        run_s, cpu_s = ev("executor_run_s"), ev("executor_cpu_s")
        rows.append(
            {
                "catalog.load_table.calls": span("catalog.load_table", "calls"),
                "catalog.load_table.s": span("catalog.load_table"),
                "catalog.spread.calls": span("catalog.spread", "calls"),
                "catalog.spread.s": span("catalog.spread"),
                "queries.build.s": span("queries.build", "self_s"),
                "queries.build.jobs": ev("jobs", "build"),
                "exec.s": span("exec"),
                "exec.jobs": ev("jobs", "exec"),
                "exec.stages": ev("stages", "exec"),
                "exec.tasks": ev("tasks", "exec"),
                "exec.executor_run_s": run_s,
                "exec.executor_cpu_s": cpu_s,
                "exec.cpu_ratio": cpu_s / run_s if run_s else 0.0,
                "exec.gc_s": ev("gc_s"),
                "exec.shuffle_write_bytes": ev("shuffle_write_bytes"),
                "exec.shuffle_read_bytes": ev("shuffle_read_bytes"),
                "exec.spill_bytes": ev("spill_bytes"),
                "exec.task_skew": slowest["task_skew"] if slowest else 0.0,
                "mapreduce.run.calls": span("mapreduce.run", "calls"),
                "mapreduce.run.s": span("mapreduce.run"),
                "mapreduce.shuffle_write_bytes": ev("shuffle_write_bytes", op="mapreduce.find"),
                "prefix.min_unique_prefix_length.s": span("prefix.min_unique_prefix_length"),
                "prefix.has_duplicate_prefix.calls": span("prefix.has_duplicate_prefix", "calls"),
                "prefix.jobs_per_answer": jobs_per_answer,
                "cli.main.s": span("cli.main"),
                "versioned.commit.calls": span("versioned.commit", "calls"),
                "versioned.commit.s": span("versioned.commit"),
                "versioned.read.calls": span("versioned.read", "calls"),
                "versioned.read.s": span("versioned.read"),
                "versioned.bytes_written": p["scratch_bytes"],
                "versioned.files_written": p["scratch_files"],
                "versioned.conflicts": p["conflicts"],
            }
        )
    out = {k: {"value": statistics.median(r[k] for r in rows), "unit": PER_LAYER[k]} for k in rows[0]}
    out["session.get_spark_s"] = {"value": setup_span_s, "unit": "s"}
    out["cache.persistent_rdds"] = {"value": max(p["persistent_rdds"] for p in passes), "unit": "count"}
    base = statistics.median(p["wall_s"] for p in untraced)
    out["trace.overhead_pct"] = {
        "value": 100.0 * (statistics.median(p["wall_s"] for p in traced) - base) / base,
        "unit": "%",
    }
    return {k: out[k] for k in PER_LAYER}


# -- main -----------------------------------------------------------------


def machine_context() -> dict:
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "loadavg": os.getloadavg(),
    }


def run(args) -> int:
    import tracing
    from workloads import ops_for

    ops = ops_for(args.workload)
    run_dir = WORK / f"run-{os.getpid()}"
    prepare_env(run_dir)
    context = machine_context()
    tracer = tracing.Tracer()
    rebound = tracing.install(tracer) if args.trace else {}
    tracer.enabled = bool(args.trace)
    spark, setup_s = setup(run_dir, bool(args.trace))
    tracer.enabled = False
    ctx = Context(spark, tracer, run_dir, args.seed)
    make_inputs(ctx, ops)
    ctx.conf_base = spark.conf.getAll

    warmup = []
    for i in range(WARMUP_PASSES):
        warmup.append(run_pass(ctx, ops, -1 - i, collect=i == WARMUP_PASSES - 1, traced=False))
    passes = []
    t0 = time.perf_counter()
    with proctree.RssSampler() as rss:
        while len(passes) < MIN_PASSES or time.perf_counter() - t0 < args.seconds:
            # traced runs go untraced, traced, traced, untraced, ... so a
            # drift across passes cancels out of trace.overhead_pct
            traced = bool(args.trace) and len(passes) % 4 in (1, 2)
            rss.take()
            p = run_pass(ctx, ops, len(passes), collect=False, traced=traced)
            p["peak_rss_bytes"] = rss.take()
            passes.append(p)
    floor = calibrate(spark)
    stop(spark)

    artifact = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "ops": [op.name for op in ops],
        "machine": context,
        "warmup_pass_s": [p["wall_s"] for p in warmup],
        "passes": passes,
        "attempted": ctx.attempted,
        "failed": ctx.failed,
        "error_rate": ctx.failed / ctx.attempted,
        "errors": ctx.errors,
        "conf_leaks_restored": ctx.conf_leaks,
    }
    if args.trace:
        import eventlog

        logs = list((run_dir / "eventlog").iterdir())
        groups = eventlog.fold(e for log in logs for e in eventlog.read_events(str(log)))
        setup_span = next(s for s in tracer.spans if s["name"] == "session.get_spark")
        metrics = per_layer(passes, tracer, groups, setup_span["end"] - setup_span["start"])
        artifact["rebound_names"] = rebound
        artifact["spans"] = tracer.spans
        artifact["event_log_groups"] = groups
    else:
        metrics = end_to_end(passes, setup_s)
    context["loadavg_end"] = os.getloadavg()
    core_class = f"c{context['nproc']}"
    context["calibration"] = {
        "core_class": core_class,
        "floor_s": floor,
        "reference_floor_s": REFERENCE_FLOOR_S.get(core_class),
        "slowdown": floor / REFERENCE_FLOOR_S[core_class] if core_class in REFERENCE_FLOOR_S else None,
    }
    artifact["metrics"] = metrics
    (WORK / "artifacts").mkdir(parents=True, exist_ok=True)
    out = WORK / "artifacts" / f"{args.workload}-seed{args.seed}-trace{args.trace}-{os.getpid()}.json"
    out.write_text(json.dumps(artifact, indent=1, default=str))
    shutil.rmtree(run_dir, ignore_errors=True)

    for name, m in metrics.items():
        extra = f" n={m['n']}" if "n" in m else ""
        if name == "op_tail_s":
            extra += f" (p{m['percentile']}, {m['beyond']} beyond)"
        print(f"# {args.workload} {name} = {m['value']:.6g} {m['unit']}{extra}")
    print(f"# {args.workload} error_rate = {artifact['error_rate']:.6g} n={ctx.attempted}")
    for e in ctx.errors[:20]:
        print(f"# error {e['op']}: {e['error'].strip().splitlines()[-1]}")
    result = {
        "correct": ctx.failed == 0,
        "attempted": ctx.attempted,
        "failed": ctx.failed,
        "metrics": {k: {"value": m["value"], "unit": m["unit"]} for k, m in metrics.items()},
    }
    print(json.dumps(result), flush=True)
    return 0


def run_all(args) -> int:
    """Every workload of BENCHMARK.json, one child process each."""
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    results = {}
    for w in (x["name"] for x in spec["workloads"]):
        cmd = [sys.executable, str(Path(__file__)), "--workload", w, "--seed", str(args.seed),
               "--seconds", str(args.seconds), "--trace", str(args.trace)]
        res = subprocess.run(cmd, capture_output=True, text=True, timeout=900)
        lines = res.stdout.strip().splitlines()
        for line in lines[:-1]:
            print(line)
        if res.returncode != 0 or not lines:
            print(res.stderr[-3000:], file=sys.stderr)
            return res.returncode or 1
        results[w] = json.loads(lines[-1])
    print(json.dumps(results))
    return 0


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", choices=(*WORKLOADS, "all"))
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=10)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args()
    if not (ROOT / "otus_cpp_11_spark" / "__init__.py").is_file():
        print(f"perfbench: package otus_cpp_11_spark not found under {ROOT}", file=sys.stderr)
        return 2
    if args.workload is None:
        p.error("--workload is required")
    return run_all(args) if args.workload == "all" else run(args)


if __name__ == "__main__":
    sys.exit(main())
