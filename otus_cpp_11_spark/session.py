"""SparkSession factory.

Local test mode runs ``local[$SPARK_GRAFT_CPUS]`` (default ``local[*]``), but
every conf here is chosen for a multi-executor cluster at ~100 TB scale:

- AQE on (runtime partition coalescing, skew-join splitting, plan re-opt);
- shuffle partitions sized to cores locally — on a real cluster raise to
  ~2-3x total executor cores, or let AQE coalesce from a high initial value;
- Arrow on, so any Pandas-UDF hop is vectorized batch transfer, not pickle;
- session timezone pinned UTC so timestamp semantics match the DuckDB oracle
  (and are cluster-location-independent, which you want in production too);
- Python workers fork from ``worker_daemon`` (``spark.python.daemon.module``),
  which keeps each task's ``importlib.invalidate_caches()`` from re-reading
  the central directory of every zip on the worker's ``sys.path`` (about
  0.25 s of CPU per task on CPython < 3.13, which made it lazy);
- Python workers, accumulator updates and local collects talk to the JVM
  over Unix domain sockets instead of loopback TCP, which saves about
  40 ms per Python task. The sockets live in a per-process directory made
  by ``_socket_dir`` with mode 0700 and removed at exit. In this mode
  ``pyspark.daemon`` treats every connection as authenticated and checks
  no secret, so the directory's permissions are the only thing that keeps
  other local users off the workers. A session built without
  ``get_spark`` keeps Spark's default: TCP with a per-session secret.
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile

from pyspark.sql import SparkSession

_SCRATCH_ROOT: str | None = None
_SOCKET_DIR: str | None = None
# Spark rejects a spark.python.unix.domain.socket.dir of 61 characters or
# more: each socket is the dir plus "/.<uuid4>.sock" and must fit sun_path.
_SOCKET_DIR_MAX = 60


def scratch_dir(prefix: str) -> str:
    """Fresh scratch directory for a maintained-table query (streamed CDC
    state, rollup tiers, SCD2 raw stores, compaction staging). Each call
    returns a NEW empty dir — the maintainers require a fresh target per
    invocation — but all of them live under one per-process root that is
    removed at interpreter exit, so repeated bench/oracle invocations
    don't leak a full copy of every maintained table per call (r5 ADVICE).
    At scale the equivalent is a job-scoped prefix on the cluster FS that
    the orchestrator garbage-collects."""
    global _SCRATCH_ROOT
    if _SCRATCH_ROOT is None:
        _SCRATCH_ROOT = tempfile.mkdtemp(prefix="sg-scratch-")
        atexit.register(shutil.rmtree, _SCRATCH_ROOT, ignore_errors=True)
    return tempfile.mkdtemp(prefix=prefix, dir=_SCRATCH_ROOT)


def _socket_dir() -> str:
    """This process's directory for Python-worker Unix sockets: mode 0700
    (``mkdtemp``), removed at interpreter exit. It sits in the temp dir
    when that path is short enough and in ``/tmp`` otherwise, since a
    deep ``TMPDIR`` would put it past Spark's length limit. It is not
    under ``scratch_dir``'s root, whose entries are table data, nor is it
    ``/tmp`` itself, where dead drivers leave their ``.sock`` files."""
    global _SOCKET_DIR
    if _SOCKET_DIR is None:
        prefix = "sg-uds-"
        parent = tempfile.gettempdir()
        # mkdtemp appends 8 random characters
        if len(os.path.join(parent, prefix)) + 8 > _SOCKET_DIR_MAX:
            parent = "/tmp"
        _SOCKET_DIR = tempfile.mkdtemp(prefix=prefix, dir=parent)
        atexit.register(shutil.rmtree, _SOCKET_DIR, ignore_errors=True)
    return _SOCKET_DIR


def get_spark(
    app_name: str = "otus-cpp-11-spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get("SPARK_GRAFT_SHUFFLE", "32"))
    if shuffle_partitions < 1:
        # checked before the builder runs: a fresh session built with 0
        # cannot instantiate its SQL state and hangs instead of raising
        raise ValueError(
            f"shuffle_partitions must be >= 1, got {shuffle_partitions} "
            "(argument or SPARK_GRAFT_SHUFFLE)"
        )
    # Python workers deserialize custom DataSource classes BY REFERENCE
    # (cloudpickle pickles module-level classes as imports), so the
    # package dir must be importable in the worker regardless of the
    # driver's cwd. Exporting it before the JVM starts makes worker
    # spawns inherit it; on a real cluster the same job is done by
    # --py-files / spark.submit.pyFiles shipping the package.
    pkg_parent = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    pp = os.environ.get("PYTHONPATH", "")
    if pkg_parent not in pp.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            f"{pkg_parent}{os.pathsep}{pp}" if pp else pkg_parent
        )
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.python.daemon.module", "otus_cpp_11_spark.worker_daemon")
        .config("spark.python.unix.domain.socket.enabled", "true")
        .config("spark.python.unix.domain.socket.dir", _socket_dir())
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # The default 100-entry generated-class cache thrashes once a
        # session runs more than ~20 distinct query plans (each plan is
        # several codegen stages): the janino recompile of a large fused
        # expression costs seconds — measured 3x on the minhash query when
        # it runs after 30+ other queries. An entry is just a class
        # reference, so a bigger cache is cheap.
        .config("spark.sql.codegen.cache.maxEntries", "2000")
        # The events table carries timestamp[ns]; Spark has no nanosecond
        # timestamp type and rejects the file outright without this conf.
        # We read nanos as raw long and convert in catalog.load_table.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # Write timestamps as TIMESTAMP_MICROS, not the deprecated INT96:
        # INT96 has no logical-type annotation, so pyarrow surfaces it as
        # timestamp[ns] — which Spark's OWN Arrow bridge rejects when a
        # Python DataSource (the versioned-table connector) hands the
        # batches back. Micros round-trip Spark -> parquet -> pyarrow ->
        # Spark losslessly; they are also what Delta/Iceberg mandate.
        .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
        # r13 (guide §2.4/§1.2): both filter-inference rules copy DERIVED-
        # column expressions into scan-adjacent Filters. For this engine's
        # text/vector queries those columns are the expensive part (word-
        # shingle zip_with chains, LSH hyperplane aggregates), so the
        # "free" inferred predicate re-evaluates the whole chain once per
        # row in the scan stage — serially on single-row-group local
        # files (the spread() pushdown hole), and as pure duplicate
        # compute at any scale (the Project recomputes it post-exchange;
        # nearly no rows are actually pruned: docs with <k words / null
        # keys are rare-to-impossible here by construction). Exclusion is
        # semantics-preserving (both rules only ADD redundant filters) —
        # A/B floors and plan diffs in OPTIMIZATION_r13.md. A lake where
        # null-key pruning at the scan outweighs duplicated projection
        # sets its own value through get_spark(extra_conf=...), which is
        # applied after this.
        .config(
            "spark.sql.optimizer.excludedRules",
            "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate,"
            "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromConstraints",
        )
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
