"""Custom Python DataSource (Spark 4 ``pyspark.sql.datasource`` API) — the
'arbitrary source connector' surface (SURVEY.md §2.2 sources row; the
reference's only source is a line-text file, src/mapreduce.cpp:111-137).

``SyntheticEventsDataSource`` is a partitioned, deterministic event
generator: the connector reports N input partitions and each executor
task materializes only its own slice from a closed form of the row id —
the same contract a real connector (Kafka admin + per-partition consume,
JDBC predicate ranges, REST cursor shards) fulfills. Because rows are a
pure function of ``i``, results are retry-identical and a SQL oracle can
recompute any aggregate of the stream without reading it.
"""

from __future__ import annotations

import logging
import re
from collections.abc import Iterator, Sequence

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamReader,
    InputPartition,
    SimpleDataSourceStreamReader,
)

from otus_cpp_11_spark.ops import manifest_format as mf

log = logging.getLogger(__name__)

SOURCE_NAME = "synthetic_events"
DEFAULT_ROWS = 5000
DEFAULT_PARTS = 8

# closed form: user = i % 97, value = (i * 31) % 1000 / 10
SCHEMA = "event_id bigint, user_id bigint, value double"


class _Range(InputPartition):
    def __init__(self, start: int, end: int):
        self.start, self.end = start, end


class _Reader(DataSourceReader):
    def __init__(self, options: dict):
        self.n = int(options.get("rows", DEFAULT_ROWS))
        self.parts = int(options.get("partitions", DEFAULT_PARTS))

    def partitions(self) -> Sequence[InputPartition]:
        step = -(-self.n // self.parts)
        return [
            _Range(lo, min(lo + step, self.n)) for lo in range(0, self.n, step)
        ]

    def read(self, partition: _Range) -> Iterator[tuple]:
        for i in range(partition.start, partition.end):
            yield i, i % 97, (i * 31) % 1000 / 10.0


class _StreamReader(SimpleDataSourceStreamReader):
    """Offset-tracked streaming face of the same closed-form generator:
    offsets are row indices, each micro-batch advances by ``batch_rows``
    until the capped ``rows`` is reached, after which reads return the
    unchanged offset (no progress -> an AvailableNow drain terminates).
    ``readBetweenOffsets`` replays any committed range identically —
    the exactly-once-replay contract a real cursor/offset connector
    (Kafka, kinesis, CDC log) must honor on recovery."""

    def __init__(self, options: dict):
        self.n = int(options.get("rows", DEFAULT_ROWS))
        self.batch = int(options.get("batch_rows", 1000))

    def initialOffset(self) -> dict:
        return {"i": 0}

    def read(self, start: dict):
        lo = int(start["i"])
        hi = min(lo + self.batch, self.n)
        return self._rows(lo, hi), {"i": hi}

    def readBetweenOffsets(self, start: dict, end: dict) -> Iterator[tuple]:
        return self._rows(int(start["i"]), int(end["i"]))

    @staticmethod
    def _rows(lo: int, hi: int) -> Iterator[tuple]:
        return iter([(i, i % 97, (i * 31) % 1000 / 10.0) for i in range(lo, hi)])


class SyntheticEventsDataSource(DataSource):
    """spark.read.format("synthetic_events").option("rows", N).load() —
    batch face; ``spark.readStream`` on the same format gets the
    offset-tracked streaming face (_StreamReader)."""

    @classmethod
    def name(cls) -> str:
        return SOURCE_NAME

    def schema(self) -> str:
        return SCHEMA

    def reader(self, schema) -> _Reader:
        return _Reader(self.options)

    def simpleStreamReader(self, schema) -> _StreamReader:
        return _StreamReader(self.options)


def register_synthetic_source(spark) -> None:
    """Idempotent registration (re-registering the same name replaces)."""
    spark.dataSource.register(SyntheticEventsDataSource)


# --------------------------------------------------------------------------
# Versioned-table connector: batch + streaming faces over ops.versioned
# manifest commits (r7). The streaming face is Delta's `readStream` on a
# table: offsets are COMMIT VERSION NUMBERS, a micro-batch is the set of
# data files the commits in (start, end] ADDED, and each file is one
# executor-side InputPartition read as Arrow batches — the driver only
# ever touches manifests (file lists), never data.
# --------------------------------------------------------------------------

VT_SOURCE_NAME = "versioned_table"

# pure-metadata commit ops the row stream passes over silently: they add
# no data files and rewrite no rows (subset of manifest_format's
# CDF_NEUTRAL_OPS — optimize is deliberately NOT here: it rewrites rows
# into new files, and the loud-failure/skipChangeCommits contract covers
# it)
_VT_STREAM_NEUTRAL_OPS = frozenset(
    {"rename_column", "drop_column", "add_constraint", "drop_constraint"}
)
# widen_column is deliberately NOT stream-neutral (unlike rename/drop,
# whose physical names are rename-stable): a stream's output schema is
# pinned at start, and silently passing over a widening would defer the
# failure to the first appended value that overflows the pinned narrow
# type — executor-side, mid-batch, far from the cause. Delta fails a
# readStream on schema change and requires a restart (which adopts the
# wide schema); we do the same, loudly and at the widening commit.


def _vt_resolve_txn_text(text: str, table: str, version: int) -> str:
    """The connector's READER-ONLY view of a txn-claimed marker
    (``mf.txn_claim``): committed passes through, aborted becomes
    ``mf.aborted_view``. An IN-DOUBT claim polls briefly then fails
    loudly — this face cannot write the abort record an engine reader
    would, and silently skipping could permanently drop a version a
    stream cursor then moves past. The table-side seal is consulted
    BEFORE the transaction root, so a cleaned root never strands or
    rewrites decided history on this face either."""
    import json
    import time

    header = mf.txn_claim(text)
    if header is None:
        return text
    txn = header["txn"]
    try:
        doc = json.loads(mf.local_read(table, mf.seal_name(version)))
    except FileNotFoundError:
        doc = {}
    state = doc["state"] if doc.get("txn") == txn["id"] else None
    final_path = f"{txn['root'].rstrip('/')}/{mf.final_name(txn['id'])}"

    def final_state():
        try:
            with open(final_path) as f:
                return json.load(f)["state"]
        except FileNotFoundError:
            return None

    if state is None:
        state = final_state()
        deadline = time.monotonic() + 2.0
        while state is None and time.monotonic() < deadline:
            time.sleep(0.1)
            state = final_state()
    if state is None:
        raise RuntimeError(
            f"versioned_table: marker claimed by IN-DOUBT transaction "
            f"{txn['id']!r} (no final record at {final_path!r}); read "
            "the table through ops.versioned once to resolve it"
        )
    return text if state == "commit" else mf.aborted_view(header)


def _vt_marker(table: str, version: int) -> tuple[dict, list[str]]:
    """(header, body) of one commit marker, txn claims resolved."""
    text = mf.local_read(table, mf.marker_name(version))
    return mf.parse_marker(_vt_resolve_txn_text(text, table, version))


def _vt_read_manifest(table: str, version: int):
    """(marker header + reconstructed ``dv`` map, snapshot file list) of
    a plain-filesystem table: the shared ``mf`` log reads and replay,
    run DRIVER-side only (``partitions()`` / ``schema()``)."""

    def read(n: str) -> str:
        text = mf.local_read(table, n)
        m = mf.MARKER_RE.match(n)
        return _vt_resolve_txn_text(text, table, int(m.group(1))) if m else text

    header, _ = _vt_marker(table, version)
    state = mf.load_state(version, read, mf.local_names(table))
    if state["dv"]:
        header["dv"] = state["dv"]
    else:
        header.pop("dv", None)
    return header, state["files"]


def _vt_dv_descriptor(table: str, dv: dict) -> dict:
    """DV descriptor to ship inside a partition: inline indices pass
    through (bounded by ``manifest_format.DV_INLINE_MAX`` per file); a
    sidecar ships as its RESOLVED path and the executor read loads the
    index list there (r8 advice: resolving every sidecar driver-side
    made planning a wide-RTBF snapshot O(total deleted rows) of driver
    memory and pickled partition bytes)."""
    if "i" in dv:
        return {"i": list(dv["i"])}
    return {"p": mf.resolve(table, dv["p"])}


def _vt_dv_load(dv: dict | None) -> list[int]:
    """Executor-side materialization of a shipped DV descriptor."""
    import json

    if not dv:
        return []
    if "i" in dv:
        return list(dv["i"])
    with open(dv["p"]) as f:
        return json.load(f)["i"]


def _vt_parse_ts(raw: str) -> float:
    """Epoch seconds from an option value: numeric epoch or ISO-8601."""
    try:
        return float(raw)
    except ValueError:
        import datetime as _dt

        return _dt.datetime.fromisoformat(raw).timestamp()


def _vt_parse_bytes(raw) -> int:
    """Byte-cap option value in Spark's byte-string grammar: a whole
    number with an optional binary multiplier ``k/m/g/t/p`` and an
    optional trailing ``b`` (``10``, ``10k``, ``64mb``, ``1gb``, ``2t``).
    Anything else is refused by name, never half-parsed."""
    m = re.fullmatch(r"([0-9]+)([kmgtp]?)b?", str(raw).strip().lower())
    if m is None:
        raise ValueError(
            "versioned_table: maxBytesPerTrigger must be a byte size such "
            f"as '1048576', '64m' or '1gb', got {raw!r}"
        )
    return int(m.group(1)) * 1024 ** " kmgtp".index(m.group(2) or " ")


def _vt_opts(options: dict) -> dict:
    """Lower-cased option keys: Spark hands DataSources a
    CaseInsensitiveDict, unit tests hand plain dicts — normalize once
    so both spell options however they like."""
    return {str(k).lower(): v for k, v in options.items()}


def _vt_pinned_version(options: dict):
    """The version a batch read pins: versionAsOf / timestampAsOf
    (mutually exclusive), else the current version (None for a table
    with no commits)."""
    options = _vt_opts(options)
    table = options["path"].rstrip("/")
    v_opt, t_opt = options.get("versionasof"), options.get("timestampasof")
    if v_opt is not None and t_opt is not None:
        raise ValueError(
            "versioned_table: versionAsOf and timestampAsOf are mutually "
            "exclusive"
        )
    if v_opt is not None:
        return int(v_opt)
    if t_opt is not None:
        ts = _vt_parse_ts(t_opt)
        v = mf.local_version_at(table, ts)
        if v is None:
            raise ValueError(
                f"versioned_table: no commit of {table!r} at or before "
                f"timestampAsOf={t_opt!r} (earliest commit is newer)"
            )
        return v
    return max(mf.local_versions(table), default=None)


def _vt_cdf_schema_json(schema_json: str) -> str:
    """Table schema extended with the change-feed columns — the flat
    Delta CDF shape, field list shared with the batch face through
    ``manifest_format.CDF_FIELDS``."""
    import json

    s = json.loads(schema_json)
    s["fields"] = list(s["fields"]) + [
        {"name": n, "type": t, "nullable": True, "metadata": {}}
        for n, t in mf.CDF_FIELDS
    ]
    return json.dumps(s)


class _VTFile(InputPartition):
    """``path=None`` marks the placeholder partition of an EMPTY
    snapshot (e.g. after a delete-everything DML commit, whose manifest
    references no files): Spark's Python DataSource API needs at least
    one partition, and the read of the placeholder yields no batches.
    ``dv`` carries the file's deletion-vector DESCRIPTOR (inline
    indices, or a resolved sidecar path the executor loads) for the
    read to mask — index lists never materialize on the driver."""

    def __init__(
        self,
        path: str | None,
        dv: dict | None = None,
        consts: list | None = None,
    ):
        self.path = path
        self.dv = dv
        # constant columns to append executor-side: [(name, value,
        # arrow type alias)] — how a change-feed read stamps
        # _commit_version (and 'insert' _change_type for append files)
        # onto rows without the writer having stored them per row
        self.consts = consts


def _vt_read_file(
    partition: _VTFile, schema_json: str | None = None, cmap: dict | None = None
):
    """Executor-side file read, ALIGNED to the snapshot's declared
    schema: additive evolution means older files legitimately lack the
    newer columns (padded with NULL — the same fill ops.versioned.
    read_version gets from Spark's parquet reader) and, on a long-lived
    stream, newer files may carry columns the stream's fixed schema
    predates (projected away). Column order follows the declaration.
    ``cmap`` (the snapshot's column mapping, see
    ops.versioned.manifest_cmap) renames the file's PHYSICAL column
    names to the declared LOGICAL ones before alignment, so renamed /
    dropped columns read correctly through the connector too.
    Deletion-vector positions (``partition.dv``) are masked FIRST —
    they index the file's physical row order."""
    import pyarrow.parquet as pq

    if partition is None or partition.path is None:
        return  # empty snapshot's placeholder partition: no batches
    tbl = pq.read_table(partition.path)
    if getattr(partition, "dv", None):
        import numpy as np
        import pyarrow as pa

        keep = np.setdiff1d(
            np.arange(tbl.num_rows, dtype="int64"),
            np.asarray(
                sorted(set(_vt_dv_load(partition.dv))), dtype="int64"
            ),
        )
        tbl = tbl.take(pa.array(keep))
    for name, val, typ in getattr(partition, "consts", None) or []:
        import pyarrow as pa

        # pa.repeat: O(1) Python objects — a list-comprehension constant
        # would allocate num_rows references per file in the Arrow fast
        # path
        tbl = tbl.append_column(
            name,
            pa.repeat(pa.scalar(val, type=pa.type_for_alias(typ)), tbl.num_rows),
        )
    # legacy INT96 parquet timestamps surface as timestamp[ns], which
    # Spark's Arrow bridge rejects outright — normalize to micros
    # (INT96 is UTC-normalized, so a naive ns column casts to tz=UTC);
    # new writes are TIMESTAMP_MICROS (session.py) and skip this
    import pyarrow as pa

    for i, f in enumerate(tbl.schema):
        if pa.types.is_timestamp(f.type) and f.type.unit == "ns":
            tbl = tbl.set_column(
                i,
                f.name,
                tbl.column(i).cast(pa.timestamp("us", f.type.tz or "UTC")),
            )
    if schema_json is not None:
        import json

        import pyarrow as pa
        from pyspark.sql.pandas.types import to_arrow_type
        from pyspark.sql.types import StructType

        want = StructType.fromJson(json.loads(schema_json))
        names = [f.name for f in want.fields]
        # each declared column is looked up by its PHYSICAL name and
        # emitted under its logical one — a projection, never a blanket
        # rename of the file's columns (review finding: a file can also
        # hold BURNED physical columns of dropped/renamed fields, and
        # renaming those too would produce duplicate names; physical
        # names within a file are unique, so this lookup never is).
        # Each column is also CAST to the declared arrow type when the
        # file's differs (r11 type widening: a pre-widening file stores
        # int32 under a bigint declaration — Spark's Arrow bridge
        # rejects the narrow vector outright, and the widening cast is
        # lossless by _widens_to construction).
        phys = [(cmap or {}).get(n, n) for n in names]
        have = set(tbl.column_names)
        cols, casted = [], False
        for p, f in zip(phys, want.fields):
            at = to_arrow_type(f.dataType)
            if p in have:
                col = tbl.column(p)
                if col.type != at:
                    col = col.cast(at)
                    casted = True
                cols.append(col)
            else:
                cols.append(pa.nulls(tbl.num_rows, at))
        if tbl.column_names != names or phys != names or casted:
            tbl = pa.Table.from_arrays(cols, names=names)
    yield from tbl.to_batches()


class _VTBatchReader(DataSourceReader):
    """Batch face: one snapshot's files, one InputPartition per data
    file (the manifest is the split plan — no directory listing, no
    footer probing on the driver). Defaults to the CURRENT snapshot;
    ``versionAsOf``/``timestampAsOf`` pin time travel exactly like
    Delta's options of the same names (a timestamp resolves to the
    latest version whose in-commit ``commit_ts`` — the marker's mtime
    for pre-feature markers — is at or before it: ``mf.version_at``)."""

    def __init__(self, options: dict):
        self.table = _vt_opts(options)["path"].rstrip("/")
        # resolve the version ONCE: re-resolving at plan time would let a
        # concurrent commit tear the read (one version's files aligned to
        # another version's schema) — snapshot isolation means the whole
        # read is pinned to the version chosen here
        self.version = _vt_pinned_version(options)
        # the snapshot's declared schema + column mapping ride to
        # executors with the (pickled) reader so every file read aligns
        self._hdr = (
            _vt_read_manifest(self.table, self.version)[0]
            if self.version is not None
            else None
        )
        self._cmap = (self._hdr or {}).get("cmap") or {}
        self._schema_json = (
            self._hdr["schema"]
            if self.version is not None
            else None
        )

    def partitions(self) -> Sequence[InputPartition]:
        if self.version is None:
            raise FileNotFoundError(
                f"versioned table {self.table!r} has no commits"
            )
        header, files = _vt_read_manifest(self.table, self.version)
        if not files:
            return [_VTFile(None)]
        dvs = header.get("dv") or {}
        return [
            _VTFile(
                mf.resolve(self.table, f),
                _vt_dv_descriptor(self.table, dvs[f]) if dvs.get(f) else None,
            )
            for f in files
        ]

    def read(self, partition: _VTFile):
        return _vt_read_file(partition, self._schema_json, self._cmap)


class _VTStreamReader(DataSourceStreamReader):
    """Streaming face — Delta `readStream` semantics: version-number
    offsets; ``partitions(start, end)`` walks the manifests of commits
    (start, end] and emits the files each commit ADDED over its parent
    (version 1 is the initial snapshot, streamed in full). A non-append
    commit (upsert/optimize/full) REWRITES rows already streamed, so by
    default it fails the stream loudly; ``skipChangeCommits=true`` skips
    its file delta, exactly Delta's option of the same name. Replay of a
    committed offset range re-lists the same immutable manifests —
    manifest immutability IS the exactly-once-replay contract, no extra
    bookkeeping. The driver handles file LISTS only; every data byte is
    read executor-side as Arrow batches."""

    def __init__(self, options: dict):
        options = _vt_opts(options)
        self.table = options["path"].rstrip("/")
        # the stream's OUTPUT schema pins to the table's schema at START
        # (Spark resolves it once); widenings at or before this version
        # are already reflected in that schema and stream-neutral, while
        # a widening committed AFTER it fails the walk loudly (Delta's
        # readStream-on-schema-change restart contract)
        self._schema_pin = max(mf.local_versions(self.table), default=0)
        self.skip_change = (
            str(options.get("skipchangecommits", "false")).lower() == "true"
        )
        # readChangeFeed=true — Delta's streaming CDF: instead of a
        # snapshot-consistent row stream (append files only), emit the
        # row-level CHANGE stream — appends' added files as inserts,
        # DML commits' writer-recorded change files verbatim (see
        # ops.versioned.read_change_feed for the batch face + contract)
        self.cdf = str(options.get("readchangefeed", "false")).lower() == "true"
        self.starting = options.get("startingversion")
        # startingTimestamp — Delta's option of the same name: stream
        # changes committed AT or after the instant (see _starting_base).
        # Mutually exclusive with startingVersion.
        self.starting_ts = options.get("startingtimestamp")
        if self.starting is not None and self.starting_ts is not None:
            raise ValueError(
                "versioned_table: startingVersion and startingTimestamp "
                "are mutually exclusive"
            )
        # maxFilesPerTrigger — Delta's admission control: cap how many
        # data/change files one micro-batch may plan, so a consumer
        # catching up after downtime drains pending versions in BOUNDED
        # batches instead of one unbounded catch-up batch (the r8
        # verdict's last unbounded-batch hazard). Offsets are version-
        # granular, so at least one full version is always admitted per
        # trigger even when it alone exceeds the cap (Delta admits at
        # least one file the same way). The per-version file counts come
        # from the fmt-2 markers' own action lines — one marker read per
        # version, no snapshot replay.
        raw_cap = options.get("maxfilespertrigger")
        self.max_files = int(raw_cap) if raw_cap is not None else None
        if self.max_files is not None and self.max_files < 1:
            raise ValueError(
                f"versioned_table: maxFilesPerTrigger must be >= 1, got "
                f"{raw_cap!r}"
            )
        # maxBytesPerTrigger — Delta's soft byte cap (r9 verdict item 6),
        # honored alongside the file cap (a version is admitted only
        # while BOTH budgets hold; the first pending version always
        # admits, so an oversized commit still progresses alone). File
        # counts come from the fmt-2 marker's own action lines; byte
        # sizes from one driver-side stat per pending file, cached per
        # version (the connector is the plain-filesystem face — an
        # object-store deployment would read sizes from its listing).
        raw_bcap = options.get("maxbytespertrigger")
        self.max_bytes = _vt_parse_bytes(raw_bcap) if raw_bcap is not None else None
        if self.max_bytes is not None and self.max_bytes < 1:
            raise ValueError(
                f"versioned_table: maxBytesPerTrigger must be >= 1 byte, "
                f"got {raw_bcap!r}"
            )
        self._adm_cache: dict[int, tuple[int, int | None]] = {}
        # admission-control cursor: the newest version already planned
        # (or replayed) by THIS reader. The Python DataSource API hands
        # latestOffset() no start offset, so the cap measures from here.
        # Seeded to the stream's starting base because Spark calls
        # latestOffset() BEFORE initialOffset() on a fresh stream
        # (observed call order, pyspark 4.1); on a RESTART, Spark first
        # replays commit(end) with the checkpointed offset (and
        # partitions(start, end) for an unfinished batch), both of which
        # only ever ADVANCE the cursor — so a capped latestOffset can
        # never regress behind the checkpoint and re-emit versions.
        self._cursor: int | None = self._starting_base()
        # r9 advice (low): the seeded cursor relies on pyspark 4.1's
        # observed restart order (commit/partitions replay before
        # latestOffset). If a future engine calls latestOffset FIRST
        # after a restart, the capped offset computed from the seed can
        # land below the checkpoint. Rather than hard-failing a healthy
        # stream, a backward-planned batch on a reader whose position is
        # still UNLEARNED (no engine callback confirmed it yet) degrades
        # gracefully — empty batch, cursor jumps to the checkpointed
        # start, and a floor clamp keeps the regressed WAL entry from
        # re-emitting already-streamed versions; this also survives a
        # restart that replays a previously-degraded entry. A LEARNED
        # reader planned backward still fails loudly (genuine anomaly).
        self._learned = False
        self._floor: int | None = None
        cur = max(mf.local_versions(self.table), default=None)
        # the stream's schema is FIXED at start (Spark resolves it once);
        # align every commit's files to it — older files pad evolved
        # columns with NULL, files evolved mid-stream project down
        start_hdr = (
            _vt_read_manifest(self.table, cur)[0] if cur is not None else None
        )
        self._schema_json = start_hdr["schema"] if start_hdr else None
        # the column mapping is pinned WITH the schema: physical names
        # are stable across renames, so files from later versions still
        # read correctly under the stream's fixed logical names
        self._cmap = (start_hdr or {}).get("cmap") or {}
        if self.cdf and self._schema_json is not None:
            self._schema_json = _vt_cdf_schema_json(self._schema_json)

    def _starting_base(self) -> int:
        # Delta's startingVersion: stream changes FROM version N
        # (inclusive) instead of replaying the initial snapshot;
        # "latest" starts past everything committed at stream start.
        if self.starting_ts is not None:
            # Delta's startingTimestamp streams changes committed AT or
            # after the instant (inclusive — the same round-UP rule as
            # CDF's ts_from), so the base is the version BEFORE the
            # first qualifying commit; when every commit predates the
            # instant, the stream tails future commits only. Resolved by
            # the shared rule (mf.version_at: commit_ts, mtime fallback).
            ts = _vt_parse_ts(self.starting_ts)
            v = mf.local_version_at(self.table, ts, after=True)
            if v is not None:
                return v - 1
            return max(mf.local_versions(self.table), default=0)
        if self.starting is None:
            return 0
        if str(self.starting).lower() == "latest":
            return max(mf.local_versions(self.table), default=0)
        n = int(self.starting)
        if n < 1:
            raise ValueError(
                f"versioned_table: startingVersion must be >= 1 or "
                f"'latest', got {self.starting!r}"
            )
        return n - 1

    def initialOffset(self) -> dict:
        base = self._starting_base()
        if self._cursor is None or base > self._cursor:
            self._cursor = base
        # only a FRESH stream is asked for an initial offset — the
        # stream's true position is now known
        self._learned = True
        return {"version": base}

    def _version_admission(self, v: int) -> tuple[int, int | None]:
        """(file count, byte size) version ``v`` would contribute to a
        micro-batch — the admission-control units. One marker read, one
        stat per file (bytes computed only when a byte cap is set),
        cached per version; a legacy full-list marker answers 'the caps'
        (unknown delta without a snapshot replay: admit it alone rather
        than pay O(state) per trigger)."""
        if v in self._adm_cache:
            return self._adm_cache[v]
        import os

        hdr, body = _vt_marker(self.table, v)
        if self.cdf and hdr.get("cdf") is not None:
            files: list[str] | None = list(hdr["cdf"])
        else:
            files = mf.marker_added_files(hdr, body)
        if files is None:  # legacy marker: admit it alone
            out = (self.max_files or 1, self.max_bytes)
        else:
            nbytes = (
                sum(
                    os.path.getsize(mf.resolve(self.table, f))
                    for f in files
                )
                if self.max_bytes is not None
                else None
            )
            out = (len(files), nbytes)
        self._adm_cache[v] = out
        return out

    def latestOffset(self) -> dict:
        cur = max(mf.local_versions(self.table), default=0)
        if (
            (self.max_files is None and self.max_bytes is None)
            or self._cursor is None
            or cur <= self._cursor
        ):
            return {"version": cur}
        # admit whole versions while the running file count AND byte
        # size stay under their caps; always admit the first pending
        # version (progress must never stall on a single oversized
        # commit — Delta admits at least one file the same way)
        end, total, total_b = self._cursor, 0, 0
        for v in range(self._cursor + 1, cur + 1):
            n, nb = self._version_admission(v)
            over = (
                self.max_files is not None and total + n > self.max_files
            ) or (
                self.max_bytes is not None
                and total_b + (nb or 0) > self.max_bytes
            )
            if end > self._cursor and over:
                break
            end, total, total_b = v, total + n, total_b + (nb or 0)
        return {"version": end}

    def partitions(self, start: dict, end: dict) -> Sequence[InputPartition]:
        if int(end["version"]) < int(start["version"]):
            # a batch planned BACKWARD means a capped latestOffset ran
            # before this reader learned its checkpointed position — an
            # engine call-order pyspark 4.1 never produces (it replays
            # commit/partitions first). r9 advice + r10 review: degrade
            # gracefully whenever this reader is still UNLEARNED — that
            # covers both the offset this reader itself returned while
            # unlearned AND a restart replaying a previously-degraded
            # WAL entry (a fresh reader has an empty caps set; failing
            # there would brick the stream on every subsequent start).
            # Degrading is safe in both cases: plan an empty batch, jump
            # the cursor to the checkpointed start, and floor-clamp
            # future ranges so the regressed entry can't re-emit
            # versions <= start. The loud error remains for a LEARNED
            # reader planned backward — a genuine anomaly (corrupted
            # checkpoint, rebuilt table) where silent skipping could
            # lose data.
            if not self._learned:
                chk = int(start["version"])
                if self._cursor is None or chk > self._cursor:
                    self._cursor = chk
                self._floor = max(self._floor or 0, chk)
                self._learned = True
                log.warning(
                    "versioned_table stream: backward batch %s -> %s on "
                    "an unlearned reader (capped latestOffset before the "
                    "restart replay, or a replayed degraded entry); "
                    "planning it empty, cap resumes next trigger",
                    start["version"],
                    end["version"],
                )
                return []
            raise ValueError(
                f"versioned_table stream: batch planned backward "
                f"({start['version']} -> {end['version']}) on a reader "
                "that had already learned a later position — corrupted "
                "checkpoint or rebuilt table; refusing to guess"
            )
        # the planned range is authoritative for the admission cursor —
        # a replayed (restart) batch teaches a fresh reader its position
        hi_seen = max(int(start["version"]), int(end["version"]))
        if self._cursor is None or hi_seen > self._cursor:
            self._cursor = hi_seen
        self._learned = True
        # review finding: entries at/below the cursor can never be
        # consulted again — prune so a long-lived stream's cache stays
        # bounded by the pending window, not the table's history
        for v_ in [v_ for v_ in self._adm_cache if v_ <= self._cursor]:
            del self._adm_cache[v_]
        if self.cdf:
            return self._cdf_partitions(start, end)
        lo, hi = int(start["version"]), int(end["version"])
        if self._floor is not None and self._floor > lo:
            # a degraded (backward) batch regressed the WAL below the
            # true checkpoint; versions <= floor were already streamed
            lo = min(self._floor, hi)
        added: list[str] = []
        # lazily-built snapshot file set, needed ONLY when a legacy
        # format-1 marker (full-list body) is hit mid-range; fmt-2
        # markers are self-describing so the common path never replays
        prev: set | None = None
        for v in range(lo + 1, hi + 1):
            hdr, body = _vt_marker(self.table, v)
            if v > 1 and hdr.get("txn_aborted"):
                continue  # aborted multi-table claim: changed nothing
            if v > 1 and hdr.get("op") == "widen_column":
                if v <= self._schema_pin:
                    continue  # the pinned schema already includes it
                raise ValueError(
                    f"versioned_table stream: version {v} widened column "
                    f"{hdr.get('widen_column', {}).get('column')!r} "
                    f"({hdr.get('widen_column', {}).get('from')} -> "
                    f"{hdr.get('widen_column', {}).get('to')}) AFTER this "
                    "stream pinned its schema; restart the stream to adopt "
                    "the widened schema (Delta fails a readStream on schema "
                    "change the same way)"
                )
            if v > 1 and hdr.get("op") in _VT_STREAM_NEUTRAL_OPS:
                # pure-metadata commits (rename/drop column, constraint
                # add/drop): zero files added, zero rows rewritten — the
                # row stream just passes over them. The stream's OUTPUT
                # schema stays pinned at start (Spark resolves it once);
                # physical names are rename-stable, so later appends'
                # files still read correctly under the pinned names.
                continue
            if v > 1 and hdr.get("op") != "append":
                if not self.skip_change:
                    raise ValueError(
                        f"versioned_table stream: version {v} is a "
                        f"{hdr.get('op')!r} commit, which rewrites rows "
                        "already streamed; restart from a fresh checkpoint "
                        "or set skipChangeCommits=true to ignore it"
                    )
                prev = None  # snapshot changed under us: recompute if needed
            elif (new := mf.marker_added_files(hdr, body)) is not None:
                # O(delta) per version: a delta-encoded append's ``a``
                # actions ARE its new files (metadata-only ``u`` re-adds
                # excluded — those rows were already streamed), one
                # marker read — no checkpoint replay, no set-diff of
                # consecutive full snapshots (review findings, r8)
                added.extend(new)
                if prev is not None:
                    prev.update(new)
            else:
                # legacy full-list marker: diff against the prior snapshot
                if prev is None:
                    prev = (
                        set(_vt_read_manifest(self.table, v - 1)[1])
                        if v > 1
                        else set()
                    )
                added.extend(f for f in body if f not in prev)
                prev = set(body)
        if not added:
            # an empty RANGE (start == end) plans no batch and stays [];
            # but offsets can also advance with zero new files (e.g. a
            # skipped change commit) — then emit the same no-batch
            # placeholder partition as the batch face
            return [] if hi == lo else [_VTFile(None)]
        return [_VTFile(mf.resolve(self.table, f)) for f in added]

    def _cdf_partitions(self, start: dict, end: dict) -> Sequence[InputPartition]:
        """readChangeFeed planning: one partition per change/added file
        in (start, end] — O(changes), one marker read per version, no
        snapshot replay. A content-changing commit with no recorded
        change file fails the stream loudly (Delta errors identically:
        a feed that silently skipped it would no longer replay to the
        table). skipChangeCommits is ignored here — change commits ARE
        the stream."""
        lo, hi = int(start["version"]), int(end["version"])
        if self._floor is not None and self._floor > lo:
            lo = min(self._floor, hi)
        parts: list[_VTFile] = []
        for v in range(lo + 1, hi + 1):
            # resolve multi-table txn claims exactly like the row-stream
            # walk: an aborted claim's staged files must NOT feed as
            # inserts (both-or-neither), and vacuum may already have
            # reclaimed them (r11 advice, high)
            hdr, body = _vt_marker(self.table, v)
            if v > 1 and hdr.get("txn_aborted"):
                continue  # aborted multi-table claim: changed nothing
            op = hdr.get("op")
            if v > 1 and op == "widen_column" and v > self._schema_pin:
                # same loud gate as the row stream: the feed's schema is
                # pinned at start; silently passing a later widening
                # defers the failure to an executor-side Arrow overflow
                # mid-batch, far from the cause (r11 advice, medium)
                raise ValueError(
                    f"versioned_table readChangeFeed: version {v} widened "
                    f"column "
                    f"{hdr.get('widen_column', {}).get('column')!r} "
                    f"({hdr.get('widen_column', {}).get('from')} -> "
                    f"{hdr.get('widen_column', {}).get('to')}) AFTER this "
                    "stream pinned its schema; restart the stream to adopt "
                    "the widened schema (Delta fails a readStream on "
                    "schema change the same way)"
                )
            cdf = hdr.get("cdf")
            vconst = [("_commit_version", v, "int64")]
            if cdf is not None:
                parts.extend(
                    _VTFile(mf.resolve(self.table, f), consts=vconst)
                    for f in cdf
                )
            elif v == 1 or op == "append":
                added = mf.marker_added_files(hdr, body)
                if added is None:  # legacy full-list marker
                    prev = (
                        set(_vt_read_manifest(self.table, v - 1)[1])
                        if v > 1
                        else set()
                    )
                    added = [f for f in body if f not in prev]
                parts.extend(
                    _VTFile(
                        mf.resolve(self.table, f),
                        consts=[("_change_type", "insert", "string"), *vconst],
                    )
                    for f in added
                )
            elif op in mf.CDF_NEUTRAL_OPS:
                continue  # logically content-neutral: nothing to feed
            else:
                raise ValueError(
                    f"versioned_table readChangeFeed: version {v} is a "
                    f"{op!r} commit with no recorded change file — commit "
                    "DML with change_feed=True, or start past it"
                )
        if not parts:
            return [] if hi == lo else [_VTFile(None)]
        return parts

    def read(self, partition: _VTFile):
        return _vt_read_file(partition, self._schema_json, self._cmap)

    def commit(self, end: dict) -> None:
        # offsets are durable in the checkpoint; manifests immutable —
        # only the admission cursor advances here
        v = int(end["version"])
        if self._cursor is None or v > self._cursor:
            self._cursor = v
        self._learned = True


class VersionedTableDataSource(DataSource):
    """``spark.read.format("versioned_table").option("path", tbl)`` —
    current snapshot, manifest-planned splits; ``spark.readStream`` on
    the same format tails append commits by version number. The schema
    comes from the resolved snapshot's manifest header (never inferred).
    Delta-parity options: batch ``versionAsOf`` / ``timestampAsOf``
    (time travel; a timestamp resolves through the in-commit
    ``commit_ts``, falling back to the marker mtime), stream
    ``startingVersion`` (``N`` streams changes from version N inclusive,
    ``latest`` skips everything already committed) /
    ``startingTimestamp`` (changes committed at or after the instant,
    same rule as ``timestampAsOf`` rounded up),
    ``skipChangeCommits``, and ``maxFilesPerTrigger`` /
    ``maxBytesPerTrigger`` (admission control: bound each micro-batch's
    planned files/bytes at version granularity — see
    ``_VTStreamReader``). Paths are plain-filesystem here: driver-side
    log reads go through ``manifest_format``'s local reads, the same
    ones the engine uses on a local table (the engine's Hadoop branch
    serves object stores)."""

    @classmethod
    def name(cls) -> str:
        return VT_SOURCE_NAME

    def schema(self):
        import json

        from pyspark.sql.types import StructType

        table = _vt_opts(self.options)["path"].rstrip("/")
        # a pinned snapshot carries ITS OWN schema (additive evolution
        # means older versions legitimately have fewer columns)
        v = _vt_pinned_version(self.options)
        if v is None:
            raise FileNotFoundError(f"versioned table {table!r} has no commits")
        header, _ = _vt_read_manifest(table, v)
        schema_json = header["schema"]
        if (
            str(_vt_opts(self.options).get("readchangefeed", "false")).lower()
            == "true"
        ):
            schema_json = _vt_cdf_schema_json(schema_json)
        declared = StructType.fromJson(json.loads(schema_json))
        # file sources read everything nullable (Spark's own parquet
        # source does the same): pre-evolution files NULL-pad evolved
        # columns regardless of what the writer's schema claimed
        from pyspark.sql.types import StructField

        return StructType(
            [StructField(f.name, f.dataType, True, f.metadata) for f in declared.fields]
        )

    def reader(self, schema) -> _VTBatchReader:
        if (
            str(_vt_opts(self.options).get("readchangefeed", "false")).lower()
            == "true"
        ):
            raise ValueError(
                "versioned_table: readChangeFeed is a STREAMING option "
                "here; the batch change-feed face is "
                "ops.versioned.read_change_feed(spark, table, v_from, v_to)"
            )
        return _VTBatchReader(self.options)

    def streamReader(self, schema) -> _VTStreamReader:
        return _VTStreamReader(self.options)


def register_versioned_table_source(spark) -> None:
    """Idempotent registration (re-registering the same name replaces)."""
    spark.dataSource.register(VersionedTableDataSource)
