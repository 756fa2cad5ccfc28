"""In-memory span tracer for the traced run.

``install`` wraps the public functions named in ``TARGETS`` and rebinds every
name in every loaded ``otus_cpp_11_spark.*`` module that refers to the
original function, so module-level ``from ... import load_table`` copies are
traced as well as function-local imports (which resolve the module attribute
at call time). Spans are kept in a list and written out at the end; each
records name, start, end, parent index and operation id.
"""

from __future__ import annotations

import contextlib
import functools
import importlib
import sys
import threading
import time

_VERSIONED_READS = ("read_version", "scan_version", "read_change_feed", "diff_versions")

# module -> {function name: span name}; the versioned commit functions are
# discovered by prefix in ``install``.
TARGETS = {
    "otus_cpp_11_spark.session": {"get_spark": "session.get_spark"},
    "otus_cpp_11_spark.catalog": {
        "load_table": "catalog.load_table",
        "spread": "catalog.spread",
    },
    "otus_cpp_11_spark.prefix": {
        "min_unique_prefix_length": "prefix.min_unique_prefix_length",
        "has_duplicate_prefix": "prefix.has_duplicate_prefix",
    },
    "otus_cpp_11_spark.mapreduce": {
        "find_min_unique_prefix": "mapreduce.find_min_unique_prefix",
    },
    "otus_cpp_11_spark.cli": {"main": "cli.main"},
    "otus_cpp_11_spark.ops.versioned": {n: "versioned.read" for n in _VERSIONED_READS},
}


class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict] = []
        self.enabled = False
        self.op: str | None = None
        self.conflicts = 0
        self._local = threading.local()

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        stack = self._local.__dict__.setdefault("stack", [])
        rec = {
            "name": name,
            "start": time.perf_counter(),
            "end": None,
            "parent": stack[-1] if stack else None,
            "op": self.op,
        }
        self.spans.append(rec)
        stack.append(len(self.spans) - 1)
        try:
            yield
        finally:
            stack.pop()
            rec["end"] = time.perf_counter()

    def wrap(self, name: str, fn):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced


def _rebind(original, replacement) -> int:
    n = 0
    for mod_name, mod in list(sys.modules.items()):
        if not mod_name.startswith("otus_cpp_11_spark") or mod is None:
            continue
        for attr, value in list(vars(mod).items()):
            if value is original:
                setattr(mod, attr, replacement)
                n += 1
    return n


def install(tracer: Tracer) -> dict[str, int]:
    """Wrap every target, once per process; returns span name -> number of
    rebound names."""
    from otus_cpp_11_spark.registry import all_queries

    all_queries()  # import every query module so their copies get rebound
    rebound: dict[str, int] = {}
    for mod_name, names in TARGETS.items():
        mod = importlib.import_module(mod_name)
        todo = dict(names)
        if mod_name.endswith(".versioned"):
            todo.update(
                {
                    n: "versioned.commit"
                    for n, v in vars(mod).items()
                    if n.startswith("commit_") and callable(v)
                }
            )
        for fn_name, span_name in todo.items():
            fn = getattr(mod, fn_name)
            count = _rebind(fn, tracer.wrap(span_name, fn))
            rebound[span_name] = rebound.get(span_name, 0) + count
    from otus_cpp_11_spark.mapreduce import MapReduceJob
    from otus_cpp_11_spark.ops.versioned import CommitConflict

    MapReduceJob.run = tracer.wrap("mapreduce.run", MapReduceJob.run)
    init = CommitConflict.__init__

    def counting_init(self, *args, **kwargs):
        if tracer.enabled:
            tracer.conflicts += 1
        init(self, *args, **kwargs)

    CommitConflict.__init__ = counting_init
    return rebound


def _outermost(spans: list[dict], i: int) -> bool:
    """True if no ancestor of span ``i`` has the same name."""
    name, p = spans[i]["name"], spans[i]["parent"]
    while p is not None:
        if spans[p]["name"] == name:
            return False
        p = spans[p]["parent"]
    return True


BUILD_EXCLUDE = ("catalog.load_table", "catalog.spread", "versioned.commit", "versioned.read")


def summarize(spans: list[dict]) -> dict[str, dict[str, dict[str, float]]]:
    """op id -> span name -> {"calls", "s"}, counting only outermost spans of
    each name; ``queries.build`` additionally gets ``self_s``, its time minus
    the outermost catalog/versioned spans under it."""
    children: dict[int, list[int]] = {}
    for i, s in enumerate(spans):
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append(i)

    def excluded_time(i: int) -> float:
        t = 0.0
        for c in children.get(i, []):
            if spans[c]["name"] in BUILD_EXCLUDE:
                t += spans[c]["end"] - spans[c]["start"]
            else:
                t += excluded_time(c)
        return t

    out: dict[str, dict[str, dict[str, float]]] = {}
    for i, s in enumerate(spans):
        if s["end"] is None or not _outermost(spans, i):
            continue
        rec = out.setdefault(s["op"] or "", {}).setdefault(
            s["name"], {"calls": 0, "s": 0.0, "self_s": 0.0}
        )
        dur = s["end"] - s["start"]
        rec["calls"] += 1
        rec["s"] += dur
        if s["name"] == "queries.build":
            rec["self_s"] += dur - excluded_time(i)
    return out
