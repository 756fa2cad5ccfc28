"""Property-based tests (hypothesis): engine results vs brute-force Python
oracles on randomized small inputs — the corpus queries pin one dataset,
these pin the semantics. Example counts are small because every example
runs real Spark jobs."""

from __future__ import annotations

import datetime as dt

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from otus_cpp_11_spark.mapreduce import MapReduceJob
from otus_cpp_11_spark.ops.joins import asof_join
from otus_cpp_11_spark.prefix import (
    min_unique_prefix_length,
    min_unique_prefix_length_single_pass,
)

SETTINGS = dict(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

# multi-byte and astral characters: the sort orders UTF-8 bytes while the
# answer counts code points; None is a NULL line, which the query ignores
lines_strategy = st.lists(
    st.none() | st.text(alphabet="aé€𝄞", min_size=0, max_size=5),
    min_size=1,
    max_size=12,
)


def brute_min_unique_prefix(lines: list[str | None]) -> int | None:
    lines = [s for s in lines if s is not None]
    if len(set(lines)) != len(lines):
        return None
    max_len = max((len(s) for s in lines), default=0)
    if max_len == 0:
        return None
    for L in range(1, max_len + 1):
        prefixes = [s[:L] for s in lines]
        if len(set(prefixes)) == len(prefixes):
            return L
    return max_len


@given(lines=lines_strategy)
@settings(**SETTINGS)
def test_prefix_matches_bruteforce(spark, lines):
    df = spark.createDataFrame([(v,) for v in lines], "value string")
    want = brute_min_unique_prefix(lines)
    assert min_unique_prefix_length(spark, df) == want
    assert min_unique_prefix_length_single_pass(df).first()[0] == want


@given(
    left=st.lists(
        st.tuples(st.integers(0, 2), st.integers(0, 100)), min_size=1, max_size=8
    ),
    right=st.lists(
        st.tuples(st.integers(0, 2), st.integers(0, 100)), min_size=0, max_size=8
    ),
)
@settings(**SETTINGS)
def test_asof_matches_bruteforce(spark, left, right):
    t0 = dt.datetime(2025, 1, 1)

    def ts(m):
        return t0 + dt.timedelta(minutes=m)

    # dedupe right on (key, ts) — the documented precondition (ties on the
    # as-of time are otherwise plan-dependent); keep max id per (k, t)
    rdedup: dict[tuple[int, int], int] = {}
    for i, (k, t) in enumerate(right):
        rdedup[(k, t)] = max(rdedup.get((k, t), -1), 100 + i)
    ldf = spark.createDataFrame(
        [(i, k, ts(t)) for i, (k, t) in enumerate(left)],
        "lid long, k long, ts timestamp",
    )
    rdf = spark.createDataFrame(
        [(rid, k, ts(t)) for (k, t), rid in rdedup.items()],
        "rid long, k long, ts timestamp",
    )
    got = {
        r.lid: r.asof_rid
        for r in asof_join(ldf, rdf, on="k", right_cols=["rid"]).collect()
    }
    for i, (k, t) in enumerate(left):
        cands = [
            (rt, rid) for (rk, rt), rid in rdedup.items() if rk == k and rt <= t
        ]
        want = max(cands)[1] if cands else None
        assert got[i] == want, (i, k, t, cands)


@given(
    lines=st.lists(
        st.text(alphabet="ab ", min_size=0, max_size=12), min_size=1, max_size=10
    )
)
@settings(**SETTINGS)
def test_mapreduce_word_count_matches_counter(spark, lines):
    from collections import Counter

    want = Counter(w for line in lines for w in line.split() if w)
    job = MapReduceJob(mappers=2, reducers=2).set_mapper(
        lambda line: [(w, 1) for w in line.split() if w]
    )
    df = spark.createDataFrame([(v,) for v in lines], "value string")
    # r["count"] not r.count — Row.count is the tuple method
    got = {r.key: r["count"] for r in job.run_counts(spark, df).collect()}
    assert got == dict(want)


@given(
    left=st.lists(
        st.tuples(st.integers(0, 2), st.integers(0, 200)), min_size=1, max_size=8
    ),
    right=st.lists(
        st.tuples(st.integers(0, 2), st.integers(0, 200)), min_size=0, max_size=8
    ),
)
@settings(**SETTINGS)
def test_range_join_matches_bruteforce(spark, left, right):
    """range_join_within must equal the brute-force pair set for every
    generated (key, minute) layout — boundary inclusion (<=), cell-edge
    replication, and exactly-once pairing all covered by search."""
    from otus_cpp_11_spark.ops.joins import range_join_within

    t0 = dt.datetime(2025, 1, 1)

    def ts(m):
        return t0 + dt.timedelta(minutes=m)

    ldf = spark.createDataFrame(
        [(i, k, ts(t)) for i, (k, t) in enumerate(left)],
        "lid long, k long, ts timestamp",
    )
    rdf = spark.createDataFrame(
        [(100 + i, k, ts(t)) for i, (k, t) in enumerate(right)],
        "rid long, k long, ts timestamp",
    )
    out = range_join_within(ldf, rdf, on="k", window="'1' HOUR")
    got = sorted((r.l_lid, r.r_rid) for r in out.collect())
    want = sorted(
        (i, 100 + j)
        for i, (lk, lt) in enumerate(left)
        for j, (rk, rt) in enumerate(right)
        if lk == rk and rt > lt and rt <= lt + 60
    )
    assert got == want


def brute_repeated_spans(docs: list[tuple[int, str]], k: int):
    """Pure-Python model of _repeated_spans: positioned k-gram attribution
    to min doc_id, dup positions merged into coverage-contiguous spans."""
    import re

    grams: dict[str, int] = {}  # gram -> first doc_id
    toks = {}
    for doc_id, text in sorted(docs):
        w = [t for t in re.sub(r"\s+", " ", text.lower()).strip().split(" ") if t]
        toks[doc_id] = w
        for i in range(len(w) - k + 1):
            g = " ".join(w[i : i + k])
            grams.setdefault(g, doc_id)
    out = []
    for doc_id, w in sorted(toks.items()):
        dup = [
            (i + 1, grams[" ".join(w[i : i + k])])
            for i in range(len(w) - k + 1)
            if grams[" ".join(w[i : i + k])] < doc_id
        ]
        run: list[tuple[int, int]] = []
        for pos, first in dup:
            if run and pos - run[-1][0] <= k:
                run.append((pos, first))
            else:
                if run:
                    out.append(_span_row(doc_id, run, k))
                run = [(pos, first)]
        if run:
            out.append(_span_row(doc_id, run, k))
    return sorted(out)


def _span_row(doc_id, run, k):
    ps = [p for p, _ in run]
    return (doc_id, ps[0], ps[-1] - ps[0] + k, len(ps), min(f for _, f in run))


@given(
    docs=st.lists(
        st.text(alphabet="ab ", min_size=0, max_size=40), min_size=1, max_size=6
    )
)
@settings(**SETTINGS)
def test_repeated_spans_match_bruteforce(spark, docs):
    from otus_cpp_11_spark.queries.curation import SPAN_TOKENS, _repeated_spans

    rows = [(i, t) for i, t in enumerate(docs)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = sorted(map(tuple, _repeated_spans(df).collect()))
    assert got == brute_repeated_spans(rows, SPAN_TOKENS)


@given(
    vecs=st.lists(
        st.lists(
            st.floats(-1, 1, allow_nan=False, width=32), min_size=8, max_size=8
        ),
        min_size=4,
        max_size=10,
    )
)
@settings(**SETTINGS)
def test_pq_assignment_matches_bruteforce(spark, vecs):
    """PQ encode vs a numpy-free Python argmin using the same fixed-point
    per-term floors (codebook = first 2 vectors, 2 subvectors of 4 dims
    — parameters monkeypatched small so examples stay cheap)."""
    import math

    from otus_cpp_11_spark.queries import similarity as sim

    K, S = 2, 2
    dim = 8
    dsub = dim // S
    old_cb, old_sv = sim.PQ_CODEBOOK, sim.PQ_SUBVECTORS
    sim.PQ_CODEBOOK, sim.PQ_SUBVECTORS = K, S
    try:
        import pyspark.sql.functions as F

        rows = [(i, [float(x) for x in v], 0) for i, v in enumerate(vecs)]
        df = spark.createDataFrame(
            rows, "vec_id long, embedding array<float>, label int"
        )
        cents = {
            int(r["vec_id"]): list(r["embedding"])
            for r in df.where(F.col("vec_id") < K).collect()
        }
        cols = ["vec_id"]
        for s in range(S):
            sub = F.slice(F.col("embedding"), s * dsub + 1, dsub)
            structs = [
                F.struct(
                    sim._pq_dist(sub, cents[c][s * dsub : (s + 1) * dsub]).alias("d"),
                    F.lit(c).cast("bigint").alias("code"),
                )
                for c in range(K)
            ]
            cols.append(F.least(*structs).getField("code").alias(f"code_{s}"))
        got = {
            r["vec_id"]: (r["code_0"], r["code_1"])
            for r in df.select(*cols).collect()
        }
        for vid, emb, _ in rows:
            # float32 round-trip: compare on the values Spark actually read
            ev = [float(x) for x in df.where(F.col("vec_id") == vid).first()["embedding"]]
            want = []
            for s in range(S):
                best = None
                for c in range(K):
                    d = sum(
                        math.floor(
                            (ev[s * dsub + i] - cents[c][s * dsub + i]) ** 2
                            * float(sim.PQ_SCALE)
                        )
                        for i in range(dsub)
                    )
                    if best is None or (d, c) < best:
                        best = (d, c)
                want.append(best[1])
            assert got[vid] == tuple(want), vid
    finally:
        sim.PQ_CODEBOOK, sim.PQ_SUBVECTORS = old_cb, old_sv


def test_repeated_spans_periodic_text_coverage(spark):
    """The documented internal-period-< k caveat (curation.py): on periodic
    text, k-gram attribution may re-draw span boundaries versus the true
    maximal repeat (e.g. a period-1 run longer than its source still marks
    every position, because every k-gram of the run exists in the earlier
    doc) — but the planted cases pin down that (a) the implementation
    matches the k-gram definition exactly and (b) every token of every
    true >= k cross-doc repeat is COVERED by some span, i.e. the
    approximation never loses duplicated text, it only over-extends."""
    from otus_cpp_11_spark.queries.curation import SPAN_TOKENS, _repeated_spans

    k = SPAN_TOKENS
    assert k == 5  # positions below are hand-computed for k = 5
    docs = [
        (0, "x " * 12 + "alpha beta gamma delta epsilon"),  # owns the x-run
        (1, "u1 u2 u3 " + "x " * 12 + "v1 v2 v3"),  # straight periodic copy
        (2, "x y " * 10 + "w1 w2 w3"),  # period-2 run, first owner
        (3, "p1 p2 " + "x y " * 10 + "q1"),  # copies doc2's run
        (4, "x " * 30),  # period-1 run LONGER than its doc-0 source
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = sorted(map(tuple, _repeated_spans(df).collect()))
    assert got == brute_repeated_spans(docs, k)

    spans: dict[int, list[range]] = {}
    for doc_id, start, length, _n, _src in got:
        spans.setdefault(doc_id, []).append(range(start, start + length))

    def covered(doc_id, t0, t1):  # 1-based inclusive token positions
        rs = spans.get(doc_id, [])
        return all(any(t in r for r in rs) for t in range(t0, t1 + 1))

    assert covered(1, 4, 15)  # the 12-token x-run copied from doc 0
    assert covered(3, 3, 22)  # the 20-token "x y" run copied from doc 2
    # period-1 over-extension: doc 4's entire 30-token run marks duplicated
    # (every 5-gram is "x x x x x", first seen in doc 0's 12-token run) —
    # one span covering all 30 tokens, NOT clipped to the source's length;
    # this is the documented approximation direction (over-cover, never
    # under-cover)
    assert covered(4, 1, 30)
    doc4 = [s for s in got if s[0] == 4]
    assert doc4 == [(4, 1, 30, 26, 0)]


# ---------------------------------------------------------------------------
# Round-6 pure kernels: BPE apply formulations, trainer closure, resize
# binning. Pure Python (no Spark per example), so example counts are high.


@given(
    word=st.text(alphabet="abcdefghijklmnopqrstuvwxyz", min_size=0, max_size=24)
)
@settings(max_examples=300, deadline=None)
def test_bpe_greedy_equals_chain_equals_engine_kernel(word):
    """The three APPLY formulations agree on ANY lowercase word under the
    frozen production table (hypothesis shrinks failures to minimal
    words; the seeded sample in test_bpe.py covers corpus shapes)."""
    from otus_cpp_11_spark.queries.bpe import BPE_MERGES, bpe_word_tokens
    from tests.test_bpe import chain_bpe, ref_bpe

    got = bpe_word_tokens(word)
    assert got == ref_bpe(word, BPE_MERGES)
    assert got == chain_bpe(word, BPE_MERGES)
    assert "".join(got) == word


@given(
    freqs=st.dictionaries(
        st.text(alphabet="abcdef", min_size=1, max_size=8),
        st.integers(min_value=1, max_value=50),
        min_size=1,
        max_size=12,
    ),
    n=st.integers(min_value=0, max_value=30),
)
@settings(max_examples=150, deadline=None)
def test_trainer_output_is_always_well_formed(freqs, n):
    """Any corpus, any budget: train_merges yields a table whose every
    rule's constituents are single chars or earlier outputs (the closure
    property the chain/greedy equivalence proof needs), with no
    duplicate rules, and applying it reconstructs every training word."""
    from otus_cpp_11_spark.ops.bpe_train import train_merges
    from tests.test_bpe import ref_bpe

    merges = train_merges(freqs, n)
    assert len(merges) <= n
    produced: set[str] = set()
    for x, y in merges:
        for side in (x, y):
            assert len(side) == 1 or side in produced
        produced.add(x + y)
    assert len(set(merges)) == len(merges)
    for w in freqs:
        assert "".join(ref_bpe(w, merges)) == w


@given(
    w=st.integers(min_value=2, max_value=40),
    h=st.integers(min_value=2, max_value=40),
    gw=st.integers(min_value=1, max_value=8),
    gh=st.integers(min_value=1, max_value=8),
)
@settings(max_examples=200, deadline=None)
def test_resize_binning_partitions_pixels(w, h, gw, gh):
    """The proportional integer binning (shared by resize and the aHash
    grid) is a PARTITION of the raster: every pixel maps to exactly one
    in-range cell, and every cell is non-empty whenever w>=gw, h>=gh."""
    cells = {}
    for y in range(h):
        for x in range(w):
            cx, cy = x * gw // w, y * gh // h
            assert 0 <= cx < gw and 0 <= cy < gh
            cells[(cx, cy)] = cells.get((cx, cy), 0) + 1
    assert sum(cells.values()) == w * h
    if w >= gw and h >= gh:
        assert len(cells) == gw * gh


@settings(**SETTINGS)
@given(
    rows=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=3),   # group
            st.integers(min_value=-2, max_value=2),  # score (heavy ties)
        ),
        min_size=1,
        max_size=40,
    ),
    k=st.integers(min_value=1, max_value=5),
    cells=st.integers(min_value=1, max_value=4),
)
def test_salted_topk_matches_brute_force(spark, rows, k, cells):
    """salted_topk == brute-force per-group top-k for ANY (data, k,
    cell-count), including k larger than the group and single-cell
    degeneracy. The unique id tie-break makes the expected order total."""
    from pyspark.sql import functions as F

    from otus_cpp_11_spark.ops.skew import salted_topk

    data = [(g, s, i) for i, (g, s) in enumerate(rows)]
    df = spark.createDataFrame(data, "g int, score int, id int")
    got = {
        (r["g"], r["rank"], r["id"])
        for r in salted_topk(
            df, ["g"], [F.desc("score"), F.asc("id")], k, salt_on="id",
            cells=cells,
        ).collect()
    }
    want = set()
    by_g: dict[int, list[tuple[int, int]]] = {}
    for g, s, i in data:
        by_g.setdefault(g, []).append((-s, i))
    for g, items in by_g.items():
        for rank, (_, i) in enumerate(sorted(items)[:k], start=1):
            want.add((g, rank, i))
    assert got == want
