"""Similarity search over the embeddings table (array<float>, 64-dim) —
driver extension mandate (SURVEY.md §2.2): brute-force cosine top-k as the
exact baseline; the LSH-bucketed scale path lives in ops/tests.

Determinism strategy (so the cosine VALUES hash-match DuckDB bit-for-bit):
per-element products of float-upcast-to-double are IEEE-identical in both
engines; each product is scaled by 1e15 and FLOORed (flooring identical
doubles is identical — no rounding mode exists, unlike double→decimal
casts), summed exactly as DECIMAL(38,0), then divided back in double. No
floating-point SUM ever happens. See queries/__init__ docstring.

Scale: brute-force top-k against one query vector is a map + per-partition
partial top-k + tiny final merge (TakeOrderedAndProject) — no shuffle of the
vectors. For all-pairs or many-query workloads you bucket by LSH/IVF first
(same candidate-join shape as dedup) so the cross product never
materializes.
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from otus_cpp_11_spark.catalog import load_table, spread
from otus_cpp_11_spark.queries import dsum_sql
from otus_cpp_11_spark.registry import register

TOPK = 10
QUERY_VEC_ID = 0
_SCALE = 10**15  # fixed-point digits for per-element products (|p| <= ~1)


def _dec_dot(a: Column, b: Column) -> Column:
    """Fixed-point-exact dot product of two array<float> columns, as double."""
    prods = F.zip_with(
        a,
        b,
        lambda x, y: F.floor(x.cast("double") * y.cast("double") * F.lit(float(_SCALE)))
        .cast("decimal(38,0)"),
    )
    total = F.aggregate(
        prods,
        F.lit(0).cast("decimal(38,0)"),
        lambda acc, p: (acc + p).cast("decimal(38,0)"),
    )
    return total.cast("double") / F.lit(float(_SCALE))


def cosine_sim(a: Column, b: Column) -> Column:
    """Deterministic cosine similarity between two array<float> columns.

    DATA CONTRACT (r10 review): inputs must have non-zero norm at the
    fixed-point scale (every |x_i| < ~3e-8 floors the self-dot to 0).
    A zero-norm vector divides by zero — NULL under Spark's non-ANSI
    division (sorts LAST in every cosine top-k) but inf/NaN in DuckDB —
    so such vectors would silently diverge the engines. The synthetic
    corpus satisfies the contract (unit-scale components); a production
    ingest should filter or re-scale degenerate embeddings upstream."""
    return _dec_dot(a, b) / (F.sqrt(_dec_dot(a, a)) * F.sqrt(_dec_dot(b, b)))


def cosine_from_norms(dot: Column, a_norm: Column, b_norm: Column) -> Column:
    """Factored cosine: ``dot / (a_norm * b_norm)`` — the per-side-norm
    form of ``cosine_sim`` (r13 item 14 / r14 ADVICE: one shared helper
    instead of six hand-matched copies).

    BIT-IDENTITY INVARIANT (cross-engine determinism contract): this
    expression must keep EXACTLY cosine_sim's operand order —
    ``dot(a, b) / (sqrt(dot(a,a)) * sqrt(dot(b,b)))`` with the division's
    right operand multiplied LEFT-norm-first — because IEEE double
    multiplication and division are order-sensitive in the last ulp and
    every oracle computes the fused form. Callers pass
    ``a_norm = sqrt(_dec_dot(a, a))`` computed in a's side projection and
    ``b_norm`` likewise for b, with (a, b) in the same order the fused
    ``cosine_sim(a, b)`` call would have used."""
    return dot / (a_norm * b_norm)


def _dot_sql(a: str, b: str) -> str:
    return (
        f"(CAST(LIST_SUM([CAST(FLOOR(CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE) * {_SCALE}.0) AS DECIMAL(38,0)) "
        f"FOR x IN LIST_ZIP({a}, {b})]) AS DOUBLE) / {_SCALE}.0)"
    )


@register(
    "ann_cosine_top10",
    oracle=f"""
WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = {QUERY_VEC_ID}),
scored AS (
  SELECT e.vec_id, e.label,
         {_dot_sql("e.embedding", "q.qv")} /
         (SQRT({_dot_sql("e.embedding", "e.embedding")}) * SQRT({_dot_sql("q.qv", "q.qv")})) AS cosine
  FROM embeddings e, q
  WHERE e.vec_id <> {QUERY_VEC_ID}
)
SELECT vec_id, label, cosine
FROM scored
ORDER BY cosine DESC, vec_id
LIMIT {TOPK}
""",
    bench=True,
)
def ann_cosine_top10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k for one query vector: broadcast the query,
    score every vector JVM-side (zip_with + fixed-point aggregate), take the
    global top-k with a total tie-break. The per-partition top-k merge means
    no full sort and no shuffle of the embedding column."""
    e = load_table(spark, sf_dir, "embeddings")
    # r13 (guide §2.3): the query norm is a per-query constant — computing
    # it in the 1-row broadcast side instead of inside the per-row cosine
    # drops a third of the corpus pass's decimal folds (3 -> 2 per row;
    # the doc-side dot and norm are genuinely per-row). Operand order of
    # dot/(doc_norm * q_norm) matches cosine_sim, so values are
    # bit-identical (oracle unchanged, re-proven).
    q = e.where(F.col("vec_id") == QUERY_VEC_ID).select(
        F.col("embedding").alias("qv"),
        F.sqrt(_dec_dot(F.col("embedding"), F.col("embedding"))).alias("qn"),
    )
    scored = (
        e.where(F.col("vec_id") != QUERY_VEC_ID)
        .join(F.broadcast(q))
        .select(
            "vec_id",
            "label",
            cosine_from_norms(
                _dec_dot(F.col("embedding"), F.col("qv")),
                F.sqrt(_dec_dot(F.col("embedding"), F.col("embedding"))),
                F.col("qn"),
            ).alias("cosine"),
        )
    )
    return scored.orderBy(F.desc("cosine"), "vec_id").limit(TOPK)


@register(
    "embedding_norms_by_label",
    oracle=f"""
SELECT label,
       COUNT(*) AS n_vectors,
       CAST(SUM(CAST(FLOOR(SQRT({_dot_sql("embedding", "embedding")}) * 1000000000000.0) AS DECIMAL(38,0))) AS DOUBLE) / 1000000000000.0 AS sum_l2_norm
FROM embeddings
GROUP BY label
ORDER BY label
""",
)
def embedding_norms_by_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vector-column aggregate: per-label count + fixed-point sum of L2
    norms — the 'is my embedding table healthy' scan, all JVM-side."""
    e = load_table(spark, sf_dir, "embeddings")
    norm = F.sqrt(_dec_dot(F.col("embedding"), F.col("embedding")))
    return (
        e.groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_vectors"),
            (
                F.sum(F.floor(norm * 1e12).cast("decimal(38,0)")).cast("double") / 1e12
            ).alias("sum_l2_norm"),
        )
        .orderBy("label")
    )


# --------------------------------------------------------------------------
# Embedding-cosine near-duplicate pairs (label-blocked).
# --------------------------------------------------------------------------

NEAR_DUP_COSINE = 0.4
NEAR_DUP_HOT_BLOCK = 4096  # block size above which the salt-grid path kicks in
NEAR_DUP_SALTS = 8


@register(
    "embedding_near_dup_pairs",
    oracle=f"""
WITH pairs AS (
  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, a.label,
         {_dot_sql("a.embedding", "b.embedding")} /
         (SQRT({_dot_sql("a.embedding", "a.embedding")}) * SQRT({_dot_sql("b.embedding", "b.embedding")})) AS cosine
  FROM embeddings a
  JOIN embeddings b ON a.label = b.label AND a.vec_id < b.vec_id
)
SELECT vec_a, vec_b, label, cosine
FROM pairs
WHERE cosine >= {NEAR_DUP_COSINE}
ORDER BY vec_a, vec_b
""",
)
def embedding_near_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate detection with attribute blocking:
    only same-label pairs are scored (the label column standing in for an
    upstream coarse clustering), so the cross product is per-block, not
    global. The block join shuffles on label; scoring is JVM-side
    fixed-point math. At 100 TB the blocks come from LSH/IVF cell ids
    computed the same way — and a hot block (one giant cluster) routes
    through the same salt-grid split as queries.dedup.banded_candidate_pairs:
    one block of B rows becomes S^2 tasks of ~(B/S)^2 comparisons instead
    of one task of B^2, with the same exactly-one-cell pair-meeting
    argument. The plain self-join plan returns untouched (zero routing
    stages) when no block exceeds the threshold."""
    e = load_table(spark, sf_dir, "embeddings").select("vec_id", "label", "embedding")
    pairs = blocked_cosine_pairs(e)
    return pairs.where(F.col("cosine") >= NEAR_DUP_COSINE).orderBy("vec_a", "vec_b")


def blocked_cosine_pairs(
    e: DataFrame,
    hot_threshold: int = NEAR_DUP_HOT_BLOCK,
    num_salts: int = NEAR_DUP_SALTS,
) -> DataFrame:
    """All same-label ``(vec_a < vec_b)`` pairs with their cosine, hot
    blocks routed through the salt grid (see embedding_near_dup_pairs).
    Input needs (vec_id, label, embedding). Each row's norm is computed
    ONCE before the join (r10 review: recomputing both self-dots per
    PAIR tripled the dominant fixed-point CPU); sqrt of the identical
    decimal dot is the identical double, so results are bit-unchanged.
    The up-front hot-block emptiness probe is ONE tiny aggregate that
    buys the common cold case a plan with ZERO routing stages — a
    deliberate trade, not an oversight."""
    e = e.withColumn(
        "_nrm", F.sqrt(_dec_dot(F.col("embedding"), F.col("embedding")))
    )

    def score(joined: DataFrame) -> DataFrame:
        return joined.select(
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
            F.col("a.label").alias("label"),
            cosine_from_norms(
                _dec_dot(F.col("a.embedding"), F.col("b.embedding")),
                F.col("a._nrm"),
                F.col("b._nrm"),
            ).alias("cosine"),
        )

    sizes = e.groupBy("label").agg(F.count(F.lit(1)).alias("_bn"))
    hot = sizes.where(F.col("_bn") > hot_threshold).select(
        "label", F.lit(True).alias("_hot")
    )
    if hot.limit(1).count() == 0:
        pairs = score(
            e.alias("a").join(
                e.alias("b"),
                (F.col("a.label") == F.col("b.label"))
                & (F.col("a.vec_id") < F.col("b.vec_id")),
            )
        )
    else:
        tagged = e.join(F.broadcast(hot), "label", "left")
        cold = tagged.where(F.col("_hot").isNull()).drop("_hot")
        hotb = tagged.where(F.col("_hot").isNotNull()).drop("_hot")
        cold_pairs = score(
            cold.alias("a").join(
                cold.alias("b"),
                (F.col("a.label") == F.col("b.label"))
                & (F.col("a.vec_id") < F.col("b.vec_id")),
            )
        )
        cells = F.array(*[F.lit(i) for i in range(num_salts)])
        g = F.pmod(F.hash("vec_id"), F.lit(num_salts))
        left = hotb.select(
            "label", "vec_id", "embedding", "_nrm", g.alias("_ci"),
            F.explode(cells).alias("_cj"),
        )
        right = hotb.select(
            "label", "vec_id", "embedding", "_nrm",
            F.explode(cells).alias("_ci"), g.alias("_cj"),
        )
        hot_pairs = score(
            left.alias("a").join(
                right.alias("b"),
                (F.col("a.label") == F.col("b.label"))
                & (F.col("a._ci") == F.col("b._ci"))
                & (F.col("a._cj") == F.col("b._cj"))
                & (F.col("a.vec_id") < F.col("b.vec_id")),
            )
        )
        pairs = cold_pairs.unionByName(hot_pairs)
    return pairs


# --------------------------------------------------------------------------
# Vector aggregation: per-label centroids (elementwise mean).
# --------------------------------------------------------------------------


@register(
    "label_centroids",
    oracle=f"""
SELECT label, t.pos,
       ({{dsum}}) / COUNT(*) AS centroid_val
FROM (
  SELECT label,
         UNNEST([{{'pos': i - 1, 'v': embedding[i]}} FOR i IN RANGE(1, LEN(embedding) + 1)]) AS t
  FROM embeddings
) u
GROUP BY label, t.pos
ORDER BY label, t.pos
""".replace("{dsum}", "CAST(SUM(CAST(FLOOR(CAST(t.v AS DOUBLE) * 10000000.0) AS DECIMAL(38,0))) AS DOUBLE) / 10000000.0"),
)
def label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding centroids: posexplode to (label, pos, value),
    one hash aggregate per (label, dim) — the distributed elementwise-mean
    pattern (vectors never collect to one machine; shuffle carries
    labels x dims partial sums after map-side combine). This is the
    quantizer-training half of the IVF path (ivf_cosine_top5 probes the
    cells these centroids define). Fixed-point sum for engine parity."""
    from otus_cpp_11_spark.queries import dsum

    e = load_table(spark, sf_dir, "embeddings")
    exploded = e.select("label", F.posexplode("embedding").alias("pos", "v"))
    return (
        exploded.groupBy("label", "pos")
        .agg((dsum(F.col("v").cast("double"), 7) / F.count(F.lit(1))).alias("centroid_val"))
        .orderBy("label", "pos")
    )


# --------------------------------------------------------------------------
# LSH-bucketed ANN: random-hyperplane (SimHash-for-vectors) signatures.
# --------------------------------------------------------------------------

NUM_PLANES = 6  # 2^6 = 64 buckets; measured query-bucket ~7 vectors at sf0.01
EMB_DIM = 64  # embeddings table dimension (TESTDATA.md)
LSH_TOPK = 5


def _hyperplanes() -> list[list[float]]:
    """Deterministic pseudo-random +-1 hyperplanes, generated from md5 in
    PYTHON and inlined as literals into both the Spark plan and the oracle
    SQL — the planes are query constants, so neither engine hashes anything
    at runtime and cross-engine parity is trivial."""
    import hashlib

    return [
        [
            1.0
            if int(hashlib.md5(f"{k}:{j}".encode()).hexdigest()[0], 16) % 2
            else -1.0
            for j in range(EMB_DIM)
        ]
        for k in range(NUM_PLANES)
    ]


def _bucket_col(emb: Column) -> Column:
    """LSH bucket id: bit k = sign of the fixed-point dot with plane k."""
    planes = _hyperplanes()
    bits = [
        (_dec_dot(emb, F.array(*[F.lit(c) for c in p])) > 0).cast("int")
        for p in planes
    ]
    out = F.lit(0)
    for k, b in enumerate(bits):
        out = out + b * (2**k)
    return out


def _bucket_sql(emb: str) -> str:
    planes = _hyperplanes()
    terms = []
    for k, p in enumerate(planes):
        lit = "[" + ", ".join(str(c) for c in p) + "]"
        terms.append(
            f"(CASE WHEN {_dot_sql(emb, lit)} > 0 THEN {2 ** k} ELSE 0 END)"
        )
    return "(" + " + ".join(terms) + ")"


@register(
    "lsh_cosine_top5",
    oracle=f"""
WITH q AS (
  SELECT embedding AS qv, {_bucket_sql("embedding")} AS qbucket
  FROM embeddings WHERE vec_id = {QUERY_VEC_ID}
),
scored AS (
  SELECT e.vec_id, e.label,
         {_dot_sql("e.embedding", "q.qv")} /
         (SQRT({_dot_sql("e.embedding", "e.embedding")}) * SQRT({_dot_sql("q.qv", "q.qv")})) AS cosine
  FROM embeddings e, q
  WHERE {_bucket_sql("e.embedding")} = q.qbucket AND e.vec_id <> {QUERY_VEC_ID}
)
SELECT vec_id, label, cosine
FROM scored
ORDER BY cosine DESC, vec_id
LIMIT {LSH_TOPK}
""",
)
def lsh_cosine_top5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed ANN (random-hyperplane signatures): vectors whose
    6-bit sign signature equals the query's are the only candidates —
    1/64th of the table scored instead of all of it, the complement of the
    IVF cell-probe path (ivf_cosine_top5) that needs no trained centroids.
    Single-probe here; production multiprobe = also join the signatures at
    hamming distance 1, same plan shape with an exploded probe list. The
    bucket id is a pure column expression, so at 100 TB it can be computed
    at WRITE time and used as a partition key — then the probe is partition
    pruning, not even a scan."""
    e = load_table(spark, sf_dir, "embeddings")
    # r13 item 14 (guide §2.3): the query norm is a per-query constant —
    # it rides in the 1-row broadcast instead of being refolded per
    # candidate (operand order of dot/(cand_norm * qn) matches
    # cosine_sim, values bit-identical; oracle unchanged, re-proven)
    q = e.where(F.col("vec_id") == QUERY_VEC_ID).select(
        F.col("embedding").alias("qv"),
        _bucket_col(F.col("embedding")).alias("qbucket"),
        F.sqrt(_dec_dot(F.col("embedding"), F.col("embedding"))).alias("qn"),
    )
    scored = (
        e.where(F.col("vec_id") != QUERY_VEC_ID)
        .join(
            F.broadcast(q),
            _bucket_col(F.col("embedding")) == F.col("qbucket"),
        )
        .select(
            "vec_id",
            "label",
            cosine_from_norms(
                _dec_dot(F.col("embedding"), F.col("qv")),
                F.sqrt(_dec_dot(F.col("embedding"), F.col("embedding"))),
                F.col("qn"),
            ).alias("cosine"),
        )
    )
    return scored.orderBy(F.desc("cosine"), "vec_id").limit(LSH_TOPK)


_PROBE_SQL = ", ".join(f"xor(qbucket, {2 ** k})" for k in range(NUM_PLANES))


@register(
    "lsh_cosine_top5_multiprobe",
    oracle=f"""
WITH q AS (
  SELECT embedding AS qv, {_bucket_sql("embedding")} AS qbucket
  FROM embeddings WHERE vec_id = {QUERY_VEC_ID}
),
probes AS (
  SELECT qv, UNNEST([qbucket, {_PROBE_SQL}]) AS pbucket FROM q
),
scored AS (
  SELECT e.vec_id, e.label,
         {_dot_sql("e.embedding", "p.qv")} /
         (SQRT({_dot_sql("e.embedding", "e.embedding")}) * SQRT({_dot_sql("p.qv", "p.qv")})) AS cosine
  FROM embeddings e JOIN probes p ON {_bucket_sql("e.embedding")} = p.pbucket
  WHERE e.vec_id <> {QUERY_VEC_ID}
)
SELECT vec_id, label, cosine
FROM scored
ORDER BY cosine DESC, vec_id
LIMIT {LSH_TOPK}
""",
)
def lsh_cosine_top5_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiprobe LSH ANN: probe the query's bucket AND its NUM_PLANES
    hamming-distance-1 neighbors (flip one sign bit each) — the standard
    recall lever, since a near neighbor that disagrees with the query on
    exactly one hyperplane lands one bit-flip away. Candidate volume is
    (1 + NUM_PLANES)/2^NUM_PLANES of the table (~11% here) vs 1/64
    single-probe; the probe list is still a broadcast, so the plan shape
    is identical to lsh_cosine_top5 — a broadcast equi-join, no shuffle
    of the embeddings. Probe buckets are pairwise distinct, so no
    candidate dedup step is needed. Recall dominates single-probe by
    construction (its candidate set is a superset — tested)."""
    e = load_table(spark, sf_dir, "embeddings")
    # r13 item 14 (guide §2.3): per-query norm in the broadcast probe
    # list, not refolded per candidate — values bit-identical
    q = e.where(F.col("vec_id") == QUERY_VEC_ID).select(
        F.col("embedding").alias("qv"),
        _bucket_col(F.col("embedding")).alias("qbucket"),
        F.sqrt(_dec_dot(F.col("embedding"), F.col("embedding"))).alias("qn"),
    )
    probe_list = F.array(
        F.col("qbucket"),
        *[F.col("qbucket").bitwiseXOR(F.lit(2 ** k)) for k in range(NUM_PLANES)],
    )
    probes = q.select("qv", "qn", F.explode(probe_list).alias("pbucket"))
    scored = (
        e.where(F.col("vec_id") != QUERY_VEC_ID)
        .join(
            F.broadcast(probes),
            _bucket_col(F.col("embedding")) == F.col("pbucket"),
        )
        .select(
            "vec_id",
            "label",
            cosine_from_norms(
                _dec_dot(F.col("embedding"), F.col("qv")),
                F.sqrt(_dec_dot(F.col("embedding"), F.col("embedding"))),
                F.col("qn"),
            ).alias("cosine"),
        )
    )
    return scored.orderBy(F.desc("cosine"), "vec_id").limit(LSH_TOPK)


# --------------------------------------------------------------------------
# k-means: one assignment + centroid-update step (Lloyd iteration).
# --------------------------------------------------------------------------

KMEANS_K = 8  # seed centroids = embeddings with vec_id 0..K-1 (deterministic)


@register(
    "kmeans_assign_update",
    oracle=f"""
WITH c AS (
  SELECT vec_id AS cid, embedding AS cv FROM embeddings WHERE vec_id < {KMEANS_K}
),
scored AS (
  SELECT e.vec_id, e.embedding, c.cid,
         ({_dot_sql("e.embedding", "e.embedding")} -
          2.0 * {_dot_sql("e.embedding", "c.cv")} +
          {_dot_sql("c.cv", "c.cv")}) AS d2
  FROM embeddings e CROSS JOIN c
),
assign AS (
  SELECT vec_id, embedding, cid
  FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn
        FROM scored) t
  WHERE rn = 1
)
SELECT cid AS cluster_id, t.pos,
       COUNT(*) AS n_members,
       CAST(SUM(CAST(FLOOR(CAST(t.v AS DOUBLE) * 10000000.0) AS DECIMAL(38,0))) AS DOUBLE) / 10000000.0 / COUNT(*) AS centroid_val
FROM (
  SELECT cid,
         UNNEST([{{'pos': i - 1, 'v': embedding[i]}} FOR i IN RANGE(1, LEN(embedding) + 1)]) AS t
  FROM assign
) u
GROUP BY cid, t.pos
ORDER BY cid, t.pos
""",
)
def kmeans_assign_update(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One Lloyd k-means iteration (the semantic-clustering primitive under
    IVF training and embedding-space dedup): assign every vector to its
    nearest of K=8 seed centroids (the vec_id < 8 embeddings — a
    deterministic seed both engines agree on), then emit the updated
    centroids as (cluster_id, pos, n_members, centroid_val).

    Distances use the expansion |e|² - 2e·c + |c|² with the fixed-point
    dot product, so cross-engine doubles are bit-identical; argmin is a
    struct-min aggregate ((d2, cid) is unique per vector) — one hash
    aggregate with map-side combine, NOT a window sort. The centroid
    broadcast means assignment is a map-side join; the only shuffles are
    the argmin agg on vec_id and the (cluster × dim) update agg — both
    carry rows proportional to vectors, never the K-way scored expansion.
    Full k-means = this step iterated with the output fed back as c; the
    driver loop materializes K×dim rows per pass (tiny), the pattern
    ``ops.graph.connected_components`` already uses."""
    from otus_cpp_11_spark.queries import dsum

    e = load_table(spark, sf_dir, "embeddings")
    c = e.where(F.col("vec_id") < KMEANS_K).select(
        F.col("vec_id").alias("cid"), F.col("embedding").alias("cv")
    )
    d2 = (
        _dec_dot(F.col("embedding"), F.col("embedding"))
        - 2.0 * _dec_dot(F.col("embedding"), F.col("cv"))
        + _dec_dot(F.col("cv"), F.col("cv"))
    )
    scored = e.join(F.broadcast(c)).select(
        "vec_id", "embedding", "cid", d2.alias("d2")
    )
    assign = (
        scored.groupBy("vec_id")
        .agg(F.min(F.struct("d2", "cid", "embedding")).alias("m"))
        .select(F.col("m.cid").alias("cid"), F.col("m.embedding").alias("embedding"))
    )
    exploded = assign.select("cid", F.posexplode("embedding").alias("pos", "v"))
    return (
        exploded.groupBy(F.col("cid").alias("cluster_id"), F.col("pos"))
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            (dsum(F.col("v").cast("double"), 7) / F.count(F.lit(1))).alias(
                "centroid_val"
            ),
        )
        .orderBy("cluster_id", "pos")
    )


RP_DIMS = 8


def _rp_planes() -> list[list[float]]:
    """Deterministic +-1 projection planes, seed-disjoint from the LSH
    planes (prefix 'rp:'), inlined as literals into both engines."""
    import hashlib

    return [
        [
            1.0
            if int(hashlib.md5(f"rp:{k}:{j}".encode()).hexdigest()[0], 16) % 2
            else -1.0
            for j in range(EMB_DIM)
        ]
        for k in range(RP_DIMS)
    ]


@register(
    "embedding_random_projection",
    oracle="WITH proj AS (\n"
    + "\nUNION ALL\n".join(
        f"  SELECT vec_id, {k} AS out_dim, "
        + _dot_sql(
            "embedding", "[" + ", ".join(str(c) for c in plane) + "]"
        )
        + " AS value FROM embeddings"
        for k, plane in enumerate(_rp_planes())
    )
    + "\n)\nSELECT vec_id, out_dim, value FROM proj ORDER BY vec_id, out_dim",
)
def embedding_random_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Random-projection dimensionality reduction (Johnson-Lindenstrauss):
    project 64-dim embeddings onto 8 deterministic +-1 hyperplanes. The
    planes are query constants, so this is a single narrow map stage — one
    fixed-point dot product per output dim, no shuffle, no UDF; at 100 TB
    it streams through the scan. Output is (vec_id, out_dim, value) scalar
    rows so the oracle hash-compares doubles, not arrays."""
    e = load_table(spark, sf_dir, "embeddings")
    planes = _rp_planes()
    proj = F.array(
        *[
            F.struct(
                F.lit(k).alias("out_dim"),
                _dec_dot(
                    F.col("embedding"), F.array(*[F.lit(c) for c in plane])
                ).alias("value"),
            )
            for k, plane in enumerate(planes)
        ]
    )
    return (
        e.select("vec_id", F.explode(proj).alias("p"))
        .select("vec_id", F.col("p.out_dim").alias("out_dim"), F.col("p.value").alias("value"))
        .orderBy("vec_id", "out_dim")
    )


SEMDEDUP_COSINE = 0.4


@register(
    "semantic_dedup_pairs",
    oracle=f"""
WITH c AS (
  SELECT vec_id AS cid, embedding AS cv FROM embeddings WHERE vec_id < {KMEANS_K}
),
scored AS (
  SELECT e.vec_id, e.embedding, c.cid,
         ({_dot_sql("e.embedding", "e.embedding")} -
          2.0 * {_dot_sql("e.embedding", "c.cv")} +
          {_dot_sql("c.cv", "c.cv")}) AS d2
  FROM embeddings e CROSS JOIN c
),
assign AS (
  SELECT vec_id, embedding, cid
  FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn
        FROM scored) t
  WHERE rn = 1
),
pairs AS (
  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, a.cid AS cell,
         {_dot_sql("a.embedding", "b.embedding")} /
         (SQRT({_dot_sql("a.embedding", "a.embedding")}) * SQRT({_dot_sql("b.embedding", "b.embedding")})) AS cosine
  FROM assign a JOIN assign b ON a.cid = b.cid AND a.vec_id < b.vec_id
)
SELECT vec_a, vec_b, cell, cosine
FROM pairs
WHERE cosine >= {SEMDEDUP_COSINE}
ORDER BY vec_a, vec_b
""",
)
def semantic_dedup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-shaped semantic deduplication: cluster embeddings with the
    k-means assignment step (K=8 deterministic seed centroids, exactly
    ``kmeans_assign_update``'s cell structure), then score cosine ONLY
    within each cell — the pair join is blocked by learned cluster id, so
    the cross product is per-cell, never global. r10 review: with only
    K cells, EVERY cell is a hot block at scale (the old plain self-join
    capped parallelism at K tasks of (N/K)^2 comparisons each), so the
    within-cell join now routes through ``blocked_cosine_pairs`` — the
    same salt-grid split every other pair query uses: a hot cell of B
    rows becomes S^2 tasks of ~(B/S)^2 comparisons with the
    exactly-one-cell pair-meeting guarantee, values bit-identical. At
    100 TB the cells come from the same k-means loop and partition the
    table on write. Same fixed-point cosine as every similarity
    operator, so the oracle hash-matches bit-for-bit."""
    e = load_table(spark, sf_dir, "embeddings")
    c = e.where(F.col("vec_id") < KMEANS_K).select(
        F.col("vec_id").alias("cid"), F.col("embedding").alias("cv")
    )
    assign = (
        e.join(F.broadcast(c))
        .select(
            "vec_id",
            "embedding",
            "cid",
            _d2(F.col("embedding"), F.col("cv")).alias("d2"),
        )
        .groupBy("vec_id")
        .agg(F.min(F.struct("d2", "cid", "embedding")).alias("m"))
        .select(
            "vec_id",
            F.col("m.cid").alias("label"),
            F.col("m.embedding").alias("embedding"),
        )
    )
    pairs = blocked_cosine_pairs(assign).select(
        "vec_a", "vec_b", F.col("label").alias("cell"), "cosine"
    )
    return pairs.where(F.col("cosine") >= SEMDEDUP_COSINE).orderBy("vec_a", "vec_b")


GRAM_ESCALE = 10**6  # per-element quantization; cells carry ESCALE^2


@register(
    "embedding_gram_upper",
    bench=True,
    oracle=f"""
WITH units AS (
  SELECT [CAST(FLOOR(CAST(x AS DOUBLE) * {GRAM_ESCALE}.0) AS BIGINT) FOR x IN embedding] AS eu
  FROM embeddings
),
cells AS (
  SELECT a.i AS k, b.j AS l,
         CAST(eu[a.i + 1] * eu[b.j + 1] AS DECIMAL(38,0)) AS u
  FROM units,
       UNNEST(RANGE(0, LEN(eu))) AS a(i),
       UNNEST(RANGE(0, LEN(eu))) AS b(j)
  WHERE b.j >= a.i
)
SELECT CAST(k AS INT) AS k, CAST(l AS INT) AS l,
       CAST(SUM(u) AS DOUBLE) / {GRAM_ESCALE}.0 / {GRAM_ESCALE}.0 AS gram
FROM cells
GROUP BY k, l
ORDER BY k, l
""",
)
def embedding_gram_upper(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed Gram matrix A^T A (upper triangle): each row contributes
    its d(d+1)/2 outer-product cells, summed by (k, l) — the one-pass
    partial-aggregate formulation of distributed matrix multiply (the
    PCA/covariance building block). No joins: the expansion happens per
    row, map-side combine collapses each partition to <= d^2 cells, and
    the only shuffle carries those partial sums — NOT a self-join of the
    exploded elements, which would shuffle rows*d and materialize rows*d^2
    before aggregating. Elements are quantized to integer units ONCE per
    row in a codegen'd projection; the nested (interpreted) HOF lambdas
    then touch only small integer arrays. spread(): the d^2-per-row
    expansion is the CPU hot spot, so the scan must not arrive
    single-partition (see catalog.spread)."""
    e = spread(load_table(spark, sf_dir, "embeddings"))
    units = e.select(
        F.transform(
            F.col("embedding"),
            lambda x: F.floor(x.cast("double") * F.lit(float(GRAM_ESCALE))).cast(
                "bigint"
            ),
        ).alias("eu")
    )
    eu = F.col("eu")
    cells = units.select(
        F.explode(
            F.flatten(
                F.transform(
                    eu,
                    lambda x, i: F.transform(
                        F.slice(eu, i + 1, F.size(eu) - i),
                        lambda y, j: F.struct(
                            i.cast("int").alias("k"),
                            (i + j).cast("int").alias("l"),
                            (x * y).alias("u"),
                        ),
                    ),
                )
            )
        ).alias("c")
    )
    return (
        cells.select("c.k", "c.l", F.col("c.u").cast("decimal(38,0)").alias("u"))
        .groupBy("k", "l")
        .agg(
            (
                F.sum("u").cast("double")
                / F.lit(float(GRAM_ESCALE))
                / F.lit(float(GRAM_ESCALE))
            ).alias("gram")
        )
        .orderBy("k", "l")
    )


PI_SCALE = 10**6


@register(
    "embedding_power_iteration",
    oracle=f"""
WITH elems AS (
  SELECT vec_id, t.i AS k,
         CAST(FLOOR(CAST(embedding[t.i + 1] AS DOUBLE) * {PI_SCALE}.0) AS BIGINT) AS eu
  FROM embeddings, UNNEST(RANGE(0, LEN(embedding))) AS t(i)
),
tj AS (SELECT vec_id, CAST(SUM(eu) AS BIGINT) AS tu FROM elems GROUP BY vec_id),
u AS (
  SELECT e.k, CAST(SUM(CAST(e.eu AS HUGEINT) * t.tu) AS HUGEINT) AS uu
  FROM elems e JOIN tj t USING (vec_id)
  GROUP BY e.k
),
nrm AS (SELECT SQRT(CAST(SUM(uu * uu) AS DOUBLE)) AS n FROM u)
SELECT CAST(k AS INT) AS k,
       CAST(uu AS DOUBLE) / {PI_SCALE}.0 / {PI_SCALE}.0 AS v1,
       CAST(uu AS DOUBLE) / nrm.n AS v1_unit
FROM u, nrm
ORDER BY k
""",
)
def embedding_power_iteration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One power-iteration step toward the corpus's principal direction:
    v1 = A^T (A 1) computed as two chained fixed-point aggregates — never
    materializing A^T A — plus the unit-normalized estimate. Everything
    up to the final sqrt/division is exact integer units, so the iterate
    is bit-identical across engines and partitionings; at scale the driver
    loops this step (matrix-free, one shuffle per iteration), the standard
    distributed PCA/Lanczos building block."""
    e = spread(load_table(spark, sf_dir, "embeddings"))
    elems = e.select(
        "vec_id",
        F.explode(
            F.transform(
                F.col("embedding"),
                lambda x, i: F.struct(
                    i.cast("int").alias("k"),
                    F.floor(x.cast("double") * F.lit(float(PI_SCALE)))
                    .cast("bigint")
                    .alias("eu"),
                ),
            )
        ).alias("c"),
    ).select("vec_id", "c.k", "c.eu")
    tj = elems.groupBy("vec_id").agg(F.sum("eu").alias("tu"))
    u = (
        elems.join(tj, "vec_id")
        .groupBy("k")
        .agg(
            F.sum(
                F.col("eu").cast("decimal(38,0)") * F.col("tu").cast("decimal(38,0)")
            )
            .cast("decimal(38,0)")
            .alias("uu")
        )
    )
    nrm = u.agg(
        F.sqrt(F.sum(F.col("uu") * F.col("uu")).cast("double")).alias("n")
    )
    return (
        u.crossJoin(F.broadcast(nrm))
        .select(
            "k",
            (
                F.col("uu").cast("double")
                / F.lit(float(PI_SCALE))
                / F.lit(float(PI_SCALE))
            ).alias("v1"),
            (F.col("uu").cast("double") / F.col("n")).alias("v1_unit"),
        )
        .orderBy("k")
    )


# ---------------------------------------------------------------------------
# Product quantization (PQ) — the memory-scale path for ANN at 100 TB.
# ---------------------------------------------------------------------------

PQ_SUBVECTORS = 4
PQ_DSUB = 16  # subvector width; embeddings are 64-dim -> 4 x 16
PQ_CODEBOOK = 16  # codes per subvector -> 4 bits; 4 subvectors -> 2 bytes/vec
PQ_SCALE = 10**12  # fixed-point digits for squared-diff terms

IVF_TOPK = 5  # serving top-k of the IVF probe queries
IVF_T_K = 8  # coarse cells (the kmeans_assign_update seed set, vec_id < 8)
IVF_T_NPROBE = 2  # cells scanned per query
IVF_T_NQ = 8  # eval queries: vec_id in [IVF_T_K, IVF_T_K + IVF_T_NQ)
IVF_T_TOPK = 5


def _pq_centroids(e: DataFrame) -> dict[int, list[float]]:
    """The PQ codebook: the first PQ_CODEBOOK vectors by vec_id, split per
    subvector downstream. This is the standard init-by-first-K before
    k-means refinement (the refinement loop is kmeans_assign_update's
    machinery); shipping a trained codebook changes nothing structurally.
    The collect is K rows — a bounded model artifact, same class as the
    kmeans centroid collect, not a data-sized driver pull."""
    rows = (
        e.where(F.col("vec_id") < PQ_CODEBOOK)
        .select("vec_id", "embedding")
        .collect()
    )
    cents = {int(r["vec_id"]): list(r["embedding"]) for r in rows}
    dim = len(cents[0])
    # One dimensionality contract for Spark AND the generated oracle SQL
    # (both interpolate PQ_DSUB), so a codebook that disagrees must fail
    # loudly here rather than silently desynchronize the two engines.
    assert dim == PQ_SUBVECTORS * PQ_DSUB, (
        f"embedding dim {dim} != PQ_SUBVECTORS*PQ_DSUB ({PQ_SUBVECTORS}x{PQ_DSUB})"
    )
    return cents


def _pq_term(x: Column, y: Column) -> Column:
    d = x.cast("double") - y
    return F.floor(d * d * F.lit(float(PQ_SCALE))).cast("decimal(38,0)")


def _pq_dist(sub: Column, cent_slice: list[float]) -> Column:
    """Fixed-point-exact squared L2 distance between an array<float> slice
    and a codebook slice (literal), in integer units — argmin comparisons
    are then exact in both engines (same recipe as _dec_dot)."""
    cent = F.array(*[F.lit(float(v)) for v in cent_slice])
    diffs = F.zip_with(sub, cent, _pq_term)
    return F.aggregate(
        diffs,
        F.lit(0).cast("decimal(38,0)"),
        lambda acc, p: (acc + p).cast("decimal(38,0)"),
    )


_PQ_CODE_COLS = ", ".join(
    f"MAX(CASE WHEN s = {s} THEN code END) AS code_{s}" for s in range(PQ_SUBVECTORS)
)


def _pq_code_exprs_slices(
    slices: dict[tuple[int, int], list[float]]
) -> list[Column]:
    """The encode expressions over a per-(subvector, code) slice
    codebook — one argmin-over-codebook column per subvector
    (least-of-structs with code tie-break), all fixed-point-exact
    Column math: codebooks ride as plan literals, no UDF, no shuffle.
    This is the encode the TRAINED stored index is built with."""
    cols = []
    for s in range(PQ_SUBVECTORS):
        sub = F.slice(F.col("embedding"), s * PQ_DSUB + 1, PQ_DSUB)
        structs = [
            F.struct(
                _pq_dist(sub, slices[(s, c)]).alias("d"),
                F.lit(c).cast("bigint").alias("code"),
            )
            for c in range(PQ_CODEBOOK)
        ]
        cols.append(F.least(*structs).getField("code").alias(f"code_{s}"))
    return cols


def _ivf_cell_expr(cents: list[list[float]]) -> Column:
    """Nearest trained coarse centroid (the vector's IVF cell) as a
    Column: K exact d2 structs, least-of-structs with cid tie-break —
    centroids ride as plan literals, no shuffle, no UDF."""
    structs = [
        F.struct(
            _d2(
                F.col("embedding"), F.array(*[F.lit(float(v)) for v in c])
            ).alias("d2"),
            F.lit(i).cast("bigint").alias("cid"),
        )
        for i, c in enumerate(cents)
    ]
    return F.least(*structs).getField("cid")


PQ_INGEST_MOD = 5  # vec_id % 5 == 4 simulates the post-build ingest slice


def _pq_versioned_index(spark: SparkSession, sf_dir: str) -> str:
    """THE served ANN artifact (r11, closing the r10 verdict's items 1
    and 5 together): ONE versioned manifest table (ops.versioned)
    holding the RESIDUAL-encoded IVF-PQ index — FAISS ``IndexIVFPQ``
    semantics. Schema: (vec_id, label, cell, code_0..3) where cell is
    the vector's nearest PINNED coarse centroid and the codes
    PQ-quantize the RESIDUAL (vector − centroid[cell]), which
    concentrates the quantizer's dynamic range around the cell centers
    — most of IVF-PQ's recall advantage at equal code bytes
    (``pq_recall_residual_vs_raw`` gates it).

    Lifecycle: version 1 is the bulk build over the pre-ingest corpus;
    version 2 an APPEND commit that encodes ONLY the newly arrived
    vectors and carries every v1 data file by reference. BOTH trained
    artifacts (coarse centroids + residual codebook) are pinned at
    bulk-build time — the data that existed then — because retraining
    either reassigns cells / invalidates stored codes; the append
    re-encodes the delta under the same pinned artifacts, which is what
    makes append-encode == full-rebuild an exact, oracle-checkable
    identity (``pq_index_after_append``).

    Files are range-clustered on (cell, vec_id) with per-file min/max
    stats on both, so an nprobe probe via ``scan_version`` dismisses
    (K − nprobe)/K of the index from the MANIFEST HEADER alone — the
    physical per-list layout a real IVF index has, now with the
    versioned table's guarantees: OCC-protected refresh, time travel to
    any build, readers pinned mid-refresh keep their snapshot, RTBF
    deletes via DVs, retention vacuum. At 100 TB the refresh cost is
    O(new vectors) and the commit O(1) metadata. Idempotent and
    crash-resumable: a crash after v1 resumes by appending; a retry of
    a completed build is a read; a concurrent builder losing the OCC
    race inherits the winner's identical artifact."""
    import hashlib

    from otus_cpp_11_spark.ops.versioned import (
        CommitConflict,
        commit_append,
        commit_version,
        current_version,
    )

    token = _src_token(
        sf_dir,
        f"ivfpqvidx|{PQ_SUBVECTORS}x{PQ_CODEBOOK}@{PQ_SCALE}"
        f"|it{PQ_TRAIN_ITERS}|ivf{IVF_T_K}x{IVF_TRAIN_ITERS}"
        f"|incr{PQ_INGEST_MOD}|residual",
    )
    digest = hashlib.sha256(token.encode()).hexdigest()[:16]
    path = os.path.join(_artifact_cache_root(), f"ivfpq-vindex-{digest}")
    # in-process memo of "build reached v2": a completed build is
    # immutable under this key (source size+mtime + full geometry), so
    # repeat serving calls skip the two current_version listings — the
    # catalog-cache behavior every production reader has. Readers still
    # re-read the MANIFEST per query (snapshot correctness).
    if _TRAINED_CACHE.get(("built", token)):
        return path
    e = load_table(spark, sf_dir, "embeddings")
    is_ingest = F.col("vec_id") % PQ_INGEST_MOD == PQ_INGEST_MOD - 1

    def encoded(rows: DataFrame) -> DataFrame:
        # pinned at build time (pre-ingest training), reused by appends
        cents, _, _, _ = _ivf_trained(spark, sf_dir, pre_ingest=True)
        trained, _, _, _ = _pq_trained_res(spark, sf_dir, pre_ingest=True)
        rf = _residual_frame(rows, cents)
        return rf.select(
            "vec_id", "label", "cell", *_pq_code_exprs_slices(trained)
        ).repartitionByRange(IVF_T_K, "cell", "vec_id")

    cur = current_version(spark, path)
    if cur is None:
        try:
            commit_version(
                spark,
                encoded(e.where(~is_ingest)),
                path,
                stats_cols=["cell", "vec_id"],
                meta={"stage": "bulk-build"},
            )
        except CommitConflict:
            pass  # concurrent builder won the race with identical content
        cur = current_version(spark, path)
    if cur == 1:
        try:
            commit_append(
                spark,
                encoded(e.where(is_ingest)),
                path,
                stats_cols=["cell", "vec_id"],
                meta={"stage": "ingest-refresh"},
            )
        except CommitConflict:
            pass  # ditto: the interleaved commit was this same refresh
    _TRAINED_CACHE[("built", token)] = True
    return path


def _fmt_d(v: float) -> str:
    """Exact-round-trip double literal for generated Spark SQL: repr()
    is the shortest decimal that parses back to the same IEEE double,
    and string→double casting is correctly rounded — so the parsed plan
    literal is bit-identical to ``F.lit(float(v))``."""
    return f"CAST('{float(v)!r}' AS DOUBLE)"


_SCALE_D = f"CAST({_SCALE} AS DOUBLE)"
_PQ_SCALE_D = f"CAST({PQ_SCALE} AS DOUBLE)"


def _dot_lit_sql(col: str, lit_arr: list[float]) -> str:
    """``_dec_dot(col, literal array)`` as ONE Spark-SQL string — the
    same fixed-point recipe (floor of per-element double products,
    exact decimal sum, divide back in double), built for the JVM parser
    instead of as thousands of py4j Column constructions (~1 ms to
    parse vs seconds to construct — the ``_adc_expr_cells`` measurement,
    and the reason the per-micro-batch encode uses SQL strings)."""
    arr = "array(" + ",".join(_fmt_d(v) for v in lit_arr) + ")"
    return (
        f"(CAST(aggregate(zip_with({col}, {arr}, (x, y) -> "
        f"CAST(FLOOR(CAST(x AS DOUBLE) * CAST(y AS DOUBLE) * {_SCALE_D}) "
        f"AS DECIMAL(38,0))), CAST(0 AS DECIMAL(38,0)), "
        f"(acc, p) -> CAST(acc + p AS DECIMAL(38,0))) AS DOUBLE) "
        f"/ {_SCALE_D})"
    )


def _dot_lit_py(a: list[float]) -> float:
    """Driver-side twin of ``_dec_dot(lit, lit)`` — identical IEEE ops
    (double multiply, scale, floor, exact integer sum, correctly-rounded
    int→double, double divide), so a centroid's self-dot can ride as one
    precomputed literal instead of a 64-element expression."""
    import math

    total = sum(math.floor(x * x * float(_SCALE)) for x in a)
    return float(total) / float(_SCALE)


def _cell_expr_sql(cents: list[list[float]]) -> str:
    """``_ivf_cell_expr`` as one SQL string: least-of-structs over the K
    exact d2 expansions (dot(e,e) − 2·dot(e,c) + dot(c,c)), cid
    tie-break; dot(c,c) is a precomputed driver literal (same IEEE
    math)."""
    # dot(e, e) has no literal side — inline the self-zip form once
    dee = (
        f"(CAST(aggregate(zip_with(embedding, embedding, (x, y) -> "
        f"CAST(FLOOR(CAST(x AS DOUBLE) * CAST(y AS DOUBLE) * {_SCALE_D}) "
        f"AS DECIMAL(38,0))), CAST(0 AS DECIMAL(38,0)), "
        f"(acc, p) -> CAST(acc + p AS DECIMAL(38,0))) AS DOUBLE) "
        f"/ {_SCALE_D})"
    )
    structs = ",".join(
        f"named_struct('d2', ({dee} - 2.0D * {_dot_lit_sql('embedding', c)}"
        f" + {_fmt_d(_dot_lit_py(c))}), 'cid', CAST({i} AS BIGINT))"
        for i, c in enumerate(cents)
    )
    return f"least({structs}).cid"


def _residual_expr_sql(cents: list[list[float]]) -> str:
    """The residual (vector − centroid[cell]) as one SQL string over a
    frame that already carries ``cell`` — ``_residual_frame``'s
    zip_with, parser-built."""
    cmat = (
        "array("
        + ",".join(
            "array(" + ",".join(_fmt_d(v) for v in c) + ")" for c in cents
        )
        + ")"
    )
    return (
        f"zip_with(embedding, element_at({cmat}, CAST(cell + 1 AS INT)), "
        f"(x, c) -> CAST(x AS DOUBLE) - c)"
    )


def _code_exprs_sql(slices: dict[tuple[int, int], list[float]]) -> list[str]:
    """``_pq_code_exprs_slices`` as SQL strings (one per subvector):
    least-of-structs argmin over the codebook, each distance the exact
    fixed-point squared L2 of the embedding slice vs a literal codebook
    slice."""
    out = []
    for s in range(PQ_SUBVECTORS):
        sub = f"slice(embedding, {s * PQ_DSUB + 1}, {PQ_DSUB})"
        structs = []
        for c in range(PQ_CODEBOOK):
            arr = "array(" + ",".join(_fmt_d(v) for v in slices[(s, c)]) + ")"
            dist = (
                f"aggregate(zip_with({sub}, {arr}, (x, y) -> "
                f"CAST(FLOOR((CAST(x AS DOUBLE) - y) * (CAST(x AS DOUBLE) - y)"
                f" * {_PQ_SCALE_D}) AS DECIMAL(38,0))), "
                f"CAST(0 AS DECIMAL(38,0)), "
                f"(acc, p) -> CAST(acc + p AS DECIMAL(38,0)))"
            )
            structs.append(
                f"named_struct('d', {dist}, 'code', CAST({c} AS BIGINT))"
            )
        out.append(f"least({','.join(structs)}).code AS code_{s}")
    return out


def encode_ivfpq(
    rows: DataFrame,
    cents: list[list[float]],
    slices: dict[tuple[int, int], list[float]],
) -> DataFrame:
    """Encode raw (vec_id, label, embedding) rows into served-index rows
    (vec_id, label, cell, code_0..{PQ_SUBVECTORS - 1}) under PINNED
    artifacts — the one encode every index face shares: assign the
    nearest pinned coarse centroid, PQ-quantize the residual against the
    pinned residual codebook, cluster the output on (cell, vec_id) so
    per-file stats give nprobe probes manifest-header file dismissal.
    Pure relational expressions (artifacts ride as plan literals, no
    UDF), batch/stream polymorphic — the streaming maintainer
    (``streaming.incremental_ann_index``) encodes each micro-batch with
    exactly this expression, which is what makes maintained-index ==
    from-scratch-rebuild an exact oracle identity.

    The expression tree is built as SQL STRINGS parsed JVM-side: the
    Column-API equivalents (``_residual_frame`` +
    ``_pq_code_exprs_slices``) cost ~8 s of py4j round trips to
    CONSTRUCT per call (measured; execution is ~0.6 s) — tolerable for
    a once-per-build bulk encode, fatal for a per-micro-batch
    maintainer. ``tests/test_knn_ivfpq.py`` pins SQL-encode ==
    Column-encode row-for-row; the ``ann_index_streamed`` oracle pins
    both against a from-scratch DuckDB rebuild."""
    with_cell = rows.selectExpr(
        "vec_id", "label", f"{_cell_expr_sql(cents)} AS cell", "embedding"
    )
    residual = with_cell.selectExpr(
        "vec_id", "label", "cell", f"{_residual_expr_sql(cents)} AS embedding"
    )
    return residual.selectExpr(
        "vec_id", "label", "cell", *_code_exprs_sql(slices)
    ).repartitionByRange(IVF_T_K, "cell", "vec_id")


def _pq_index_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Latest snapshot of the served residual index (full-probe reads)."""
    from otus_cpp_11_spark.ops.versioned import read_version

    return read_version(spark, _pq_versioned_index(spark, sf_dir))


def _pq_index_cells(
    spark: SparkSession, sf_dir: str, cells: list[int], path: str | None = None
) -> DataFrame:
    """IVF list access over the versioned index: one stats-pruned
    ``scan_version`` per probed cell (files dismissed from the manifest
    header's (cell) extents — the cell-clustered layout makes each
    probe touch ~1/K of the files), unioned. nprobe-bounded branches.
    ``path`` overrides the default served artifact (e.g. a lifecycle
    query's own streamed+forgotten index)."""
    from functools import reduce

    from otus_cpp_11_spark.ops.versioned import read_version, scan_version

    if path is None:
        path = _pq_versioned_index(spark, sf_dir)
    if len(set(cells)) >= IVF_T_K:
        # full probe (a batch query SET usually touches every cell):
        # per-cell manifest pruning would dismiss nothing — one snapshot
        # read replaces K scan branches and their driver manifest work
        return read_version(spark, path)
    parts = [
        scan_version(spark, path, bounds={"cell": (c, c)})[0] for c in cells
    ]
    return reduce(DataFrame.unionByName, parts)


def _adc_expr_cells(dtables: list[list[list[int]]]) -> Column:
    """Residual ADC over STORED (cell, codes): the distance table is
    per-cell (``_pq_res_dtables``), so the lookup is
    T[cell][s][code_s] — one extra element_at per row against a
    K × S × CODEBOOK literal tree; still zero float math, zero encode,
    no join (the tables ride as plan literals). The tree is built as
    ONE SQL string parsed JVM-side: constructing 512 nested F.lit/
    F.array Columns costs one py4j round trip EACH (~1.2 s of pure
    driver latency per query — measured), while the parser ingests the
    same literal in ~1 ms."""
    lit = F.expr(
        "array("
        + ",".join(
            "array("
            + ",".join(
                "array(" + ",".join(f"{int(v)}L" for v in srow) + ")"
                for srow in cell_tab
            )
            + ")"
            for cell_tab in dtables
        )
        + ")"
    )
    cellt = F.element_at(lit, (F.col("cell") + 1).cast("int"))
    adc = None
    for s in range(PQ_SUBVECTORS):
        term = F.element_at(
            F.element_at(cellt, s + 1), (F.col(f"code_{s}") + 1).cast("int")
        )
        adc = term if adc is None else adc + term
    return adc




ADC_SHORTLIST = 50



# ---------------------------------------------------------------------------
# k-NN JOIN: every query vector gets its top-k neighbors in one relational
# plan — the many-query generalization of the single-query ANN paths above,
# and the shape retrieval-augmentation / SemDeDup-style curation actually
# runs (a whole query SET against the corpus, not one vector at a time).

KNN_QUERY_MOD = 20  # vec_id % 20 == 0 -> the query subset (1/20 of the table)
KNN_TOPK = 3


@register(
    "knn_join_lsh_top3",
    oracle=f"""
WITH q AS (
  SELECT vec_id AS query_id, embedding AS qv,
         {_bucket_sql("embedding")} AS qbucket
  FROM embeddings WHERE vec_id % {KNN_QUERY_MOD} = 0
),
cand AS (
  SELECT vec_id, label, embedding,
         {_bucket_sql("embedding")} AS bucket
  FROM embeddings
),
scored AS (
  SELECT q.query_id, c.vec_id AS neighbor_id, c.label AS neighbor_label,
         {_dot_sql("c.embedding", "q.qv")} /
         (SQRT({_dot_sql("c.embedding", "c.embedding")}) * SQRT({_dot_sql("q.qv", "q.qv")})) AS cosine
  FROM q JOIN cand c ON c.bucket = q.qbucket AND c.vec_id <> q.query_id
),
ranked AS (
  SELECT *, ROW_NUMBER() OVER (
           PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rnk
  FROM scored
)
SELECT query_id, neighbor_id, neighbor_label, cosine, rnk
FROM ranked WHERE rnk <= {KNN_TOPK}
ORDER BY query_id, rnk
""",
    bench=True,
)
def knn_join_lsh_top3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked k-NN join: the query subset (every {KNN_QUERY_MOD}th
    vector) joins the corpus on equal LSH sign-signature, scores cosine
    inside each bucket only, and a per-query window keeps the top
    {KNN_TOPK} (total tie-break on neighbor_id). This is the retrieval /
    SemDeDup workhorse: N queries answered in ONE plan — a bucket
    equi-join plus a windowed rank — instead of N single-query scans.

    Scale shape: both sides compute the bucket as a pure column
    expression (at 100 TB it is computed at write time and used as the
    partition key, making the join partition-aligned with zero shuffle
    of the corpus side); the equi-join shuffles each side once on the
    bucket id; the rank shuffles candidate rows once on query_id.
    Candidate volume per bucket is |corpus|/2^planes — the standard LSH
    scaling rule applies (plane count grows with log N so per-bucket
    population stays bounded; recall is recovered with the multiprobe
    expansion of lsh_cosine_top5_multiprobe, same plan shape with an
    exploded probe list). Per-query work is therefore bounded and the
    whole join is linear in corpus size at fixed bucket occupancy —
    never all-pairs."""
    e = load_table(spark, sf_dir, "embeddings")
    # r13 (guide §2.3 — per-side constants computed per side, not per
    # pair): cosine_sim(cv, qv) ran THREE 64-element decimal folds per
    # candidate pair; the two norms are per-side and move into each
    # side's projection BELOW the bucket join, leaving one fold per
    # pair. dot/(cn*qn) keeps cosine_sim's operand order, so every
    # double is bit-identical (oracle text unchanged, re-proven).
    q = e.where(F.col("vec_id") % KNN_QUERY_MOD == 0).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qv"),
        _bucket_col(F.col("embedding")).alias("qbucket"),
        F.sqrt(_dec_dot(F.col("embedding"), F.col("embedding"))).alias("qn"),
    )
    cand = e.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("label").alias("neighbor_label"),
        F.col("embedding").alias("cv"),
        _bucket_col(F.col("embedding")).alias("bucket"),
        F.sqrt(_dec_dot(F.col("embedding"), F.col("embedding"))).alias("cn"),
    )
    scored = (
        q.join(
            cand,
            (F.col("bucket") == F.col("qbucket"))
            & (F.col("neighbor_id") != F.col("query_id")),
        )
        .select(
            "query_id",
            "neighbor_id",
            "neighbor_label",
            cosine_from_norms(
                _dec_dot(F.col("cv"), F.col("qv")), F.col("cn"), F.col("qn")
            ).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), "neighbor_id")
    return (
        scored.select("*", F.row_number().over(w).alias("rnk"))
        .where(F.col("rnk") <= KNN_TOPK)
        .orderBy("query_id", "rnk")
    )


def _cosine_topk(
    q: DataFrame, cand: DataFrame, on: Column | None = None
) -> DataFrame:
    """Per-query top-{KNN_TOPK} ``(query_id, nid)`` by fixed-point cosine
    (``nid`` tie-break) of the query side ``(query_id, qv, qn)`` against
    the candidate side ``(nid, cv, cn)``, norms precomputed per side.
    ``on=None`` is the exact arm — every candidate but the query itself
    (the query side is a bounded sample, so this is a broadcast nested
    loop, never corpus x corpus); a join condition gives the blocked arm
    (e.g. the LSH bucket equi-join)."""
    not_self = F.col("nid") != F.col("query_id")
    pairs = (
        q.crossJoin(cand).where(not_self)
        if on is None
        else q.join(cand, on & not_self)
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), "nid")
    return (
        pairs.select(
            "query_id",
            "nid",
            cosine_from_norms(
                _dec_dot(F.col("cv"), F.col("qv")), F.col("cn"), F.col("qn")
            ).alias("cosine"),
        )
        .select("query_id", "nid", F.row_number().over(w).alias("rnk"))
        .where(F.col("rnk") <= KNN_TOPK)
        .select("query_id", "nid")
    )


def _overlap_recall(
    exact_top: DataFrame, approx_top: DataFrame, keys: list[str]
) -> DataFrame:
    """``n_overlap`` and ``recall`` of the approximate top-k against the
    exact top-k, both ``(query_id, nid)``, aggregated over ``keys``
    (``["query_id"]`` per query, ``[]`` for one probe-set scalar). The
    exact rows LEFT-join the approximate ones and recall is the overlap
    over the EXACT row count, not the constant k: a query with fewer
    than k exact neighbors (tiny corpus, a selective filter) still
    measures recall-of-achievable instead of silently understating
    (r5 ADVICE)."""
    approx = approx_top.select(
        F.col("query_id").alias("l_qid"), F.col("nid").alias("l_nid")
    )
    return (
        exact_top.join(
            approx,
            (F.col("query_id") == F.col("l_qid")) & (F.col("nid") == F.col("l_nid")),
            "left",
        )
        .groupBy(*keys)
        .agg(
            F.count("l_nid").alias("n_overlap"),
            (F.count("l_nid").cast("double") / F.count(F.lit(1))).alias("recall"),
        )
    )


@register(
    "knn_recall_at_3",
    oracle=f"""
WITH q AS (
  SELECT vec_id AS query_id, embedding AS qv,
         {_bucket_sql("embedding")} AS qbucket
  FROM embeddings WHERE vec_id % {KNN_QUERY_MOD} = 0
),
exact_ranked AS (
  SELECT q.query_id, e.vec_id,
         ROW_NUMBER() OVER (PARTITION BY q.query_id ORDER BY
           {_dot_sql("e.embedding", "q.qv")} /
           (SQRT({_dot_sql("e.embedding", "e.embedding")}) * SQRT({_dot_sql("q.qv", "q.qv")})) DESC,
           e.vec_id) AS rnk
  FROM embeddings e, q
  WHERE e.vec_id <> q.query_id
),
exact_top AS (SELECT query_id, vec_id FROM exact_ranked WHERE rnk <= {KNN_TOPK}),
lsh_ranked AS (
  SELECT q.query_id, e.vec_id,
         ROW_NUMBER() OVER (PARTITION BY q.query_id ORDER BY
           {_dot_sql("e.embedding", "q.qv")} /
           (SQRT({_dot_sql("e.embedding", "e.embedding")}) * SQRT({_dot_sql("q.qv", "q.qv")})) DESC,
           e.vec_id) AS rnk
  FROM embeddings e JOIN q ON {_bucket_sql("e.embedding")} = q.qbucket
  WHERE e.vec_id <> q.query_id
),
lsh_top AS (SELECT query_id, vec_id FROM lsh_ranked WHERE rnk <= {KNN_TOPK})
SELECT x.query_id,
       CAST(COUNT(l.vec_id) AS BIGINT) AS n_overlap,
       CAST(COUNT(l.vec_id) AS DOUBLE) / COUNT(*) AS recall
FROM exact_top x
LEFT JOIN lsh_top l ON l.query_id = x.query_id AND l.vec_id = x.vec_id
GROUP BY x.query_id
ORDER BY x.query_id
""",
)
def knn_recall_at_3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@{KNN_TOPK} of the LSH-blocked k-NN join against the exact
    brute-force top-{KNN_TOPK}, per query — the eval metric every ANN
    index ships with, computed as a query inside the engine rather than
    in an offline notebook. The exact side scores the sampled query set
    against the whole corpus (the reason recall evals run on SAMPLES:
    the query side is bounded by construction — {KNN_QUERY_MOD}x fewer
    rows — so Catalyst broadcasts it and the corpus streams through one
    narrow scoring pass, never corpus x corpus); the LSH side restricts
    to the query's sign-signature bucket, exactly knn_join_lsh_top3's
    plan. The overlap join is per-(query, vec) on two {KNN_TOPK}-row
    relations. Recall is n_overlap over the query's EXACT top-k row
    count (int/int double) so it measures recall-of-achievable even if
    a query has fewer than k exact neighbors. At
    100 TB this runs periodically over a fixed probe set to regression-
    gate index quality (bucket-occupancy drift, plane staleness) — the
    same sample-probe pattern as the sketch accuracy gates."""
    e = load_table(spark, sf_dir, "embeddings")
    # r14 (guide §2.3, the item-14 shape): per-side norms factored below
    # the joins — both arms score corpus x query-sample pairs, so the old
    # fused cosine_sim re-ran the query self-fold once per corpus row and
    # the candidate self-fold once per query; one fold per pair remains.
    # Operand order via cosine_from_norms matches cosine_sim(cv, qv)
    # bit-for-bit (oracle unchanged, re-proven).
    q = e.where(F.col("vec_id") % KNN_QUERY_MOD == 0).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qv"),
        _bucket_col(F.col("embedding")).alias("qbucket"),
        F.sqrt(_dec_dot(F.col("embedding"), F.col("embedding"))).alias("qn"),
    )
    cand = e.select(
        F.col("vec_id").alias("nid"),
        F.col("embedding").alias("cv"),
        _bucket_col(F.col("embedding")).alias("bucket"),
        F.sqrt(_dec_dot(F.col("embedding"), F.col("embedding"))).alias("cn"),
    )
    lsh_top = _cosine_topk(q, cand, F.col("bucket") == F.col("qbucket"))
    return _overlap_recall(_cosine_topk(q, cand), lsh_top, ["query_id"]).orderBy(
        "query_id"
    )


# --- contrastive-pair mining -------------------------------------------------
# Bounded literal anchor set: the broadcast side stays O(1) however big the
# corpus is, so the mining pass is LINEAR in corpus size (never anchors ×
# corpus shuffled). All ids exist at every SF (embeddings min vec_id 0,
# max >= 499 at sf0.001).
HARDNEG_ANCHORS: tuple[int, ...] = (0, 3, 7, 12, 21, 33, 42, 57)
HARDNEG_TOPK = 3
_ANCHOR_SQL = ", ".join(str(a) for a in HARDNEG_ANCHORS)


@register(
    "hard_negative_mining",
    oracle=f"""
WITH a AS (
  SELECT vec_id AS anchor_id, label AS anchor_label, embedding AS av
  FROM embeddings WHERE vec_id IN ({_ANCHOR_SQL})
),
scored AS (
  SELECT a.anchor_id, e.vec_id AS neg_vec_id, e.label AS neg_label,
         {_dot_sql("e.embedding", "a.av")} /
         (SQRT({_dot_sql("e.embedding", "e.embedding")}) *
          SQRT({_dot_sql("a.av", "a.av")})) AS cosine
  FROM embeddings e, a
  WHERE e.label <> a.anchor_label
),
ranked AS (
  SELECT anchor_id, neg_vec_id, neg_label, cosine,
         ROW_NUMBER() OVER (PARTITION BY anchor_id
                            ORDER BY cosine DESC, neg_vec_id) AS rank
  FROM scored
)
SELECT anchor_id, rank, neg_vec_id, neg_label, cosine
FROM ranked WHERE rank <= {HARDNEG_TOPK}
ORDER BY anchor_id, rank
""",
)
def hard_negative_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contrastive-pair hard-negative mining: for each anchor vector, the
    top-3 most-cosine-similar vectors carrying a DIFFERENT label — the
    wrong-class examples a contrastive trainer most needs to see. Cosine
    uses the module's fixed-point dot (bit-identical cross-engine,
    module docstring); ties break on neg_vec_id.

    100 TB shape: the anchor relation is bounded-by-construction (literal
    id list) and broadcast, so the scoring pass is one linear map over the
    corpus — the embedding column never shuffles. The label-differs
    predicate prunes inside that map (and subsumes self-pairing: an anchor
    shares its own label). Top-k is the shared salted_topk two-stage
    window (ops/skew.py: per-(anchor, salt-cell) top-3, then global top-3
    over <= 16*3 survivors per anchor, exactness proven against the naive
    single-window formulation in tests/test_round7_ops.py) because
    |anchors| window partitions would otherwise funnel the whole scored
    corpus through 8 reducers. The real many-anchor workload (mine
    negatives for EVERY training example) buckets by LSH first — same
    candidate-join shape as knn_join_lsh_top3."""
    e = load_table(spark, sf_dir, "embeddings")
    # r13 item 14 (guide §2.3): anchor norms ride in the broadcast,
    # corpus-row norms are computed once below the join — one decimal
    # fold per (corpus row, anchor) pair instead of three; operand
    # order of dot/(neg_norm * an) matches cosine_sim, bit-identical
    anchors = (
        e.where(F.col("vec_id").isin(list(HARDNEG_ANCHORS)))
        .select(
            F.col("vec_id").alias("anchor_id"),
            F.col("label").alias("anchor_label"),
            F.col("embedding").alias("av"),
            F.sqrt(_dec_dot(F.col("embedding"), F.col("embedding"))).alias(
                "an"
            ),
        )
    )
    negs = e.select(
        "vec_id",
        "label",
        "embedding",
        F.sqrt(_dec_dot(F.col("embedding"), F.col("embedding"))).alias("nn"),
    )
    scored = (
        negs.join(F.broadcast(anchors), F.col("label") != F.col("anchor_label"))
        .select(
            "anchor_id",
            F.col("vec_id").alias("neg_vec_id"),
            F.col("label").alias("neg_label"),
            cosine_from_norms(
                _dec_dot(F.col("embedding"), F.col("av")),
                F.col("nn"),
                F.col("an"),
            ).alias("cosine"),
        )
    )
    from otus_cpp_11_spark.ops.skew import salted_topk

    return (
        salted_topk(
            scored,
            ["anchor_id"],
            [F.desc("cosine"), F.asc("neg_vec_id")],
            HARDNEG_TOPK,
            salt_on="neg_vec_id",
        )
        .select("anchor_id", "rank", "neg_vec_id", "neg_label", "cosine")
        .orderBy("anchor_id", "rank")
    )


# --------------------------------------------------------------------------
# Metadata-filtered ANN: the pre-filter vs post-filter correctness trap.
# --------------------------------------------------------------------------

FILTERED_TOPK = 5
ANN_FILTER_SQL = "source IN ('src1', 'src3') AND n_chars >= 200"


@register(
    "ann_filtered_top5",
    oracle=f"""
WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = {QUERY_VEC_ID}),
allowed AS (
  SELECT doc_id FROM documents WHERE {ANN_FILTER_SQL}
),
scored AS (
  SELECT e.vec_id, e.label,
         {_dot_sql("e.embedding", "q.qv")} /
         (SQRT({_dot_sql("e.embedding", "e.embedding")}) * SQRT({_dot_sql("q.qv", "q.qv")})) AS cosine
  FROM embeddings e JOIN allowed a ON e.vec_id = a.doc_id, q
  WHERE e.vec_id <> {QUERY_VEC_ID}
)
SELECT vec_id, label, cosine
FROM scored
ORDER BY cosine DESC, vec_id
LIMIT {FILTERED_TOPK}
""",
)
def ann_filtered_top5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metadata-FILTERED vector search — the production retrieval shape
    (vector DBs call it filtered / hybrid search): top-k cosine among
    only the vectors whose DOCUMENT satisfies a relational predicate
    (source + length here; licence, date, tenant in practice). The
    load-bearing choice is PRE-filtering: the predicate semi-join runs
    BEFORE any distance math, so every scored candidate is eligible and
    the result is exactly the top-k of the filtered set. The tempting
    alternative — take the unfiltered top-k, then filter — is WRONG for
    any selective predicate: eligible near neighbors ranked below k
    vanish, and the result can carry fewer than k rows (the pytest
    demonstrates a concrete divergence on this data).

    Plan: documents-side predicate prunes at the parquet scan (only
    doc_id + predicate columns read), the eligible-id set semi-joins
    the vector table (AQE broadcasts it when small), the query vector
    broadcasts, scoring is JVM-side fixed-point zip_with, and top-k is
    a TakeOrderedAndProject — no shuffle of the embedding column, no
    sort of the corpus. At 100 TB the same shape composes with the IVF
    cell index (``ivf_cosine_top5``): probe cells, semi-join the
    eligible ids INSIDE the cell scan, score survivors — filter
    selectivity and cell pruning multiply. Reference parity: extension
    mandate (LLM-pipeline battery)."""
    e = load_table(spark, sf_dir, "embeddings")
    d = load_table(spark, sf_dir, "documents")
    allowed = d.where(ANN_FILTER_SQL).select(F.col("doc_id").alias("vec_id"))
    # r14 (guide §2.3, the item-14 shape): the query norm is a per-query
    # constant riding the 1-row broadcast; the old fused cosine_sim
    # re-ran the query self-fold once per surviving corpus row. Operand
    # order matches cosine_sim(embedding, qv) bit-for-bit.
    q = e.where(F.col("vec_id") == QUERY_VEC_ID).select(
        F.col("embedding").alias("qv"),
        F.sqrt(_dec_dot(F.col("embedding"), F.col("embedding"))).alias("qn"),
    )
    scored = (
        e.where(F.col("vec_id") != QUERY_VEC_ID)
        .join(allowed, "vec_id", "left_semi")
        .join(F.broadcast(q))
        .select(
            "vec_id",
            "label",
            cosine_from_norms(
                _dec_dot(F.col("embedding"), F.col("qv")),
                F.sqrt(_dec_dot(F.col("embedding"), F.col("embedding"))),
                F.col("qn"),
            ).alias("cosine"),
        )
    )
    return scored.orderBy(F.desc("cosine"), "vec_id").limit(FILTERED_TOPK)


# --------------------------------------------------------------------------
# Truncated-dimension retrieval recall (Matryoshka-style MRL evaluation).
# --------------------------------------------------------------------------

TRUNC_DIM = 16  # leading dims scored by the cheap first-stage ranker
TRUNC_RECALL_K = 5
TRUNC_N_QUERIES = 20


def _stacked_recall(
    scored: DataFrame, order: Column, k: int, variants: list[str]
) -> DataFrame:
    """Recall@k of each variant's ranking against the ``exact`` one, from
    ONE stacked ``(qid, vec_id, metric, score)`` frame ranked by
    ``order`` (``vec_id`` tie-break). One ``salted_topk`` over (qid,
    metric) ranks every metric in one DAG branch — separate branches
    over the uncached scored frame would re-run the dominant scoring
    pass per metric (r8 review finding) — and the recall join collapses
    to a (qid, vec_id) membership-flag aggregate over exact's top-k, so
    no self-join of the same lineage forms. Returns ``qid``, then
    ``n_hits_<v>`` and ``recall_<v> = n_hits_<v> / k`` per variant,
    ordered by qid. The row set is exact's, so a variant with no hits
    still reports its query with ``n_hits_<v> = 0``."""
    from otus_cpp_11_spark.ops.skew import salted_topk

    topk = salted_topk(
        scored, ["qid", "metric"], [order, F.col("vec_id")], k, salt_on="vec_id"
    )
    hits = [(v, F.sum(F.col(f"in_{v}").cast("bigint"))) for v in variants]
    return (
        topk.groupBy("qid", "vec_id")
        .agg(
            *[
                F.max(F.col("metric") == m).alias(f"in_{m}")
                for m in ["exact", *variants]
            ]
        )
        .where("in_exact")
        .groupBy("qid")
        .agg(
            *[n.alias(f"n_hits_{v}") for v, n in hits],
            *[
                (n.cast("double") / F.lit(float(k))).alias(f"recall_{v}")
                for v, n in hits
            ],
        )
        .orderBy("qid")
    )


@register(
    "ann_truncated_dim_recall",
    oracle=f"""
WITH qs AS (
  SELECT vec_id AS qid, embedding AS qv FROM embeddings
  WHERE vec_id < {TRUNC_N_QUERIES}
),
scored AS (
  SELECT q.qid, e.vec_id,
         {_dot_sql("e.embedding", "q.qv")} /
         (SQRT({_dot_sql("e.embedding", "e.embedding")}) * SQRT({_dot_sql("q.qv", "q.qv")})) AS s_full,
         {_dot_sql(f"e.embedding[1:{TRUNC_DIM}]", f"q.qv[1:{TRUNC_DIM}]")} /
         (SQRT({_dot_sql(f"e.embedding[1:{TRUNC_DIM}]", f"e.embedding[1:{TRUNC_DIM}]")}) *
          SQRT({_dot_sql(f"q.qv[1:{TRUNC_DIM}]", f"q.qv[1:{TRUNC_DIM}]")})) AS s_trunc
  FROM embeddings e JOIN qs q ON e.vec_id <> q.qid
),
top_full AS (
  SELECT qid, vec_id FROM (
    SELECT qid, vec_id,
           ROW_NUMBER() OVER (PARTITION BY qid ORDER BY s_full DESC, vec_id) AS rn
    FROM scored) t WHERE rn <= {TRUNC_RECALL_K}
),
top_trunc AS (
  SELECT qid, vec_id FROM (
    SELECT qid, vec_id,
           ROW_NUMBER() OVER (PARTITION BY qid ORDER BY s_trunc DESC, vec_id) AS rn
    FROM scored) t WHERE rn <= {TRUNC_RECALL_K}
)
SELECT f.qid,
       CAST(COUNT(t.vec_id) AS BIGINT) AS n_hits,
       CAST(COUNT(t.vec_id) AS DOUBLE) / {TRUNC_RECALL_K}.0 AS recall_at_k
FROM top_full f LEFT JOIN top_trunc t
  ON f.qid = t.qid AND f.vec_id = t.vec_id
GROUP BY f.qid
ORDER BY f.qid
""",
)
def ann_truncated_dim_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka-style truncated-dimension retrieval EVAL: per query,
    recall@k of the ranking produced by only the LEADING ``TRUNC_DIM``
    dimensions against the full-dimension ranking — the measurement
    that decides whether a cheap low-dim first stage (MRL truncation /
    PCA head) can front a rerank pipeline, and the dense analogue of
    the PQ recall gate (``pq_recall_eval``). Both rankings are exact
    and deterministic (fixed-point dot products, vec_id tie-break), so
    the recall matrix is oracle-hashable — no RNG, no float-order
    sensitivity.

    Plan: the bounded query set broadcasts; ONE corpus pass scores both
    similarities per (query, candidate) pair (the truncated dot is a
    prefix of the full dot's work); per-query top-k goes through the
    skew-safe two-stage ``salted_topk``; the recall join touches only
    2 * k * |queries| rows. At 100 TB: queries stay bounded (eval
    sets), the corpus pass is linear and embarrassingly parallel, and
    the first-stage candidate generation this eval justifies would run
    over the IVF/PQ index rather than brute force. Reference parity:
    extension mandate (LLM-pipeline battery)."""
    e = load_table(spark, sf_dir, "embeddings")
    tr = lambda c: F.slice(c, 1, TRUNC_DIM)  # noqa: E731
    # r14 (guide §2.3, the item-14 shape): four of the six decimal folds
    # per (query, candidate) pair were per-SIDE norms (full + truncated,
    # each side) — the query norms re-ran once per corpus row and the
    # candidate norms once per query. Factored into each side's
    # projection, two folds per pair remain (the full and truncated
    # dots). Operand order via cosine_from_norms matches
    # cosine_sim(embedding, qv) / cosine_sim(tr(embedding), tr(qv))
    # bit-for-bit (oracle unchanged, re-proven).
    qs = e.where(F.col("vec_id") < TRUNC_N_QUERIES).select(
        F.col("vec_id").alias("qid"),
        F.col("embedding").alias("qv"),
        F.sqrt(_dec_dot(F.col("embedding"), F.col("embedding"))).alias("qn"),
        F.sqrt(
            _dec_dot(tr(F.col("embedding")), tr(F.col("embedding")))
        ).alias("qtn"),
    )
    cand = e.select(
        "vec_id",
        "embedding",
        F.sqrt(_dec_dot(F.col("embedding"), F.col("embedding"))).alias("cn"),
        F.sqrt(
            _dec_dot(tr(F.col("embedding")), tr(F.col("embedding")))
        ).alias("ctn"),
    )
    scored = (
        cand.join(F.broadcast(qs), F.col("vec_id") != F.col("qid"))
        .select(
            "qid",
            "vec_id",
            cosine_from_norms(
                _dec_dot(F.col("embedding"), F.col("qv")),
                F.col("cn"),
                F.col("qn"),
            ).alias("s_full"),
            cosine_from_norms(
                _dec_dot(tr(F.col("embedding")), tr(F.col("qv"))),
                F.col("ctn"),
                F.col("qtn"),
            ).alias("s_trunc"),
        )
    )
    both = scored.selectExpr(
        "qid",
        "vec_id",
        "stack(2, 'exact', s_full, 'trunc', s_trunc) AS (metric, s)",
    )
    return _stacked_recall(both, F.desc("s"), TRUNC_RECALL_K, ["trunc"]).select(
        "qid",
        F.col("n_hits_trunc").alias("n_hits"),
        F.col("recall_trunc").alias("recall_at_k"),
    )


# --------------------------------------------------------------------------
# Trained PQ codebook (one exact Lloyd refinement per subvector space) and
# the recall gate proving training helps — r8 verdict item 4.
# --------------------------------------------------------------------------

PQ_RQ_N = 8  # eval queries: vec_id in [PQ_CODEBOOK, PQ_CODEBOOK + PQ_RQ_N)
PQ_RQ_K = 5  # recall@k
_PQ_FULL = PQ_SUBVECTORS * PQ_DSUB
_PQ_MEAN_DIGITS = 7  # fixed-point digits of the centroid mean (kmeans recipe)


def _pq_init_slices(e: DataFrame) -> dict[tuple[int, int], list[float]]:
    """The init codebook reshaped per (subvector, code) slice."""
    cents = _pq_centroids(e)
    return {
        (s, c): cents[c][s * PQ_DSUB : (s + 1) * PQ_DSUB]
        for s in range(PQ_SUBVECTORS)
        for c in range(PQ_CODEBOOK)
    }


def _pq_slice_mat(slices: dict[tuple[int, int], list[float]]):
    """(PQ_SUBVECTORS, PQ_CODEBOOK, PQ_DSUB) float64 codebook matrix."""
    import numpy as np

    return np.array(
        [
            [slices[(s, c)] for c in range(PQ_CODEBOOK)]
            for s in range(PQ_SUBVECTORS)
        ],
        dtype=np.float64,
    )


def _pq_encode_np(emb, cmat):
    """Vectorized encode of an (n, dim) float64 batch against a slice
    codebook matrix -> (n, PQ_SUBVECTORS) int64 codes. Bit-identical to
    the Column-expression encode (the ``pq_encode_arrow`` argument:
    same float64 association order, every floored term < 2^53 so the
    floor is exact, int64 sums, np.argmin's first-minimum IS the code
    tie-break)."""
    import numpy as np

    codes = np.empty((emb.shape[0], PQ_SUBVECTORS), dtype=np.int64)
    for s in range(PQ_SUBVECTORS):
        lo, hi = s * PQ_DSUB, (s + 1) * PQ_DSUB
        d = emb[:, None, lo:hi] - cmat[s][None, :, :]
        terms = np.floor(d * d * float(PQ_SCALE)).astype(np.int64)
        codes[:, s] = np.argmin(terms.sum(axis=2), axis=1)
    return codes


PQ_TRAIN_ITERS = 3  # Lloyd refinements (stops early on exact convergence)
IVF_TRAIN_ITERS = 3


def _pq_init_first_k(e: DataFrame) -> dict[tuple[int, int], list[float]]:
    """Init codebook = the PQ_CODEBOOK smallest vec_ids of the SOURCE
    corpus, re-indexed 0..K-1 and reshaped per (subvector, code) slice —
    identical to ``_pq_init_slices`` on the full corpus (vec_ids are
    contiguous from 0) and well-defined on a filtered build corpus (the
    versioned index trains on the pre-ingest slice, whose first K
    vec_ids are not 0..K-1). Bounded collect: K rows."""
    rows = (
        e.select("vec_id", "embedding").orderBy("vec_id").limit(PQ_CODEBOOK).collect()
    )
    assert len(rows) == PQ_CODEBOOK, f"corpus smaller than K={PQ_CODEBOOK}"
    dim = len(rows[0]["embedding"])
    assert dim == PQ_SUBVECTORS * PQ_DSUB, (
        f"embedding dim {dim} != PQ_SUBVECTORS*PQ_DSUB ({PQ_SUBVECTORS}x{PQ_DSUB})"
    )
    return {
        (s, c): [float(x) for x in rows[c]["embedding"]][
            s * PQ_DSUB : (s + 1) * PQ_DSUB
        ]
        for s in range(PQ_SUBVECTORS)
        for c in range(PQ_CODEBOOK)
    }


def _pq_lloyd_pass(
    e: DataFrame, slices: dict[tuple[int, int], list[float]]
) -> tuple[dict[tuple[int, int], list[float]], int]:
    """ONE exact Lloyd pass of the PQ codebook per subvector space,
    entirely in-engine: assign every subvector to its nearest centroid
    of ``slices`` (the Arrow-vectorized twin of the fixed-point encode),
    then recompute each centroid as the fixed-point mean of its members
    (the ``kmeans_assign_update`` recipe, so DuckDB reproduces every
    trained value bit-for-bit: per-element floor(v * 10^7) partials are
    exact int64, summed losslessly as decimal, divided in the oracle's
    double order). Codes with no members keep their input slice
    (standard k-means empty-cluster handling). Also returns the exact
    integer quantization distortion of the assignment (sum over
    (vector, subvector) of the min fixed-point distance) — the
    objective the iteration provably descends; per-batch partials stay
    under int64, the cross-batch sum is decimal. The collect is
    <= PQ_SUBVECTORS x (PQ_CODEBOOK x PQ_DSUB + 1) rows — a bounded
    model artifact, same class as the init-codebook collect."""
    import numpy as np
    import pandas as pd

    cmat = _pq_slice_mat(slices)
    mean_scale = float(10**_PQ_MEAN_DIGITS)

    def partials(batches):
        # per-batch partial sums: (s, code, i) -> (sum of floor(v*1e7),
        # member count) — exact int64, so the cross-batch combine is a
        # plain decimal SUM and batch boundaries cannot affect the mean.
        # code=-1 sentinel rows carry the batch's distortion partial.
        for pdf in batches:
            emb = np.array(pdf["embedding"].tolist(), dtype=np.float64)
            codes = _pq_encode_np(emb, cmat)
            rows = []
            for s in range(PQ_SUBVECTORS):
                lo, hi = s * PQ_DSUB, (s + 1) * PQ_DSUB
                d = emb[:, lo:hi] - cmat[s][codes[:, s]]
                du = int(
                    np.floor(d * d * float(PQ_SCALE)).astype(np.int64).sum()
                )
                rows.append((s, -1, 0, du, int(emb.shape[0])))
                sub = np.floor(emb[:, lo:hi] * mean_scale).astype(np.int64)
                for c in range(PQ_CODEBOOK):
                    m = codes[:, s] == c
                    n = int(m.sum())
                    if not n:
                        continue
                    ssum = sub[m].sum(axis=0)
                    rows.extend(
                        (s, c, i + 1, int(ssum[i]), n)
                        for i in range(PQ_DSUB)
                    )
            yield pd.DataFrame(
                rows, columns=["s", "code", "i", "ssum", "cnt"]
            )

    upd = (
        spread(e.select("embedding"))
        .mapInPandas(
            partials, "s int, code int, i int, ssum bigint, cnt bigint"
        )
        .groupBy("s", "code", "i")
        .agg(
            F.sum(F.col("ssum").cast("decimal(38,0)")).alias("ssum"),
            F.sum("cnt").alias("cnt"),
        )
        .collect()  # bounded: <= S * (K * dsub + 1) rows
    )
    got: dict[tuple[int, int], dict[int, float]] = {}
    distortion = 0
    for r in upd:
        if int(r["code"]) < 0:
            distortion += int(r["ssum"])
            continue
        # CAST(SUM AS DOUBLE) / 10^7 / COUNT — the oracle's division
        # order; the int sum is < 2^53 so the double cast is exact
        got.setdefault((int(r["s"]), int(r["code"])), {})[int(r["i"])] = (
            float(r["ssum"]) / mean_scale / int(r["cnt"])
        )
    trained = dict(slices)
    for key, by_i in got.items():
        trained[key] = [by_i[i] for i in range(1, PQ_DSUB + 1)]
    return trained, distortion


def _pq_train(
    e: DataFrame, iters: int = PQ_TRAIN_ITERS
) -> tuple[dict[tuple[int, int], list[float]], list[int], int, bool]:
    """Multi-iteration exact Lloyd training (r9 verdict item 4 was "one
    step, fixed"): run ``_pq_lloyd_pass`` to CONVERGENCE or ``iters``,
    whichever first. Convergence = the updated codebook is bit-equal to
    its input — from a fixed point every further pass reproduces the
    same assignment and the same means, so early-stopping is purely a
    compute saving and the final codebook equals the full unroll, which
    is what lets a fixed-depth SQL oracle replay a data-dependent stop.
    Returns (final slices, per-iteration distortion curve, iterations
    run, converged flag); the curve entry for pass t is the distortion
    UNDER the codebook that pass refined (Lloyd guarantees the sequence
    is non-increasing; pytest-gated)."""
    slices = _pq_init_first_k(e)
    curve: list[int] = []
    converged = False
    for _ in range(iters):
        new, du = _pq_lloyd_pass(e, slices)
        curve.append(du)
        converged = new == slices
        slices = new
        if converged:
            break
    return slices, curve, len(curve), converged


_TRAINED_CACHE: dict[str, object] = {}


def _artifact_cache_root() -> str:
    """Per-user root for the persistent ANN index artifacts, safe on
    multi-user hosts (r10 ADVICE: a predictable digest path directly
    under the world-writable system tempdir can be pre-created by
    another local user with a forged ``_SUCCESS`` index, silently
    corrupting served results — key-scoping by username only prevented
    accidental collisions, not squatting). The root is a per-uid dir
    created 0700; ownership and permissions are verified on every call
    so a squatter-created dir is refused loudly instead of trusted. At
    cluster scale the equivalent is a job-owned artifact prefix with FS
    ACLs."""
    import tempfile

    base = os.environ.get("XDG_CACHE_HOME")
    if base:
        root = os.path.join(base, "sg-ann-index")
    else:
        root = os.path.join(
            tempfile.gettempdir(), f"sg-ann-index-{os.getuid()}"
        )
    os.makedirs(root, mode=0o700, exist_ok=True)
    st = os.stat(root)
    if st.st_uid != os.getuid() or (st.st_mode & 0o077):
        raise RuntimeError(
            f"refusing untrusted ANN artifact cache root {root!r}: "
            f"owned by uid {st.st_uid} with mode {oct(st.st_mode & 0o777)} "
            f"(want uid {os.getuid()}, no group/other access)"
        )
    return root


def _src_token(sf_dir: str, tag: str) -> str:
    src = os.path.join(sf_dir, "embeddings.parquet")
    # artifacts live under the 0700 per-uid _artifact_cache_root, so the
    # key only needs to identify the SOURCE + geometry (size+mtime make
    # a testdata refresh rebuild instead of serving stale codes)
    return (
        f"{tag}|{os.path.abspath(src)}|{os.path.getsize(src)}"
        f"|{os.path.getmtime(src)}"
    )


def _pq_trained(
    spark: SparkSession, sf_dir: str, pre_ingest: bool = False
) -> tuple[dict[tuple[int, int], list[float]], list[int], int, bool]:
    """Memoized trained PQ codebook for a dataset (``pre_ingest=True``
    trains on the pre-ingest slice only — the versioned index pins the
    codebook at bulk-build time, before the ingest arrivals existed).
    Training is the expensive linear-pass part of an index build; every
    serving query shares one codebook per corpus, exactly like a real
    index artifact."""
    key = _src_token(
        sf_dir,
        f"pq|{PQ_SUBVECTORS}x{PQ_CODEBOOK}@{PQ_SCALE}"
        f"|it{PQ_TRAIN_ITERS}|pre{pre_ingest}",
    )
    if key not in _TRAINED_CACHE:
        e = load_table(spark, sf_dir, "embeddings")
        if pre_ingest:
            e = e.where(F.col("vec_id") % PQ_INGEST_MOD != PQ_INGEST_MOD - 1)
        _TRAINED_CACHE[key] = _pq_train(e)
    return _TRAINED_CACHE[key]  # type: ignore[return-value]


def _residual_frame(e: DataFrame, cents: list[list[float]]) -> DataFrame:
    """(vec_id, label, cell, embedding=residual) under a pinned coarse
    quantizer: cell = nearest trained centroid (exact fixed-point d2,
    cid tie-break), residual = vector − centroid[cell] as
    array<double> — FAISS IndexIVFPQ's encode-side transform. All
    Column math (centroids ride as plan literals): float→double cast is
    exact and double subtraction is IEEE-deterministic, so DuckDB's
    ``CAST(e.embedding[i] AS DOUBLE) - cv[i]`` reproduces every residual
    bit-for-bit."""
    cmat = F.array(
        *[F.array(*[F.lit(float(v)) for v in c]) for c in cents]
    )
    with_cell = e.select(
        "vec_id", "label", _ivf_cell_expr(cents).alias("cell"), "embedding"
    )
    cent = F.element_at(cmat, (F.col("cell") + 1).cast("int"))
    return with_cell.select(
        "vec_id",
        "label",
        "cell",
        F.zip_with(
            F.col("embedding"), cent, lambda x, c: x.cast("double") - c
        ).alias("embedding"),
    )


def _pq_trained_res(
    spark: SparkSession, sf_dir: str, pre_ingest: bool = True
) -> tuple[dict[tuple[int, int], list[float]], list[int], int, bool]:
    """Memoized residual PQ codebook (r11, the r10 verdict's top item):
    Lloyd-trained on (vector − assigned coarse centroid) instead of the
    raw vectors — FAISS IndexIVFPQ semantics. Residuals concentrate the
    quantizer's dynamic range around the cell centers, which is most of
    IVF-PQ's recall advantage at equal code bytes
    (``pq_recall_residual_vs_raw`` gates it). Defaults to the
    PRE-INGEST slice: this codebook is pinned into the versioned index
    at bulk-build time, alongside the coarse centroids it depends on."""
    key = _src_token(
        sf_dir,
        f"pqres|{PQ_SUBVECTORS}x{PQ_CODEBOOK}@{PQ_SCALE}"
        f"|it{PQ_TRAIN_ITERS}|ivf{IVF_T_K}x{IVF_TRAIN_ITERS}"
        f"|pre{pre_ingest}",
    )
    if key not in _TRAINED_CACHE:
        e = load_table(spark, sf_dir, "embeddings")
        if pre_ingest:
            e = e.where(F.col("vec_id") % PQ_INGEST_MOD != PQ_INGEST_MOD - 1)
        cents, _, _, _ = _ivf_trained(spark, sf_dir, pre_ingest=pre_ingest)
        r = _residual_frame(e, cents).select("vec_id", "embedding")
        _TRAINED_CACHE[key] = _pq_train(r)
    return _TRAINED_CACHE[key]  # type: ignore[return-value]


def _pq_res_dtables(
    cents: list[list[float]],
    slices: dict[tuple[int, int], list[float]],
    q: list[float],
) -> list[list[list[int]]]:
    """Per-cell ADC distance tables of one query against the residual
    codebook: probing cell c compares (query − centroid[c]) to the
    stored residuals, so each probed cell gets its own table —
    K × S × CODEBOOK exact integers, driver-side, the per-list tables a
    real IVF-PQ search precomputes per query."""
    return [
        _pq_dtable_slices(
            slices, [float(q[i]) - c[i] for i in range(len(q))]
        )
        for c in cents
    ]


def _pq_dtable_slices(
    slices: dict[tuple[int, int], list[float]], q: list[float]
) -> list[list[int]]:
    """ADC distance table of one query against a per-slice codebook —
    driver-side exact integers, same fixed-point recipe as the encode."""
    import math

    return [
        [
            sum(
                math.floor(
                    (q[s * PQ_DSUB + i] - slices[(s, c)][i])
                    * (q[s * PQ_DSUB + i] - slices[(s, c)][i])
                    * float(PQ_SCALE)
                )
                for i in range(PQ_DSUB)
            )
            for c in range(PQ_CODEBOOK)
        ]
        for s in range(PQ_SUBVECTORS)
    ]


# ---------------------------------------------------------------------------
# Oracle SQL generators: the DuckDB twin of the multi-iteration trainers.
# Every production PQ/IVF oracle recomputes the TRAINING end to end, so a
# hash match certifies that the served index was built from the codebook the
# training produced — not from any stale or seeded artifact.
# ---------------------------------------------------------------------------


def _pq_dist_vs_cb_sql(src: str, cb: str) -> str:
    """Distance relation of every (vector, subvector) of ``src`` against
    every code of codebook relation ``cb`` (s, code, cv list<double>) —
    the same fixed-point per-element floor the Spark encode uses."""
    return (
        f"SELECT v.vec_id, c.s, c.code,\n"
        f"         LIST_SUM([CAST(FLOOR((CAST(v.embedding[c.s * {PQ_DSUB} + i]"
        f" AS DOUBLE) - c.cv[i])\n"
        f"                              * (CAST(v.embedding[c.s * {PQ_DSUB} + i]"
        f" AS DOUBLE) - c.cv[i])\n"
        f"                              * {PQ_SCALE}.0) AS DECIMAL(38,0))\n"
        f"                   FOR i IN RANGE(1, {PQ_DSUB + 1})]) AS dist\n"
        f"  FROM {src} v CROSS JOIN {cb} c"
    )


def _pq_trained_ctes(
    where: str = "",
    src: str = "embeddings",
    prefix: str = "",
    iters: int | None = None,
    materialized: bool = False,
) -> str:
    """CTE chain (no WITH) replaying ``_pq_train`` in DuckDB: cb0 is the
    first-K init, each iteration t produces the distance relation pd{t},
    assignment pa{t}, exact distortion pdist{t}, fixed-point means, the
    next codebook cb{t+1}, and a convergence flag pconv{t+1}; the chain
    ends with the final-codebook relations pd{N}/pa{N} (the production
    encode), ``trained`` = cb{N}, and ``pqit`` = the iteration count the
    engine's early-stopping loop performed (safe to replay at fixed
    depth because a converged codebook is a fixed point of the pass).

    ``src`` names the training relation (r11: the residual IVF-PQ
    oracles train over a residual-vector CTE instead of ``embeddings``);
    ``prefix`` renames every CTE so two independent PQ trainings (raw +
    residual) can coexist in ONE oracle; ``iters`` overrides the replay
    depth (fixed-point-safe like the IVF twin). Defaults render
    byte-identical to the historical text, so pinned oracles are
    untouched."""
    n = PQ_TRAIN_ITERS if iters is None else iters
    ms = 10**_PQ_MEAN_DIGITS
    p = prefix
    mz = " MATERIALIZED" if materialized else ""
    parts = [
        f"{p}pqsrc AS{mz} (SELECT vec_id, embedding FROM {src} {where})",
        f"{p}sv AS{mz} (SELECT UNNEST(RANGE(0, {PQ_SUBVECTORS})) AS s)",
        f"""{p}cb0 AS{mz} (
  SELECT sv.s AS s, z.code AS code,
         [CAST(z.embedding[sv.s * {PQ_DSUB} + i] AS DOUBLE)
          FOR i IN RANGE(1, {PQ_DSUB + 1})] AS cv
  FROM (SELECT embedding,
               ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS code
        FROM {p}pqsrc QUALIFY code < {PQ_CODEBOOK}) z
  CROSS JOIN {p}sv sv)""" if p else f"""cb0 AS (
  SELECT sv.s AS s, z.code AS code,
         [CAST(z.embedding[sv.s * {PQ_DSUB} + i] AS DOUBLE)
          FOR i IN RANGE(1, {PQ_DSUB + 1})] AS cv
  FROM (SELECT embedding,
               ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS code
        FROM pqsrc QUALIFY code < {PQ_CODEBOOK}) z
  CROSS JOIN sv)""",
    ]
    for t in range(n):
        parts += [
            f"{p}pd{t} AS{mz} ({_pq_dist_vs_cb_sql(f'{p}pqsrc', f'{p}cb{t}')})",
            f"""{p}pa{t} AS{mz} (
  SELECT vec_id, s, code FROM (
    SELECT vec_id, s, code,
           ROW_NUMBER() OVER (PARTITION BY vec_id, s ORDER BY dist, code) AS rk
    FROM {p}pd{t}) z WHERE rk = 1)""",
            f"""{p}pdist{t} AS{mz} (
  SELECT CAST(SUM(m) AS BIGINT) AS du FROM (
    SELECT MIN(dist) AS m FROM {p}pd{t} GROUP BY vec_id, s) z)""",
            f"""{p}pmemb{t} AS{mz} (
  SELECT s, code, u.i AS i, u.v AS v FROM (
    SELECT a.s AS s, a.code AS code,
           UNNEST([{{'i': i, 'v': v.embedding[a.s * {PQ_DSUB} + i]}}
                   FOR i IN RANGE(1, {PQ_DSUB + 1})]) AS u
    FROM {p}pa{t} a JOIN {p}pqsrc v ON a.vec_id = v.vec_id) z)""",
            f"""{p}pupd{t} AS{mz} (
  SELECT s, code, i,
         CAST(SUM(CAST(FLOOR(CAST(v AS DOUBLE) * {ms}.0)
                       AS DECIMAL(38,0))) AS DOUBLE)
           / {ms}.0 / COUNT(*) AS cv
  FROM {p}pmemb{t} GROUP BY s, code, i)""",
            f"{p}pupdl{t} AS{mz} (SELECT s, code, LIST(cv ORDER BY i) AS cv"
            f" FROM {p}pupd{t} GROUP BY s, code)",
            f"""{p}cb{t + 1} AS{mz} (
  SELECT c.s AS s, c.code AS code, COALESCE(u.cv, c.cv) AS cv
  FROM {p}cb{t} c LEFT JOIN {p}pupdl{t} u ON u.s = c.s AND u.code = c.code)""",
            f"""{p}pconv{t + 1} AS{mz} (
  SELECT NOT EXISTS (
    SELECT 1 FROM {p}cb{t + 1} a JOIN {p}cb{t} b ON a.s = b.s AND a.code = b.code
    WHERE a.cv <> b.cv) AS cvg)""",
        ]
    whens = " ".join(
        f"WHEN (SELECT cvg FROM {p}pconv{t}) THEN {t}" for t in range(1, n)
    )
    parts += [
        f"{p}pd{n} AS{mz} ({_pq_dist_vs_cb_sql(f'{p}pqsrc', f'{p}cb{n}')})",
        f"""{p}pa{n} AS{mz} (
  SELECT vec_id, s, code FROM (
    SELECT vec_id, s, code,
           ROW_NUMBER() OVER (PARTITION BY vec_id, s ORDER BY dist, code) AS rk
    FROM {p}pd{n}) z WHERE rk = 1)""",
        f"{p}trained AS{mz} (SELECT s, code, cv FROM {p}cb{n})",
        f"{p}pqit AS"
        f" (SELECT CAST(CASE {whens} ELSE {n} END AS BIGINT) AS n_iters)",
    ]
    return ",\n".join(parts)


def _ivf_d2_sql(vec: str, cv: str) -> str:
    return (
        f"({_dot_sql(vec, vec)} -\n          2.0 * {_dot_sql(vec, cv)} +\n"
        f"          {_dot_sql(cv, cv)})"
    )


def _ivf_trained_ctes(
    src: str = "embeddings",
    prefix: str = "",
    iters: int | None = None,
    materialized: bool = False,
    seed_from: str | None = None,
) -> str:
    """The IVF twin of ``_pq_trained_ctes``: full-dimension coarse
    centroids, seeded by the K smallest vec_ids, refined by the same
    exact Lloyd pass; ends with id{N}/ia{N} (final cell
    distances/assignment), ``itrained`` = icb{N}, and ``ivit`` = the
    engine's iteration count. Distortion per iteration is the
    fixed-point decimal sum of each vector's min d2 (the ``dsum``
    recipe at 9 digits). ``src`` names the training relation (r11: the
    versioned residual index pins centroids trained on the PRE-INGEST
    slice, whose first K vec_ids are not 0..K-1, so the seed CTE
    re-indexes by ROW_NUMBER — on the default full corpus the
    historical ``vec_id < K`` text is kept byte-identical for the
    pinned oracles, and the two forms agree there because vec_ids are
    contiguous from 0, mirroring ``_ivf_train``'s order-by/limit
    seeding). ``prefix`` renames every CTE so two independent IVF
    trainings (r13: the blue/green cutover oracle trains the serving
    lineage AND the full-corpus retrain candidate) coexist in ONE
    oracle; ``iters`` overrides the replay depth (the green retrain
    refines deeper — safe at any fixed depth >= the engine's stop
    because a converged codebook is a fixed point of the pass). The
    defaults render byte-identical to the historical text, so pinned
    oracles are untouched."""
    n = IVF_TRAIN_ITERS if iters is None else iters
    p = prefix
    mz = " MATERIALIZED" if materialized else ""
    if seed_from is not None:
        # caller-supplied seed relation (cid, cv) — r13: the green
        # retrain's farthest-point seeds, derived by their own CTEs
        seed = f"{p}icb0 AS{mz} (SELECT cid, cv FROM {seed_from})"
    elif src == "embeddings":
        seed = f"""{p}icb0 AS{mz} (
  SELECT vec_id AS cid, [CAST(x AS DOUBLE) FOR x IN embedding] AS cv
  FROM embeddings WHERE vec_id < {IVF_T_K})"""
    else:
        seed = f"""{p}icb0 AS{mz} (
  SELECT cid, [CAST(x AS DOUBLE) FOR x IN embedding] AS cv FROM (
    SELECT embedding, ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS cid
    FROM {src} QUALIFY cid < {IVF_T_K}) z)"""
    parts = [seed]
    argmin = (
        """  SELECT vec_id, cid FROM (
    SELECT vec_id, cid,
           ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rk
    FROM """
        + p
        + """id{t}) z WHERE rk = 1"""
    )
    for t in range(n):
        parts += [
            f"""{p}id{t} AS{mz} (
  SELECT e.vec_id, c.cid, {_ivf_d2_sql("e.embedding", "c.cv")} AS d2
  FROM {src} e CROSS JOIN {p}icb{t} c)""",
            f"{p}ia{t} AS{mz} (\n{argmin.format(t=t)})",
            f"""{p}idist{t} AS{mz} (
  SELECT {dsum_sql("m", 9)} AS du FROM (
    SELECT MIN(d2) AS m FROM {p}id{t} GROUP BY vec_id) z)""",
            f"""{p}imemb{t} AS{mz} (
  SELECT cid, u.i AS i, u.v AS v FROM (
    SELECT a.cid AS cid,
           UNNEST([{{'i': i, 'v': e.embedding[i]}}
                   FOR i IN RANGE(1, LEN(e.embedding) + 1)]) AS u
    FROM {p}ia{t} a JOIN {src} e ON a.vec_id = e.vec_id) z)""",
            f"""{p}iupd{t} AS{mz} (
  SELECT cid, i,
         CAST(SUM(CAST(FLOOR(CAST(v AS DOUBLE) * 10000000.0)
                       AS DECIMAL(38,0))) AS DOUBLE)
           / 10000000.0 / COUNT(*) AS cv
  FROM {p}imemb{t} GROUP BY cid, i)""",
            f"{p}iupdl{t} AS{mz} (SELECT cid, LIST(cv ORDER BY i) AS cv"
            f" FROM {p}iupd{t} GROUP BY cid)",
            f"""{p}icb{t + 1} AS{mz} (
  SELECT c.cid AS cid, COALESCE(u.cv, c.cv) AS cv
  FROM {p}icb{t} c LEFT JOIN {p}iupdl{t} u ON u.cid = c.cid)""",
            f"""{p}iconv{t + 1} AS{mz} (
  SELECT NOT EXISTS (
    SELECT 1 FROM {p}icb{t + 1} a JOIN {p}icb{t} b ON a.cid = b.cid
    WHERE a.cv <> b.cv) AS cvg)""",
        ]
    whens = " ".join(
        f"WHEN (SELECT cvg FROM {p}iconv{t}) THEN {t}" for t in range(1, n)
    )
    parts += [
        f"""{p}id{n} AS{mz} (
  SELECT e.vec_id, c.cid, {_ivf_d2_sql("e.embedding", "c.cv")} AS d2
  FROM {src} e CROSS JOIN {p}icb{n} c)""",
        f"{p}ia{n} AS{mz} (\n{argmin.format(t=n)})",
        f"{p}itrained AS{mz} (SELECT cid, cv FROM {p}icb{n})",
        f"{p}ivit AS (SELECT CAST(CASE {whens} ELSE {n} END AS BIGINT)"
        f" AS n_iters)",
    ]
    return ",\n".join(parts)


# the versioned index trains on the PRE-INGEST corpus (build-time data)
_PQ_PRE_WHERE = f"WHERE vec_id % {PQ_INGEST_MOD} <> {PQ_INGEST_MOD - 1}"


def _ivf_assign_ctes(esrc: str, cb: str) -> str:
    """Serving-time cell assignment: every vector of ``esrc`` against
    the PINNED centroid relation ``cb`` (exact d2, cid tie-break) —
    relations ``gd`` (distances) and ``ga`` (assignment). Distinct from
    the training chain's ia{N}: this reassigns arbitrary rows, e.g.
    ingest arrivals the training never saw."""
    return ",\n".join(
        [
            f"""gd AS MATERIALIZED (
  SELECT e.vec_id, c.cid, {_ivf_d2_sql("e.embedding", "c.cv")} AS d2
  FROM {esrc} e CROSS JOIN {cb} c)""",
            """ga AS MATERIALIZED (
  SELECT vec_id, cid FROM (
    SELECT vec_id, cid,
           ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rk
    FROM gd) z WHERE rk = 1)""",
        ]
    )


def _residual_src_sql(esrc: str, assign: str, cb: str) -> str:
    """Residual vectors of ``esrc`` under assignment ``assign`` and
    centroid relation ``cb`` — the DuckDB twin of ``_residual_frame``
    (double − double, IEEE-identical in both engines)."""
    return (
        f"SELECT e.vec_id, a.cid AS cell,\n"
        f"       [CAST(e.embedding[i] AS DOUBLE) - c.cv[i]\n"
        f"        FOR i IN RANGE(1, {_PQ_FULL + 1})] AS embedding\n"
        f"  FROM {esrc} e JOIN {assign} a ON a.vec_id = e.vec_id\n"
        f"  JOIN {cb} c ON c.cid = a.cid"
    )


def _ivfpq_index_ctes() -> str:
    """Oracle bundle recomputing the served residual index END TO END:
    pre-ingest IVF training (isrc → itrained), residuals of the build
    slice, residual PQ training over them (prefix 'r' → rtrained),
    serving-time assignment of the WHOLE corpus under the pinned
    centroids (ga), whole-corpus residuals (rall), and the full encode
    under the pinned residual codebook (rcodes). A hash match on any
    consumer therefore certifies the index the engine serves equals
    what from-scratch residual training would build."""
    n = IVF_TRAIN_ITERS
    return ",\n".join(
        [
            f"isrc AS MATERIALIZED (SELECT vec_id, embedding FROM embeddings"
            f" {_PQ_PRE_WHERE})",
            _ivf_trained_ctes(src="isrc"),
            f"rsrcpre AS MATERIALIZED"
            f" ({_residual_src_sql('isrc', f'ia{n}', 'itrained')})",
            _pq_trained_ctes(src="rsrcpre", prefix="r"),
            _ivf_assign_ctes("embeddings", "itrained"),
            f"rall AS MATERIALIZED"
            f" ({_residual_src_sql('embeddings', 'ga', 'itrained')})",
            f"rpdfull AS MATERIALIZED ({_pq_dist_vs_cb_sql('rall', 'rtrained')})",
            """rpafull AS MATERIALIZED (
  SELECT vec_id, s, code FROM (
    SELECT vec_id, s, code,
           ROW_NUMBER() OVER (PARTITION BY vec_id, s ORDER BY dist, code) AS rk
    FROM rpdfull) z WHERE rk = 1)""",
            f"rcodes AS MATERIALIZED (SELECT vec_id, {_PQ_CODE_COLS} FROM rpafull"
            f" GROUP BY vec_id)",
        ]
    )


def _ivfpq_query_ctes(qid: int) -> str:
    """Per-cell ADC distance tables of one query against the residual
    codebook (``qd``): probing cell c compares (query − centroid[c]) to
    stored residuals — the DuckDB twin of ``_pq_res_dtables``."""
    return ",\n".join(
        [
            f"""qres AS MATERIALIZED (
  SELECT c.cid AS cell,
         [CAST(q.embedding[i] AS DOUBLE) - c.cv[i]
          FOR i IN RANGE(1, {_PQ_FULL + 1})] AS qv
  FROM embeddings q CROSS JOIN itrained c WHERE q.vec_id = {qid})""",
            f"""qd AS MATERIALIZED (
  SELECT r.cell, t.s, t.code,
         LIST_SUM([CAST(FLOOR((r.qv[t.s * {PQ_DSUB} + i] - t.cv[i])
                              * (r.qv[t.s * {PQ_DSUB} + i] - t.cv[i])
                              * {PQ_SCALE}.0) AS DECIMAL(38,0))
                   FOR i IN RANGE(1, {PQ_DSUB + 1})]) AS dist
  FROM qres r CROSS JOIN rtrained t)""",
        ]
    )


# residual ADC of every corpus vector against the qd tables, keyed on
# the vector's OWN cell (the stored index's lookup shape)
_IVFPQ_ADC_CTE = f"""adc AS (
  SELECT a.vec_id, g.cid AS cell, CAST(SUM(d.dist) AS BIGINT) AS adc_units
  FROM rpafull a
  JOIN ga g ON g.vec_id = a.vec_id
  JOIN qd d ON d.cell = g.cid AND d.s = a.s AND d.code = a.code
  WHERE a.vec_id <> {QUERY_VEC_ID}
  GROUP BY a.vec_id, g.cid)"""


def _curve_select_sql(
    dist_cte: str, conv_cte: str, n: int, du_expr: str, du_alias: str
) -> str:
    """Per-iteration distortion rows with the engine's early stop
    replayed in SQL: row t exists iff no iteration before t converged —
    so the oracle's ROW COUNT equals the iterations the engine's loop
    actually ran, and each row carries that iteration's convergence
    flag."""
    selects = []
    for t in range(1, n + 1):
        conds = " AND ".join(
            f"NOT (SELECT cvg FROM {conv_cte}{j})" for j in range(1, t)
        )
        where = f"\nWHERE {conds}" if conds else ""
        selects.append(
            f"SELECT CAST({t} AS BIGINT) AS iter,\n"
            f"       (SELECT {du_expr} FROM {dist_cte}{t - 1}) AS {du_alias},\n"
            f"       (SELECT cvg FROM {conv_cte}{t}) AS converged{where}"
        )
    return "\nUNION ALL\n".join(selects) + "\nORDER BY iter"


def _pq_eval_queries(src: DataFrame):
    """The PQ recall gates' eval queries — vec_id in [PQ_CODEBOOK,
    PQ_CODEBOOK + PQ_RQ_N) of ``src`` — as (ids int64, vectors float64)
    numpy arrays: one bounded driver collect."""
    import numpy as np

    rows = (
        src.where(
            (F.col("vec_id") >= PQ_CODEBOOK)
            & (F.col("vec_id") < PQ_CODEBOOK + PQ_RQ_N)
        )
        .select("vec_id", "embedding")
        .collect()
    )
    qids = np.array([int(r["vec_id"]) for r in rows], dtype=np.int64)
    qmat = np.array(
        [[float(x) for x in r["embedding"]] for r in rows], dtype=np.float64
    )
    return qids, qmat


_PQ_IDENTITY = list(range(_PQ_FULL))


def _pq_adc_scored(src: DataFrame, qids, qmat, arms: list) -> DataFrame:
    """``(vec_id, qid, metric, d)`` of every ``src`` vector against every
    eval query in ONE Arrow-vectorized pass: metric ``exact`` is the
    fixed-point squared L2 (per-element floor BEFORE the sum — the
    decimal recipe; terms < 2^53 so the float64 floor is exact, totals in
    int64), and each ``(name, codebook, posmap)`` arm adds the ADC
    distance of the vector's code under ``codebook`` after the dimension
    permutation ``posmap`` (``_PQ_IDENTITY`` for the raw split) — the
    exact integer tables are built on the driver per query, so ADC is
    NQ lookups per subvector. Self-pairs are dropped."""
    import numpy as np
    import pandas as pd

    tables = [
        (
            name,
            _pq_slice_mat(cb),
            np.array(pm, dtype=np.int64),
            np.array(
                [_pq_dtable_slices(cb, list(q[pm])) for q in qmat],
                dtype=np.int64,
            ),  # (NQ, S, K) ADC tables, exact ints
        )
        for name, cb, pm in arms
    ]

    def score(batches):
        for pdf in batches:
            emb = np.array(pdf["embedding"].tolist(), dtype=np.float64)
            vid = pdf["vec_id"].to_numpy()
            diffs = emb[:, None, :] - qmat[None, :, :]  # n x NQ x dim
            ds = [
                (
                    "exact",
                    np.floor(diffs * diffs * float(PQ_SCALE))
                    .astype(np.int64)
                    .sum(axis=2),
                )
            ]
            for name, cmat, pm, tab in tables:
                codes = _pq_encode_np(emb[:, pm], cmat)
                adc = np.zeros((len(vid), len(qids)), dtype=np.int64)
                for s in range(PQ_SUBVECTORS):
                    adc += tab[:, s, :][:, codes[:, s]].T
                ds.append((name, adc))
            yield pd.concat(
                [
                    pd.DataFrame(
                        {
                            "vec_id": np.repeat(vid, len(qids)),
                            "qid": np.tile(qids, len(vid)),
                            "metric": metric,
                            "d": d.reshape(-1),
                        }
                    )
                    for metric, d in ds
                ],
                ignore_index=True,
            )

    return (
        spread(src.select("vec_id", "embedding"))
        .mapInPandas(score, "vec_id bigint, qid bigint, metric string, d bigint")
        .where(F.col("vec_id") != F.col("qid"))
    )


@register(
    "pq_recall_trained_vs_init",
    bench=True,
    oracle=f"""
WITH {_pq_trained_ctes()},
qs AS (
  SELECT vec_id AS qid, embedding AS qv FROM embeddings
  WHERE vec_id >= {PQ_CODEBOOK} AND vec_id < {PQ_CODEBOOK + PQ_RQ_N}
),
adc_init AS (
  SELECT d.vec_id AS qid, a.vec_id, CAST(SUM(d.dist) AS DECIMAL(38,0)) AS d
  FROM pa0 a
  JOIN (SELECT * FROM pd0
        WHERE vec_id >= {PQ_CODEBOOK}
          AND vec_id < {PQ_CODEBOOK + PQ_RQ_N}) d
    ON d.s = a.s AND d.code = a.code
  WHERE a.vec_id <> d.vec_id
  GROUP BY d.vec_id, a.vec_id
),
adc_tr AS (
  SELECT d.vec_id AS qid, a.vec_id, CAST(SUM(d.dist) AS DECIMAL(38,0)) AS d
  FROM pa{PQ_TRAIN_ITERS} a
  JOIN (SELECT * FROM pd{PQ_TRAIN_ITERS}
        WHERE vec_id >= {PQ_CODEBOOK}
          AND vec_id < {PQ_CODEBOOK + PQ_RQ_N}) d
    ON d.s = a.s AND d.code = a.code
  WHERE a.vec_id <> d.vec_id
  GROUP BY d.vec_id, a.vec_id
),
exact AS (
  SELECT q.qid, v.vec_id,
         LIST_SUM([CAST(FLOOR((CAST(v.embedding[i] AS DOUBLE)
                               - CAST(q.qv[i] AS DOUBLE))
                              * (CAST(v.embedding[i] AS DOUBLE)
                                 - CAST(q.qv[i] AS DOUBLE))
                              * {PQ_SCALE}.0) AS DECIMAL(38,0))
                   FOR i IN RANGE(1, {_PQ_FULL + 1})]) AS d
  FROM embeddings v JOIN qs q ON v.vec_id <> q.qid
),
t_ex AS (
  SELECT qid, vec_id FROM (
    SELECT qid, vec_id, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY d, vec_id) AS rk
    FROM exact) t WHERE rk <= {PQ_RQ_K}
),
t_in AS (
  SELECT qid, vec_id FROM (
    SELECT qid, vec_id, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY d, vec_id) AS rk
    FROM adc_init) t WHERE rk <= {PQ_RQ_K}
),
t_tr AS (
  SELECT qid, vec_id FROM (
    SELECT qid, vec_id, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY d, vec_id) AS rk
    FROM adc_tr) t WHERE rk <= {PQ_RQ_K}
)
SELECT e.qid,
       CAST(COUNT(i.vec_id) AS BIGINT) AS n_hits_init,
       CAST(COUNT(t.vec_id) AS BIGINT) AS n_hits_trained,
       CAST(COUNT(i.vec_id) AS DOUBLE) / {PQ_RQ_K}.0 AS recall_init,
       CAST(COUNT(t.vec_id) AS DOUBLE) / {PQ_RQ_K}.0 AS recall_trained,
       (SELECT n_iters FROM pqit) AS n_iters
FROM t_ex e
LEFT JOIN t_in i ON i.qid = e.qid AND i.vec_id = e.vec_id
LEFT JOIN t_tr t ON t.qid = e.qid AND t.vec_id = e.vec_id
GROUP BY e.qid
ORDER BY e.qid
""",
)
def pq_recall_trained_vs_init(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ codebook TRAINING with a recall gate (r8 verdict #4): the
    codebook is trained to convergence-or-max_iters (``_pq_train``:
    PQ_TRAIN_ITERS exact Lloyd refinements with an exact-fixed-point
    convergence short-circuit; ``n_iters`` in the output is the count
    the engine actually ran, and the oracle replays the early stop from
    convergence flags). Per eval query: recall@k of ADC under the INIT
    codebook (the counterfactual) vs the TRAINED codebook, against
    exact squared-L2 ground truth — the quantifier-quality ablation
    isolated at identical RAW geometry. (r11: the SERVED index moved to
    residual codes — ``_pq_versioned_index`` — so serving-side recall
    is now gated by ``pq_recall_residual_vs_raw``, which reads that
    artifact; this eval keeps both of its sides inline, the honest
    apples-to-apples raw-vs-raw comparison.) Every stage is fixed-point
    exact (argmin assignment, decimal-mean update, integer ADC tables,
    vec_id tie-breaks) — the whole eval is oracle-hashable, no RNG
    anywhere.

    Plan: ONE Arrow-vectorized corpus pass scores exact + init +
    trained distances per (query, candidate) — r11 folded the trained
    side into the same pass, dropping a whole scan; per-(query, metric)
    top-k via the skew-safe ``salted_topk``; the recall join touches
    3 * k * |queries| rows. At 100 TB: training cost is <=
    PQ_TRAIN_ITERS linear assignment passes plus a K x dim aggregate
    each (the IVF/k-means shape), eval queries stay bounded. Reference
    parity: extension mandate (LLM-pipeline battery)."""
    e = load_table(spark, sf_dir, "embeddings")
    init = _pq_init_slices(e)
    trained, _curve, n_iters, _cvg = _pq_trained(spark, sf_dir)
    qids, qmat = _pq_eval_queries(e)
    scored = _pq_adc_scored(
        e,
        qids,
        qmat,
        [("init", init, _PQ_IDENTITY), ("trained", trained, _PQ_IDENTITY)],
    )
    return _stacked_recall(
        scored, F.asc("d"), PQ_RQ_K, ["init", "trained"]
    ).withColumn("n_iters", F.lit(int(n_iters)).cast("bigint"))


@register(
    "pq_recall_residual_vs_raw",
    oracle=f"""
WITH {_ivfpq_index_ctes()},
{_pq_trained_ctes(where=_PQ_PRE_WHERE)},
qs AS (
  SELECT vec_id AS qid, embedding AS qv FROM embeddings
  WHERE vec_id >= {PQ_CODEBOOK} AND vec_id < {PQ_CODEBOOK + PQ_RQ_N}
),
xpd AS MATERIALIZED ({_pq_dist_vs_cb_sql("embeddings", "trained")}),
xpa AS MATERIALIZED (
  SELECT vec_id, s, code FROM (
    SELECT vec_id, s, code,
           ROW_NUMBER() OVER (PARTITION BY vec_id, s ORDER BY dist, code) AS rk
    FROM xpd) z WHERE rk = 1
),
adc_raw AS (
  SELECT d.vec_id AS qid, a.vec_id, CAST(SUM(d.dist) AS DECIMAL(38,0)) AS d
  FROM xpa a
  JOIN (SELECT * FROM xpd
        WHERE vec_id >= {PQ_CODEBOOK}
          AND vec_id < {PQ_CODEBOOK + PQ_RQ_N}) d
    ON d.s = a.s AND d.code = a.code
  WHERE a.vec_id <> d.vec_id
  GROUP BY d.vec_id, a.vec_id
),
qres8 AS MATERIALIZED (
  SELECT q.vec_id AS qid, c.cid AS cell,
         [CAST(q.embedding[i] AS DOUBLE) - c.cv[i]
          FOR i IN RANGE(1, {_PQ_FULL + 1})] AS qv
  FROM embeddings q CROSS JOIN itrained c
  WHERE q.vec_id >= {PQ_CODEBOOK} AND q.vec_id < {PQ_CODEBOOK + PQ_RQ_N}
),
qd8 AS MATERIALIZED (
  SELECT r.qid, r.cell, t.s, t.code,
         LIST_SUM([CAST(FLOOR((r.qv[t.s * {PQ_DSUB} + i] - t.cv[i])
                              * (r.qv[t.s * {PQ_DSUB} + i] - t.cv[i])
                              * {PQ_SCALE}.0) AS DECIMAL(38,0))
                   FOR i IN RANGE(1, {PQ_DSUB + 1})]) AS dist
  FROM qres8 r CROSS JOIN rtrained t
),
adc_res AS (
  SELECT d.qid, a.vec_id, CAST(SUM(d.dist) AS DECIMAL(38,0)) AS d
  FROM rpafull a
  JOIN ga g ON g.vec_id = a.vec_id
  JOIN qd8 d ON d.cell = g.cid AND d.s = a.s AND d.code = a.code
  WHERE a.vec_id <> d.qid
  GROUP BY d.qid, a.vec_id
),
exact AS (
  SELECT q.qid, v.vec_id,
         LIST_SUM([CAST(FLOOR((CAST(v.embedding[i] AS DOUBLE)
                               - CAST(q.qv[i] AS DOUBLE))
                              * (CAST(v.embedding[i] AS DOUBLE)
                                 - CAST(q.qv[i] AS DOUBLE))
                              * {PQ_SCALE}.0) AS DECIMAL(38,0))
                   FOR i IN RANGE(1, {_PQ_FULL + 1})]) AS d
  FROM embeddings v JOIN qs q ON v.vec_id <> q.qid
),
t_ex AS (
  SELECT qid, vec_id FROM (
    SELECT qid, vec_id, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY d, vec_id) AS rk
    FROM exact) t WHERE rk <= {PQ_RQ_K}
),
t_raw AS (
  SELECT qid, vec_id FROM (
    SELECT qid, vec_id, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY d, vec_id) AS rk
    FROM adc_raw) t WHERE rk <= {PQ_RQ_K}
),
t_res AS (
  SELECT qid, vec_id FROM (
    SELECT qid, vec_id, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY d, vec_id) AS rk
    FROM adc_res) t WHERE rk <= {PQ_RQ_K}
)
SELECT e.qid,
       CAST(COUNT(r.vec_id) AS BIGINT) AS n_hits_raw,
       CAST(COUNT(s.vec_id) AS BIGINT) AS n_hits_residual,
       CAST(COUNT(r.vec_id) AS DOUBLE) / {PQ_RQ_K}.0 AS recall_raw,
       CAST(COUNT(s.vec_id) AS DOUBLE) / {PQ_RQ_K}.0 AS recall_residual
FROM t_ex e
LEFT JOIN t_raw r ON r.qid = e.qid AND r.vec_id = e.vec_id
LEFT JOIN t_res s ON s.qid = e.qid AND s.vec_id = e.vec_id
GROUP BY e.qid
ORDER BY e.qid
""",
)
def pq_recall_residual_vs_raw(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The residual-encoding ablation the r10 verdict's top item asked
    for: recall@k of IVF-PQ ADC over the SERVED versioned residual
    index vs raw-vector PQ ADC at IDENTICAL geometry (same subvector
    split, same codebook size, same training corpus — the pre-ingest
    slice both pinned artifacts train on), both against exact
    squared-L2 ground truth. Encoding residuals (vector − assigned
    coarse centroid) concentrates the quantizer's dynamic range around
    the cell centers — FAISS IndexIVFPQ's core trick — and this query
    quantifies the gain per eval query; the residual side is scored at
    FULL probe so the comparison isolates quantizer quality, not probe
    loss. The residual side reads the one served artifact
    (``_pq_versioned_index``); the raw side re-encodes inline in the
    same Arrow pass that scores exact ground truth (one corpus pass
    total); ranking joins touch k·|queries| rows. The oracle recomputes
    both trainings, both encodes, and both rankings from scratch."""
    e = load_table(spark, sf_dir, "embeddings")
    raw, _, _, _ = _pq_trained(spark, sf_dir, pre_ingest=True)
    cents, _, _, _ = _ivf_trained(spark, sf_dir, pre_ingest=True)
    res, _, _, _ = _pq_trained_res(spark, sf_dir, pre_ingest=True)
    qids, qmat = _pq_eval_queries(e)
    # the raw side has no stored index — it is the counterfactual, encoded
    # inline in the exact ground-truth pass
    scored_er = _pq_adc_scored(e, qids, qmat, [("raw", raw, _PQ_IDENTITY)])
    # residual side: per-cell table lookups over the SERVED index — the
    # artifact pq_adc_top10 / ivf_pq_top5 scan
    entries = [
        F.struct(
            F.lit(int(qid)).cast("bigint").alias("qid"),
            _adc_expr_cells(
                _pq_res_dtables(cents, res, [float(v) for v in qmat[j]])
            ).alias("d"),
        )
        for j, qid in enumerate(qids)
    ]
    scored_res = (
        _pq_index_df(spark, sf_dir)
        .select("vec_id", F.explode(F.array(*entries)).alias("x"))
        .select(
            "vec_id",
            F.col("x.qid").alias("qid"),
            F.lit("residual").alias("metric"),
            F.col("x.d").alias("d"),
        )
        .where(F.col("vec_id") != F.col("qid"))
    )
    return _stacked_recall(
        scored_er.unionByName(scored_res), F.asc("d"), PQ_RQ_K, ["raw", "residual"]
    )


IVF_PQ_NPROBES = (1, 2, 4, 8)  # the curve's probe widths (8 = full probe)


@register(
    "ivf_pq_nprobe_recall_curve",
    oracle=f"""
WITH {_ivfpq_index_ctes()},
qs AS (
  SELECT vec_id AS qid, embedding AS qv FROM embeddings
  WHERE vec_id >= {PQ_CODEBOOK} AND vec_id < {PQ_CODEBOOK + PQ_RQ_N}
),
qres8 AS MATERIALIZED (
  SELECT q.vec_id AS qid, c.cid AS cell,
         [CAST(q.embedding[i] AS DOUBLE) - c.cv[i]
          FOR i IN RANGE(1, {_PQ_FULL + 1})] AS qv
  FROM embeddings q CROSS JOIN itrained c
  WHERE q.vec_id >= {PQ_CODEBOOK} AND q.vec_id < {PQ_CODEBOOK + PQ_RQ_N}
),
qd8 AS MATERIALIZED (
  SELECT r.qid, r.cell, t.s, t.code,
         LIST_SUM([CAST(FLOOR((r.qv[t.s * {PQ_DSUB} + i] - t.cv[i])
                              * (r.qv[t.s * {PQ_DSUB} + i] - t.cv[i])
                              * {PQ_SCALE}.0) AS DECIMAL(38,0))
                   FOR i IN RANGE(1, {PQ_DSUB + 1})]) AS dist
  FROM qres8 r CROSS JOIN rtrained t
),
adcr AS MATERIALIZED (
  SELECT d.qid, a.vec_id, g.cid AS cell,
         CAST(SUM(d.dist) AS DECIMAL(38,0)) AS d
  FROM rpafull a
  JOIN ga g ON g.vec_id = a.vec_id
  JOIN qd8 d ON d.cell = g.cid AND d.s = a.s AND d.code = a.code
  WHERE a.vec_id <> d.qid
  GROUP BY d.qid, a.vec_id, g.cid
),
qprob AS (
  SELECT vec_id AS qid, cid,
         ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS crk
  FROM gd
  WHERE vec_id >= {PQ_CODEBOOK} AND vec_id < {PQ_CODEBOOK + PQ_RQ_N}
),
nps AS (SELECT CAST(UNNEST([{", ".join(str(n) for n in IVF_PQ_NPROBES)}])
               AS BIGINT) AS nprobe),
cand AS MATERIALIZED (
  SELECT n.nprobe, a.qid, a.vec_id, a.d
  FROM adcr a
  JOIN qprob p ON p.qid = a.qid AND p.cid = a.cell
  CROSS JOIN nps n
  WHERE p.crk <= n.nprobe
),
t_res AS (
  SELECT nprobe, qid, vec_id FROM (
    SELECT nprobe, qid, vec_id,
           ROW_NUMBER() OVER (PARTITION BY nprobe, qid ORDER BY d, vec_id) AS rk
    FROM cand) z WHERE rk <= {PQ_RQ_K}
),
exact AS (
  SELECT q.qid, v.vec_id,
         LIST_SUM([CAST(FLOOR((CAST(v.embedding[i] AS DOUBLE)
                               - CAST(q.qv[i] AS DOUBLE))
                              * (CAST(v.embedding[i] AS DOUBLE)
                                 - CAST(q.qv[i] AS DOUBLE))
                              * {PQ_SCALE}.0) AS DECIMAL(38,0))
                   FOR i IN RANGE(1, {_PQ_FULL + 1})]) AS d
  FROM embeddings v JOIN qs q ON v.vec_id <> q.qid
),
t_ex AS (
  SELECT qid, vec_id FROM (
    SELECT qid, vec_id, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY d, vec_id) AS rk
    FROM exact) t WHERE rk <= {PQ_RQ_K}
),
hits AS (
  SELECT r.nprobe, CAST(COUNT(*) AS BIGINT) AS n_hits
  FROM t_res r JOIN t_ex e ON e.qid = r.qid AND e.vec_id = r.vec_id
  GROUP BY r.nprobe
),
cands AS (
  SELECT nprobe, CAST(COUNT(*) AS BIGINT) AS n_candidates
  FROM cand GROUP BY nprobe
)
SELECT n.nprobe AS nprobe,
       COALESCE(h.n_hits, 0) AS n_hits,
       CAST(COALESCE(h.n_hits, 0) AS DOUBLE)
         / {PQ_RQ_N * PQ_RQ_K}.0 AS recall,
       COALESCE(c.n_candidates, 0) AS n_candidates
FROM nps n
LEFT JOIN hits h ON h.nprobe = n.nprobe
LEFT JOIN cands c ON c.nprobe = n.nprobe
ORDER BY n.nprobe
""",
)
def ivf_pq_nprobe_recall_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The probe/recall TRADEOFF CURVE of the served residual IVF-PQ
    index — the knob a production ANN deployment actually tunes: for
    each nprobe in {IVF_PQ_NPROBES}, rank only the candidates inside
    the query's nprobe nearest cells by residual ADC over the stored
    index, and measure recall@k against exact ground truth plus the
    CANDIDATE COUNT actually scanned (the cost axis: n_candidates/corpus
    is the fraction of the index a probe touches — at 100 TB the probe
    width divides scan bytes linearly, and this query puts both numbers
    in one oracle-hashed row per width). Note recall under ADC is NOT
    guaranteed monotone in nprobe — a wider probe admits approximate
    distances that can displace true hits from the top-k (observed on
    this data); what IS monotone is the candidate count, and full probe
    must equal the pq_recall_residual_vs_raw residual ranking — both
    pytest-gated. One index scan scores all queries x all widths (the
    per-cell ADC tables ride as plan literals; candidates filter by a
    64-row broadcast cell ranking); exact ground truth is one
    fixed-point relational pass. The oracle recomputes the trainings,
    the encode, the probes, and every ranking."""
    from otus_cpp_11_spark.ops.skew import salted_topk

    e = load_table(spark, sf_dir, "embeddings")
    cents, _, _, _ = _ivf_trained(spark, sf_dir, pre_ingest=True)
    res, _, _, _ = _pq_trained_res(spark, sf_dir, pre_ingest=True)
    qids, qmat = _pq_eval_queries(e)
    qvecs = [[float(x) for x in q] for q in qmat]
    qdf = F.broadcast(
        spark.createDataFrame(
            [(int(qid), qv) for qid, qv in zip(qids, qvecs)],
            "qid bigint, qv array<double>",
        )
    )
    # residual ADC of the whole index against every eval query: one
    # scan, per-(query, cell) tables as plan literals
    entries = [
        F.struct(
            F.lit(int(qid)).cast("bigint").alias("qid"),
            _adc_expr_cells(_pq_res_dtables(cents, res, qv)).alias("d"),
        )
        for qid, qv in zip(qids, qvecs)
    ]
    scored = (
        _pq_index_df(spark, sf_dir)
        .select("vec_id", "cell", F.explode(F.array(*entries)).alias("x"))
        .select("vec_id", "cell", F.col("x.qid").alias("qid"),
                F.col("x.d").alias("d"))
        .where(F.col("vec_id") != F.col("qid"))
    )
    # per-query cell ranking under the pinned centroids (the oracle's
    # gd/ROW_NUMBER shape) — 64 rows, broadcast
    cdf = F.broadcast(
        spark.createDataFrame(
            [(i, c) for i, c in enumerate(cents)],
            "cell bigint, cv array<double>",
        )
    )
    w = Window.partitionBy("qid").orderBy("d2", "cell")
    rankdf = F.broadcast(
        qdf.join(cdf)
        .select("qid", "cell", _d2(F.col("qv"), F.col("cv")).alias("d2"))
        .select("qid", "cell", F.row_number().over(w).alias("crk"))
    )
    ranked = scored.join(rankdf, ["qid", "cell"])
    # ONE pass materializes every width: each candidate row fans out to
    # the widths that admit it (explode of a bounded literal array) —
    # no per-width branch re-scanning the index relation
    cand = ranked.select(
        "*",
        F.explode(
            F.array(
                *[F.lit(int(n)).cast("bigint") for n in IVF_PQ_NPROBES]
            )
        ).alias("nprobe"),
    ).where(F.col("crk") <= F.col("nprobe"))
    t_res = salted_topk(
        cand,
        ["nprobe", "qid"],
        [F.asc("d"), F.col("vec_id")],
        PQ_RQ_K,
        salt_on="vec_id",
    ).select("nprobe", "qid", "vec_id")
    # exact ground truth: fixed-point relational pass (the _pq_dist
    # recipe over full vectors)
    ex = (
        e.join(qdf)
        .where(F.col("vec_id") != F.col("qid"))
        .select(
            "qid",
            "vec_id",
            F.aggregate(
                F.zip_with(
                    F.col("embedding"),
                    F.col("qv"),
                    lambda x, y: _pq_term(x, y),
                ),
                F.lit(0).cast("decimal(38,0)"),
                lambda a, b: (a + b).cast("decimal(38,0)"),
            ).alias("d"),
        )
    )
    t_ex = salted_topk(
        ex, ["qid"], [F.asc("d"), F.col("vec_id")], PQ_RQ_K, salt_on="vec_id"
    ).select("qid", "vec_id")
    hits = (
        t_res.join(t_ex, ["qid", "vec_id"])
        .groupBy("nprobe")
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )
    # candidate counts from the crk distribution — ONE conditional agg
    # over the ranked relation (4 sum-if columns, stacked), instead of
    # re-evaluating the exploded candidate set per width
    cands = (
        ranked.agg(
            *[
                F.sum((F.col("crk") <= np).cast("long")).alias(f"c{np}")
                for np in IVF_PQ_NPROBES
            ]
        )
        .select(
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(int(np)).cast("bigint").alias("nprobe"),
                            F.col(f"c{np}").alias("n_candidates"),
                        )
                        for np in IVF_PQ_NPROBES
                    ]
                )
            ).alias("x")
        )
        .select("x.nprobe", "x.n_candidates")
    )
    nps = spark.createDataFrame(
        [(int(n),) for n in IVF_PQ_NPROBES], "nprobe bigint"
    )
    return (
        nps.join(hits, "nprobe", "left")
        .join(cands, "nprobe", "left")
        .select(
            "nprobe",
            F.coalesce(F.col("n_hits"), F.lit(0)).alias("n_hits"),
            (
                F.coalesce(F.col("n_hits"), F.lit(0)).cast("double")
                / F.lit(float(PQ_RQ_N * PQ_RQ_K))
            ).alias("recall"),
            F.coalesce(F.col("n_candidates"), F.lit(0)).alias(
                "n_candidates"
            ),
        )
        .orderBy("nprobe")
    )


# --------------------------------------------------------------------------
# Trained IVF coarse quantizer + recall gate — the IVF symmetry of the
# PQ training eval: does one Lloyd refinement of the seeded coarse
# centroids improve nprobe-bounded retrieval recall?
# --------------------------------------------------------------------------


def _d2(e: Column, c: Column) -> Column:
    """Squared L2 via the fixed-point dot expansion (the kmeans recipe):
    each dot is decimal-exact / 1e15 in double, and the 3-term double
    combination associates identically in both engines."""
    return _dec_dot(e, e) - 2.0 * _dec_dot(e, c) + _dec_dot(c, c)


def _ivf_lloyd_pass(
    spark: SparkSession, e: DataFrame, cents: list[list[float]]
) -> tuple[list[list[float]], float]:
    """ONE exact Lloyd pass of the coarse quantizer: broadcast-join
    assignment against K centroid rows (exact fixed-point d2, struct-min
    argmin with cid tie-break), then per-cell fixed-point decimal means
    (the ``kmeans_assign_update`` recipe — bit-reproducible in DuckDB).
    Empty cells keep their input centroid. Also returns the exact
    distortion of the assignment: the ``dsum``-at-9-digits sum of every
    vector's min d2, identical in both engines. Two linear corpus scans
    (distortion aggregate + mean aggregate) over one persisted
    assignment; the collect is <= K x dim rows — a bounded model
    artifact."""
    from otus_cpp_11_spark.queries import dsum

    cdf = spark.createDataFrame(
        [(i, [float(x) for x in c]) for i, c in enumerate(cents)],
        "cid bigint, cv array<double>",
    )
    assigned = (
        e.join(F.broadcast(cdf))
        .select(
            "vec_id", "cid", _d2(F.col("embedding"), F.col("cv")).alias("d2")
        )
        .groupBy("vec_id")
        .agg(F.min(F.struct("d2", "cid")).alias("m"))
        .select(
            "vec_id", F.col("m.cid").alias("cid"), F.col("m.d2").alias("d2")
        )
        .persist()
    )
    try:
        dist = assigned.agg(dsum(F.col("d2"), 9).alias("du")).first()["du"]
        upd = (
            assigned.select("vec_id", "cid")
            .join(e, "vec_id")
            .select("cid", F.posexplode("embedding").alias("i", "v"))
            .groupBy("cid", "i")
            .agg(
                (dsum(F.col("v").cast("double"), 7) / F.count(F.lit(1))).alias(
                    "cv"
                )
            )
            .groupBy("cid")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("i", "cv"))),
                    lambda s: s.getField("cv"),
                ).alias("cv")
            )
            .collect()  # bounded: <= K rows (the coarse-centroid artifact)
        )
    finally:
        assigned.unpersist()
    new = [list(c) for c in cents]
    for r in upd:
        new[int(r["cid"])] = [float(x) for x in r["cv"]]
    return new, float(dist)


def _ivf_train(
    spark: SparkSession,
    e: DataFrame,
    iters: int = IVF_TRAIN_ITERS,
    seeds: list[list[float]] | None = None,
) -> tuple[list[list[float]], list[float], int, bool]:
    """Multi-iteration coarse-quantizer training (the IVF twin of
    ``_pq_train``): seeds are the K smallest vec_ids OF THE SOURCE
    (r11: order-by/limit, not ``vec_id < K`` — identical on the full
    corpus where vec_ids are contiguous from 0, and well-defined on the
    pre-ingest build slice the versioned residual index trains on),
    unless the caller passes ``seeds`` explicitly (r13: the blue/green
    retrain seeds by deterministic farthest-point traversal); run
    ``_ivf_lloyd_pass`` to exact convergence or ``iters``. Returns
    (centroids, distortion curve, iterations run, converged)."""
    if seeds is not None:
        cents = [list(map(float, s)) for s in seeds]
    else:
        rows = (
            e.select("vec_id", "embedding")
            .orderBy("vec_id")
            .limit(IVF_T_K)
            .collect()
        )
        cents = [[float(x) for x in r["embedding"]] for r in rows]
    curve: list[float] = []
    converged = False
    for _ in range(iters):
        new, du = _ivf_lloyd_pass(spark, e, cents)
        curve.append(du)
        converged = new == cents
        cents = new
        if converged:
            break
    return cents, curve, len(curve), converged


def _ivf_trained(
    spark: SparkSession, sf_dir: str, pre_ingest: bool = False
) -> tuple[list[list[float]], list[float], int, bool]:
    """Memoized trained coarse quantizer for a dataset — the one
    artifact the IVF probe queries and the stored-codes cell column
    share (train once, serve everywhere). ``pre_ingest=True`` trains on
    the pre-ingest slice only: the versioned residual index pins its
    coarse centroids at bulk-build time, before the ingest arrivals
    existed (retraining them would reassign cells and invalidate every
    stored code)."""
    key = _src_token(
        sf_dir, f"ivf|{IVF_T_K}|it{IVF_TRAIN_ITERS}|pre{pre_ingest}"
    )
    if key not in _TRAINED_CACHE:
        e = load_table(spark, sf_dir, "embeddings")
        if pre_ingest:
            e = e.where(F.col("vec_id") % PQ_INGEST_MOD != PQ_INGEST_MOD - 1)
        _TRAINED_CACHE[key] = _ivf_train(spark, e)
    return _TRAINED_CACHE[key]  # type: ignore[return-value]


# ---------------------------------------------------------------------------
# Production ANN serving queries — all keyed on the TRAINED artifacts
# (r9 verdict top item: the index must consume what the training evals
# measure). Every oracle below RECOMPUTES the training, so a hash match
# certifies served == trained end to end.
# ---------------------------------------------------------------------------


@register(
    "ivf_cosine_top5",
    oracle=f"""
WITH {_ivf_trained_ctes()},
qp AS (
  SELECT cid FROM id{IVF_TRAIN_ITERS}
  WHERE vec_id = {QUERY_VEC_ID} ORDER BY d2, cid LIMIT {IVF_T_NPROBE}
),
q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = {QUERY_VEC_ID}),
scored AS (
  SELECT e.vec_id, a.cid AS cell,
         {_dot_sql("e.embedding", "q.qv")} /
         (SQRT({_dot_sql("e.embedding", "e.embedding")}) * SQRT({_dot_sql("q.qv", "q.qv")})) AS cosine
  FROM embeddings e
  JOIN ia{IVF_TRAIN_ITERS} a ON a.vec_id = e.vec_id
  JOIN qp ON qp.cid = a.cid
  CROSS JOIN q
  WHERE e.vec_id <> {QUERY_VEC_ID}
)
SELECT vec_id, cell, cosine
FROM scored
ORDER BY cosine DESC, vec_id
LIMIT {IVF_TOPK}
""",
)
def ivf_cosine_top5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN under the TRAINED coarse quantizer (r10; previously the
    probe used the dataset's label column as a stand-in cell id): every
    vector's cell is its nearest trained centroid, the query probes its
    IVF_T_NPROBE nearest cells, and only those cells are scanned with
    the exact fixed-point cosine — the scale path where brute force
    scans nprobe/K of the data. The oracle recomputes the training, so
    the hash certifies the served quantizer IS the trained one. Plan:
    cell assignment and probe are broadcast joins against K centroid
    literals (map-side); the candidate scan is a semi-join on cell id —
    on a cell-partitioned index at 100 TB this is partition pruning."""
    e = load_table(spark, sf_dir, "embeddings")
    cents, _, _, _ = _ivf_trained(spark, sf_dir)
    cdf = F.broadcast(
        spark.createDataFrame(
            [(i, c) for i, c in enumerate(cents)],
            "cid bigint, cv array<double>",
        )
    )
    # r14 (guide §2.3, the item-14 shape): the query norm rides the 1-row
    # broadcast instead of being re-folded once per scored candidate;
    # operand order matches cosine_sim(embedding, qv) bit-for-bit.
    q = e.where(F.col("vec_id") == QUERY_VEC_ID).select(
        F.col("embedding").alias("qv"),
        F.sqrt(_dec_dot(F.col("embedding"), F.col("embedding"))).alias("qn"),
    )
    probe = (
        q.join(cdf)
        .select("cid", _d2(F.col("qv"), F.col("cv")).alias("d2"))
        .orderBy("d2", "cid")
        .limit(IVF_T_NPROBE)
        .select("cid")
    )
    assigned = e.select(
        "vec_id", "embedding", _ivf_cell_expr(cents).alias("cell")
    )
    scored = (
        assigned.join(
            F.broadcast(probe), F.col("cell") == F.col("cid")
        )
        .where(F.col("vec_id") != QUERY_VEC_ID)
        .join(F.broadcast(q))
        .select(
            "vec_id",
            "cell",
            cosine_from_norms(
                _dec_dot(F.col("embedding"), F.col("qv")),
                F.sqrt(_dec_dot(F.col("embedding"), F.col("embedding"))),
                F.col("qn"),
            ).alias("cosine"),
        )
    )
    return scored.orderBy(F.desc("cosine"), "vec_id").limit(IVF_TOPK)


@register(
    "pq_code_assignment",
    oracle=f"""
WITH {_pq_trained_ctes()}
SELECT vec_id, {_PQ_CODE_COLS}
FROM pa{PQ_TRAIN_ITERS}
GROUP BY vec_id
ORDER BY vec_id
""",
)
def pq_code_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product quantization encode under the TRAINED codebook — the
    codes the stored index actually holds (r10; the init-by-first-K
    assignment is now the training seed, not the served encode): each
    64-dim vector compresses to 4 codes of 4 bits (one argmin per
    16-dim subvector) — a 128x memory reduction that is what lets an
    ANN index hold billions of vectors in RAM at 100 TB corpus scale.
    The encode is a narrow map: codebooks ride as plan literals, all
    distances are fixed-point-exact Column expressions, argmin is a
    least-of-structs with code tie-break — no shuffle, no UDF. The
    oracle recomputes the training AND the encode. (r11: the SERVED
    index stores residual codes — ``_pq_versioned_index`` — so this
    query now gates the raw Column-expression encode itself, the
    kernel both index builds share.)"""
    e = load_table(spark, sf_dir, "embeddings")
    trained, _, _, _ = _pq_trained(spark, sf_dir)
    return (
        e.select("vec_id", *_pq_code_exprs_slices(trained))
        .orderBy("vec_id")
    )


@register(
    "pq_encode_arrow",
    oracle=f"""
WITH {_pq_trained_ctes()}
SELECT vec_id, {_PQ_CODE_COLS}
FROM pa{PQ_TRAIN_ITERS}
GROUP BY vec_id
ORDER BY vec_id
""",
    bench=True,
)
def pq_encode_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ encode as an Arrow-batched numpy kernel (mapInPandas) under
    the TRAINED codebook: the high-throughput path when encode
    dominates (bulk index builds). The fixed-point math is bit-identical
    to the Column-expression encode: per term, (x - c) is one float64
    subtract, (d*d)*SCALE two float64 multiplies in the same association
    order as the Column form, floor lands below 2^53 so float64 floor is
    exact, and the term/total magnitudes fit int64 — so argmin over
    int64 totals equals the decimal argmin exactly. np.argmin takes the
    first minimum, which IS the code tie-break. Batches stream through
    Arrow (no per-row Python); the kernel is O(batch x K x dim)
    vectorized ops. Same oracle as pq_code_assignment — two
    implementations, one contract."""
    import numpy as np
    import pandas as pd

    e = load_table(spark, sf_dir, "embeddings")
    trained, _, _, _ = _pq_trained(spark, sf_dir)
    cmat = _pq_slice_mat(trained)

    schema = "vec_id bigint, " + ", ".join(
        f"code_{s} bigint" for s in range(PQ_SUBVECTORS)
    )

    def encode(batches):
        for pdf in batches:
            emb = np.array(pdf["embedding"].tolist(), dtype=np.float64)
            out = {"vec_id": pdf["vec_id"].to_numpy()}
            codes = _pq_encode_np(emb, cmat)
            for s in range(PQ_SUBVECTORS):
                out[f"code_{s}"] = codes[:, s]
            yield pd.DataFrame(out)

    return (
        spread(e.select("vec_id", "embedding"))
        .mapInPandas(encode, schema)
        .orderBy("vec_id")
    )


@register(
    "pq_adc_top10",
    bench=True,
    oracle=f"""
WITH {_ivfpq_index_ctes()},
{_ivfpq_query_ctes(QUERY_VEC_ID)},
{_IVFPQ_ADC_CTE}
SELECT vec_id, adc_units
FROM adc
ORDER BY adc_units, vec_id
LIMIT 10
""",
)
def pq_adc_top10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Residual-PQ asymmetric-distance search (ADC) over the SERVED
    versioned index (r11: one artifact, residual codes — FAISS
    IndexIVFPQ at full probe): the query precomputes one distance table
    PER CELL against the pinned residual codebook — probing cell c
    compares (query − centroid[c]) to the stored residuals —
    K × S × CODEBOOK exact integers, driver-side, same fixed-point
    recipe as the encode. Each database vector's approximate distance
    is then table LOOKUPS keyed by its stored (cell, codes): no float
    math and no encode per vector at query time, which is the entire
    point of PQ (scan billions of 2-byte codes instead of 256-byte
    vectors). The plan is a narrow map over the index relation with a
    TakeOrderedAndProject top-k — no shuffle, no vector movement; the
    bench headline measures the search path, with training + encode
    amortized into the one-time index build. The oracle recomputes BOTH
    trainings, the residuals, and the full encode from scratch."""
    e = load_table(spark, sf_dir, "embeddings")
    cents, _, _, _ = _ivf_trained(spark, sf_dir, pre_ingest=True)
    trained, _, _, _ = _pq_trained_res(spark, sf_dir, pre_ingest=True)
    q = (
        e.where(F.col("vec_id") == QUERY_VEC_ID)
        .select("embedding")
        .first()["embedding"]
    )
    dtables = _pq_res_dtables(cents, trained, [float(x) for x in q])
    idx = _pq_index_df(spark, sf_dir)
    return (
        idx.where(F.col("vec_id") != QUERY_VEC_ID)
        .select("vec_id", _adc_expr_cells(dtables).alias("adc_units"))
        .orderBy("adc_units", "vec_id")
        .limit(10)
    )


@register(
    "ivf_pq_top5",
    bench=True,  # r11: the manifest-pruned probe path is a headline now
    oracle=f"""
WITH {_ivfpq_index_ctes()},
{_ivfpq_query_ctes(QUERY_VEC_ID)},
qp AS (
  SELECT cid FROM gd
  WHERE vec_id = {QUERY_VEC_ID} ORDER BY d2, cid LIMIT {IVF_T_NPROBE}
),
{_IVFPQ_ADC_CTE}
SELECT adc.vec_id, adc.cell, adc.adc_units
FROM adc JOIN qp ON qp.cid = adc.cell
ORDER BY adc_units, vec_id
LIMIT {IVF_TOPK}
""",
)
def ivf_pq_top5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ, the full production ANN recipe over the SERVED versioned
    index (r11: residual codes under pinned artifacts — FAISS
    IndexIVFPQ): the pinned coarse quantizer prunes the probe to the
    query's IVF_T_NPROBE nearest cells, then candidates rank by
    residual-PQ asymmetric distance over the STORED codes (table
    lookups on 2 bytes/vector, one distance table per probed cell). At
    100 TB this is the only shape that works: IVF divides the corpus
    scanned, PQ divides the bytes per vector scanned, and both factors
    multiply. Each probed cell is a stats-pruned ``scan_version`` —
    non-probed cells' files are dismissed from the MANIFEST HEADER's
    (cell) extents before any IO is planned (the versioned equivalent
    of partition pruning on the cell-clustered layout); search is
    lookups + a TakeOrderedAndProject. The oracle recomputes both
    trainings, the residuals, and the encode."""
    e = load_table(spark, sf_dir, "embeddings")
    cents, _, _, _ = _ivf_trained(spark, sf_dir, pre_ingest=True)
    trained, _, _, _ = _pq_trained_res(spark, sf_dir, pre_ingest=True)
    q = (
        e.where(F.col("vec_id") == QUERY_VEC_ID)
        .select("embedding")
        .first()["embedding"]
    )
    dtables = _pq_res_dtables(cents, trained, [float(x) for x in q])
    cdf = F.broadcast(
        spark.createDataFrame(
            [(i, c) for i, c in enumerate(cents)],
            "cid bigint, cv array<double>",
        )
    )
    # probe cells collected driver-side (bounded: nprobe of K rows,
    # computed with the engine's exact d2 + tie-break) so each probe is
    # a LITERAL cell bound on the versioned index scan — manifest-level
    # file skipping on the cell-clustered layout at 100 TB
    probed = [
        int(r["cid"])
        for r in (
            e.where(F.col("vec_id") == QUERY_VEC_ID)
            .select(F.col("embedding").alias("qv"))
            .join(cdf)
            .select("cid", _d2(F.col("qv"), F.col("cv")).alias("d2"))
            .orderBy("d2", "cid")
            .limit(IVF_T_NPROBE)
            .collect()
        )
    ]
    idx = _pq_index_cells(spark, sf_dir, probed)
    return (
        idx.where(F.col("vec_id") != QUERY_VEC_ID)
        .select(
            "vec_id",
            "cell",
            _adc_expr_cells(dtables).alias("adc_units"),
        )
        .orderBy("adc_units", "vec_id")
        .limit(IVF_TOPK)
    )


@register(
    "pq_adc_rerank_top5",
    oracle=f"""
WITH {_ivfpq_index_ctes()},
{_ivfpq_query_ctes(QUERY_VEC_ID)},
{_IVFPQ_ADC_CTE},
short AS (
  SELECT vec_id, adc_units FROM adc ORDER BY adc_units, vec_id LIMIT {ADC_SHORTLIST}
),
q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = {QUERY_VEC_ID}),
rer AS (
  SELECT s.vec_id, s.adc_units,
         {_dot_sql("e.embedding", "q.qv")} /
         (SQRT({_dot_sql("e.embedding", "e.embedding")}) * SQRT({_dot_sql("q.qv", "q.qv")})) AS cosine
  FROM short s JOIN embeddings e USING (vec_id) CROSS JOIN q
)
SELECT vec_id, adc_units, cosine
FROM rer
ORDER BY cosine DESC, vec_id
LIMIT 5
""",
)
def pq_adc_rerank_top5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage retrieval, the production ANN serving pattern, over the
    SERVED versioned residual index (r11): residual-PQ asymmetric
    distance over STORED (cell, codes) shortlists ADC_SHORTLIST
    candidates (integer table lookups on 2 bytes/vector, quantization
    error and all), then ONLY the shortlist is re-scored with the exact
    fixed-point cosine on the full vectors — at 100 TB the expensive
    exact math touches k', not N, vectors per query, and the
    full-precision vectors can live in slow storage. The oracle
    recomputes the trainings, the residual encode, the shortlist, and
    the rerank."""
    e = load_table(spark, sf_dir, "embeddings")
    cents, _, _, _ = _ivf_trained(spark, sf_dir, pre_ingest=True)
    trained, _, _, _ = _pq_trained_res(spark, sf_dir, pre_ingest=True)
    q = (
        e.where(F.col("vec_id") == QUERY_VEC_ID)
        .select("embedding")
        .first()["embedding"]
    )
    dtables = _pq_res_dtables(cents, trained, [float(x) for x in q])
    idx = _pq_index_df(spark, sf_dir)
    short = (
        idx.where(F.col("vec_id") != QUERY_VEC_ID)
        .select("vec_id", _adc_expr_cells(dtables).alias("adc_units"))
        .orderBy("adc_units", "vec_id")
        .limit(ADC_SHORTLIST)
    )
    # r14 (guide §2.3, the item-14 shape): query norm in the 1-row
    # broadcast; one fold per reranked candidate remains. Operand order
    # matches cosine_sim(embedding, qv) bit-for-bit.
    qv = e.where(F.col("vec_id") == QUERY_VEC_ID).select(
        F.col("embedding").alias("qv"),
        F.sqrt(_dec_dot(F.col("embedding"), F.col("embedding"))).alias("qn"),
    )
    rer = (
        short.join(e, "vec_id")
        .join(F.broadcast(qv))
        .select(
            "vec_id",
            "adc_units",
            cosine_from_norms(
                _dec_dot(F.col("embedding"), F.col("qv")),
                F.sqrt(_dec_dot(F.col("embedding"), F.col("embedding"))),
                F.col("qn"),
            ).alias("cosine"),
        )
    )
    return rer.orderBy(F.desc("cosine"), "vec_id").limit(5)


@register(
    "pq_index_after_append",
    oracle=f"""
WITH {_ivfpq_index_ctes()}
SELECT c.vec_id, g.cid AS cell, c.code_0, c.code_1, c.code_2, c.code_3,
       CASE WHEN c.vec_id % {PQ_INGEST_MOD} = {PQ_INGEST_MOD - 1}
            THEN 'ingest' ELSE 'bulk' END AS arrival
FROM rcodes c JOIN ga g ON g.vec_id = c.vec_id
ORDER BY c.vec_id
""",
)
def pq_index_after_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental ANN index refresh, oracle-gated end to end: the Spark
    side reads the VERSIONED residual index after an append-only
    refresh (bulk build of the pre-ingest corpus, then encode-and-append
    of only the new arrivals — see _pq_versioned_index), while the
    ORACLE is a from-scratch full rebuild over the whole corpus under
    the same build-time artifacts. r11: BOTH pinned artifacts (coarse
    centroids AND residual codebook) are trained on the pre-ingest
    corpus — the oracle recomputes both trainings, assigns every vector
    (including ingest arrivals the training never saw) under the pinned
    centroids, and re-encodes every residual. The hash match is
    therefore the exact identity 'index-after-append == full rebuild',
    now over cells and residual codes; the companion accounting test
    asserts the v2 manifest carried every v1 file by reference — i.e.
    only the delta was encoded."""
    path = _pq_versioned_index(spark, sf_dir)
    from otus_cpp_11_spark.ops.versioned import read_version

    idx = read_version(spark, path, 2)
    return (
        idx.select(
            "vec_id",
            "cell",
            *[f"code_{s}" for s in range(PQ_SUBVECTORS)],
            F.when(
                F.col("vec_id") % PQ_INGEST_MOD == PQ_INGEST_MOD - 1, "ingest"
            )
            .otherwise("bulk")
            .alias("arrival"),
        )
        .orderBy("vec_id")
    )


@register(
    "ann_index_streamed",
    oracle=f"""
WITH {_ivfpq_index_ctes()}
SELECT c.vec_id, g.cid AS cell, c.code_0, c.code_1, c.code_2, c.code_3,
       CASE WHEN c.vec_id % {PQ_INGEST_MOD} = {PQ_INGEST_MOD - 1}
            THEN 'ingest' ELSE 'bulk' END AS arrival
FROM rcodes c JOIN ga g ON g.vec_id = c.vec_id
ORDER BY c.vec_id
""",
)
def ann_index_streamed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structured Streaming maintainer for the DENSE index, driver-
    visible (r11 verdict item 3): bulk-build version 1 of a fresh
    IVF-PQ index over the pre-ingest corpus, then replay the ingest
    arrivals as a FILE STREAM (three parquet files, one micro-batch
    each under maxFilesPerTrigger=1) through
    ``streaming.incremental_ann_index``, which encodes every batch
    under the PINNED bulk-build artifacts and appends it as a new index
    version. The oracle is the from-scratch FULL REBUILD over the whole
    corpus (both trainings recomputed, every vector assigned and
    re-encoded), so a hash match certifies the exact identity
    'streamed-maintained index == rebuild' — however ingestion was
    micro-batched. This completes the ingest story whose sparse half is
    ``bm25_stats_streamed``: BOTH retrieval indexes are now maintained
    as the corpus lands, each micro-batch one O(batch) encode + one
    atomic manifest rename, with exactly-once via the batch id in the
    commit header."""
    from otus_cpp_11_spark.ops.versioned import commit_version, read_version
    from otus_cpp_11_spark.session import scratch_dir
    from otus_cpp_11_spark.streaming import incremental_ann_index

    e = load_table(spark, sf_dir, "embeddings")
    cents, _, _, _ = _ivf_trained(spark, sf_dir, pre_ingest=True)
    slices, _, _, _ = _pq_trained_res(spark, sf_dir, pre_ingest=True)
    is_ingest = F.col("vec_id") % PQ_INGEST_MOD == PQ_INGEST_MOD - 1
    root = scratch_dir("sg-annidx-")
    index = f"{root}/index"
    commit_version(
        spark,
        encode_ivfpq(e.where(~is_ingest), cents, slices),
        index,
        stats_cols=["cell", "vec_id"],
        meta={"stage": "bulk-build"},
    )
    arrivals = f"{root}/arrivals"
    e.where(is_ingest).repartition(3).write.parquet(arrivals)
    stream = (
        spark.readStream.schema(e.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{arrivals[:-1]}[{arrivals[-1]}]")
    )
    incremental_ann_index(stream, index, cents, slices).awaitTermination()
    return (
        read_version(spark, index)
        .select(
            "vec_id",
            "cell",
            *[f"code_{s}" for s in range(PQ_SUBVECTORS)],
            F.when(is_ingest, "ingest").otherwise("bulk").alias("arrival"),
        )
        .orderBy("vec_id")
    )


OPQ_VAR_SCALE = 10**4  # per-element fixed-point digits for the variance probe
_OPQ_N_ITER = IVF_TRAIN_ITERS


@register(
    "opq_rotation_gain_probe",
    oracle=f"""
WITH isrc AS MATERIALIZED (SELECT vec_id, embedding FROM embeddings
 {_PQ_PRE_WHERE}),
{_ivf_trained_ctes(src="isrc")},
rsrcpre AS MATERIALIZED
 ({_residual_src_sql('isrc', f'ia{_OPQ_N_ITER}', 'itrained')}),
dimx AS (
  SELECT u.i - 1 AS dim, CAST(FLOOR(u.v * {OPQ_VAR_SCALE}.0) AS BIGINT) AS xu
  FROM (SELECT UNNEST([{{'i': i, 'v': embedding[i]}}
                       FOR i IN RANGE(1, {_PQ_FULL + 1})]) AS u
        FROM rsrcpre) z
),
perdim AS (
  SELECT dim, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(xu) AS BIGINT) AS s1,
         CAST(SUM(xu * xu) AS BIGINT) AS s2
  FROM dimx GROUP BY dim
),
pv AS (SELECT dim, n * s2 - s1 * s1 AS v FROM perdim),
grp AS (
  SELECT CAST(dim // {PQ_DSUB} AS BIGINT) AS subvector,
         CAST(COUNT(*) AS BIGINT) AS n_dims,
         MIN(v) AS v_min, MAX(v) AS v_max, CAST(SUM(v) AS BIGINT) AS v_sum
  FROM pv GROUP BY 1
  UNION ALL
  SELECT CAST(-1 AS BIGINT), CAST(COUNT(*) AS BIGINT),
         MIN(v), MAX(v), CAST(SUM(v) AS BIGINT)
  FROM pv
)
SELECT subvector, n_dims, v_min, v_max, v_sum,
       CAST(v_max AS DOUBLE) / CAST(v_min AS DOUBLE) AS anisotropy
FROM grp ORDER BY subvector
""",
)
def opq_rotation_gain_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The DECISION PROBE a production deployment runs before training an
    OPQ rotation (r11 verdict item 5): per-dimension variance of the
    residual frame under the pinned coarse quantizer, aggregated per PQ
    subvector and overall — exact integer units (floored fixed-point
    elements; v = n·Σx² − (Σx)² never touches float), so the oracle
    hash-pins the whole measurement. OPQ's entire premise is residual
    ANISOTROPY: a learned rotation (parametric OPQ = PCA + eigenvalue
    allocation; non-parametric = alternating SVD, Ge et al. CVPR'13)
    helps exactly when variance is unevenly spread across the
    dimensions a subvector split would separate. When the overall
    anisotropy ratio is near 1 the rotation is a provable no-op — which
    is what this corpus measures: eigen-spectrum 0.021→0.009 (ratio
    ~2.3, near-flat), and recall@5 over the full 100-query probe set at
    equal code bytes was identity 0.064 vs PCA+eigenvalue-allocation
    0.060 vs alternating-SVD OPQ 0.060 (r12 measurement, SCALE.md) —
    no rotation dominates on isotropic synthetic data, so the engine
    ships the MEASUREMENT as a first-class gated query and skips the
    rotation by evidence, not omission. On a real anisotropic corpus
    this probe's v_min/v_max imbalance is the trigger to train one.

    Plan: one distributed residual pass, posexplode to (dim, element),
    64 exact integer aggregates, 5-row output — at 100 TB this is a
    single linear scan with partial aggregation, no shuffle beyond the
    64-group aggregate."""
    e = load_table(spark, sf_dir, "embeddings").where(
        F.col("vec_id") % PQ_INGEST_MOD != PQ_INGEST_MOD - 1
    )
    cents, _, _, _ = _ivf_trained(spark, sf_dir, pre_ingest=True)
    r = _residual_frame(e, cents)
    dims = r.select(F.posexplode("embedding").alias("dim", "x")).select(
        "dim",
        F.floor(F.col("x") * F.lit(float(OPQ_VAR_SCALE)))
        .cast("long")
        .alias("xu"),
    )
    pv = (
        dims.groupBy("dim")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("xu").alias("s1"),
            F.sum(F.col("xu") * F.col("xu")).alias("s2"),
        )
        .select(
            "dim",
            (F.col("n") * F.col("s2") - F.col("s1") * F.col("s1")).alias("v"),
        )
    )
    def agg_of(grouped):
        return grouped.agg(
            F.count(F.lit(1)).alias("n_dims"),
            F.min("v").alias("v_min"),
            F.max("v").alias("v_max"),
            F.sum("v").alias("v_sum"),
        )

    per_sub = agg_of(
        pv.groupBy(F.floor(F.col("dim") / PQ_DSUB).alias("subvector"))
    )
    overall = agg_of(pv.groupBy(F.lit(-1).cast("bigint").alias("subvector")))
    return (
        per_sub.unionByName(overall)
        .select(
            "subvector",
            "n_dims",
            "v_min",
            "v_max",
            "v_sum",
            (F.col("v_max").cast("double") / F.col("v_min").cast("double"))
            .alias("anisotropy"),
        )
        .orderBy("subvector")
    )


# ---------------------------------------------------------------------------
# BATCH k-NN join through the SERVED residual IVF-PQ index (r11 verdict item
# 1): N queries answered in ONE relational plan — per-query nprobe cell
# assignment via a broadcast centroid join, per-(query, cell) ADC distance
# tables built IN-PLAN (not as driver literals: N queries × K cells of
# literals would put the query set on the driver), candidates joined on
# cell, ADC shortlist, exact rerank of ONLY the shortlist. The production
# batch-retrieval shape (RAG backfills, SemDeDup): per-query driver round
# trips are zero; the one driver collect is the DISTINCT probed-cell set
# (≤ K rows, independent of query count) so each probed cell stays a
# stats-pruned scan_version against the manifest header.

KNN_IVFPQ_NPROBE = IVF_T_NPROBE
KNN_IVFPQ_SHORTLIST = 20

def _knn_ivfpq_ctes(exclude_sql: str = "") -> str:
    """The batch-retrieval oracle pipeline (kq..kranked) with an
    optional candidate-exclusion predicate (the lifecycle query's
    forgotten vec_ids — the Spark side needs no twin because the DV
    delete already removed them from the index it scans)."""
    return _KNN_IVFPQ_CTES_T.replace("__EXCLUDE__", exclude_sql)


_KNN_IVFPQ_CTES_T = f"""kq AS MATERIALIZED (
  SELECT vec_id AS query_id, embedding AS qv FROM embeddings
  WHERE vec_id % {KNN_QUERY_MOD} = 0),
kprobe AS MATERIALIZED (
  SELECT query_id, cell FROM (
    SELECT vec_id AS query_id, cid AS cell,
           ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rk
    FROM gd WHERE vec_id % {KNN_QUERY_MOD} = 0) z
  WHERE rk <= {KNN_IVFPQ_NPROBE}),
kqres AS MATERIALIZED (
  SELECT p.query_id, p.cell,
         [CAST(q.qv[i] AS DOUBLE) - c.cv[i]
          FOR i IN RANGE(1, {_PQ_FULL + 1})] AS rv
  FROM kprobe p JOIN kq q ON q.query_id = p.query_id
  JOIN itrained c ON c.cid = p.cell),
kqd AS MATERIALIZED (
  SELECT r.query_id, r.cell, t.s, t.code,
         LIST_SUM([CAST(FLOOR((r.rv[t.s * {PQ_DSUB} + i] - t.cv[i])
                              * (r.rv[t.s * {PQ_DSUB} + i] - t.cv[i])
                              * {PQ_SCALE}.0) AS DECIMAL(38,0))
                   FOR i IN RANGE(1, {PQ_DSUB + 1})]) AS dist
  FROM kqres r CROSS JOIN rtrained t),
kadc AS MATERIALIZED (
  SELECT p.query_id, a.vec_id, CAST(SUM(d.dist) AS BIGINT) AS adc_units
  FROM rpafull a
  JOIN ga g ON g.vec_id = a.vec_id
  JOIN kprobe p ON p.cell = g.cid
  JOIN kqd d ON d.query_id = p.query_id AND d.cell = g.cid
            AND d.s = a.s AND d.code = a.code
  WHERE a.vec_id <> p.query_id__EXCLUDE__
  GROUP BY p.query_id, a.vec_id),
kshort AS MATERIALIZED (
  SELECT query_id, vec_id, adc_units FROM (
    SELECT query_id, vec_id, adc_units,
           ROW_NUMBER() OVER (PARTITION BY query_id
                              ORDER BY adc_units, vec_id) AS srk
    FROM kadc) z WHERE srk <= {KNN_IVFPQ_SHORTLIST}),
krer AS MATERIALIZED (
  SELECT s.query_id, s.vec_id AS neighbor_id, e.label AS neighbor_label,
         s.adc_units,
         {_dot_sql("e.embedding", "q.qv")} /
         (SQRT({_dot_sql("e.embedding", "e.embedding")}) * SQRT({_dot_sql("q.qv", "q.qv")})) AS cosine
  FROM kshort s JOIN embeddings e ON e.vec_id = s.vec_id
  JOIN kq q ON q.query_id = s.query_id),
kranked AS (
  SELECT query_id, neighbor_id, neighbor_label, adc_units, cosine,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY cosine DESC, neighbor_id) AS rnk
  FROM krer)"""


def _knn_ivfpq_ranked(
    spark: SparkSession,
    sf_dir: str,
    index_path: str | None = None,
    allowed: DataFrame | None = None,
    artifacts: tuple | None = None,
) -> DataFrame:
    """(query_id, neighbor_id, neighbor_label, adc_units, cosine, rnk ≤
    {KNN_TOPK}) for the whole query set through the served index — the
    shared engine of ``knn_join_ivfpq_topk``, the filtered variant
    (``allowed`` = one-column ``vec_id`` eligibility relation,
    semi-joined against candidates BEFORE the ADC shortlist so every
    shortlist slot goes to an eligible vector — the pre-filter side of
    the trap ``ann_filtered_top5`` documents), and the recall gates.

    Plan shape, stage by stage (all one lazy plan):
    1. probe assignment: each query row evaluates its K exact
       fixed-point d2 scores against the centroid LITERALS in one
       sorted-struct-array expression and keeps nprobe cells — a pure
       map-side projection, no centroid join, no per-query window, no
       Exchange; the corpus is never touched (r13: this replaced a
       broadcast-centroid join + row_number window);
    2. per-(query, cell) ADC tables: the query's residual against the
       S×CODEBOOK codebook LITERALS as one generated
       array<array<bigint>> expression per (query, cell) — N·nprobe
       rows total, computed executor-side in the same projection (r13:
       this replaced a codebook join + 64-conditional-max pivot and its
       Exchange; per-query driver-literal tables still would not scale
       to query SETS — the codebook literals are corpus-level constants,
       query-count-independent);
    3. candidates: the versioned index (files for non-probed cells
       dismissed from the manifest header; the distinct probed-cell
       collect is ≤ K rows, query-count-independent) joined to the
       broadcast table rows on cell — ADC is then element_at lookups on
       the STORED codes, zero float math, zero vector movement;
    4. shortlist + exact rerank: per-query ADC top-{KNN_IVFPQ_SHORTLIST}
       (window on the small candidate relation), then exact fixed-point
       cosine on full vectors for ONLY shortlisted pairs (a vec_id
       equi-join back to the corpus — at 100 TB the full-precision
       vectors are touched k'·N times, never |corpus|·N).

    The oracle (``_KNN_IVFPQ_CTES``) recomputes both trainings, the
    whole-corpus encode, and every stage above from scratch.
    ``artifacts`` = (cents, slices) overrides the default (blue,
    pre-ingest-pinned) trained pair — the blue/green cutover serves a
    retrained lineage through the identical plan; the index at
    ``index_path`` must be encoded under the same artifacts."""
    e = load_table(spark, sf_dir, "embeddings")
    if artifacts is None:
        cents, _, _, _ = _ivf_trained(spark, sf_dir, pre_ingest=True)
        slices, _, _, _ = _pq_trained_res(spark, sf_dir, pre_ingest=True)
    else:
        cents, slices = artifacts
    # r14 (guide §2.3, the item-14 shape): the query norm rides the
    # bounded broadcast query relation, so the exact rerank pays one
    # fold per (query, shortlist candidate) pair instead of re-folding
    # the query self-dot per candidate. Operand order via
    # cosine_from_norms matches cosine_sim(embedding, qv) bit-for-bit.
    q = e.where(F.col("vec_id") % KNN_QUERY_MOD == 0).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qv"),
        F.sqrt(_dec_dot(F.col("embedding"), F.col("embedding"))).alias("qn"),
    )

    # r13 optimization (guide §2.4 — remove shuffles outright): probe
    # assignment and the per-(query, cell) ADC tables are MAP-SIDE
    # expressions over the query rows. The centroids and the codebook
    # are driver-side trained artifacts (bounded: K x dim and S x C x
    # dsub literals — corpus-independent), so the K d2 scores per query
    # ride as one sorted-struct-array expression (replacing the
    # broadcast-centroid join + per-query row_number window and its
    # Exchange) and each probed cell's S x C distance table is one
    # generated array expression over the residual (replacing the
    # codebook join + the 64-conditional-max pivot aggregate and its
    # Exchange). Everything is built as ONE JVM-parsed expression string
    # (the encode-path move: ~ms through the parser vs ~1 s of py4j
    # Column construction per call). The arithmetic templates mirror
    # _dec_dot/_d2/_pq_term operation for operation (same casts, same
    # left-to-right decimal accumulation), so every d2, residual and
    # table entry is bit-identical to the joined formulation — the
    # oracle re-proves it.
    def _arr(vals: list[float]) -> str:
        return (
            "array("
            + ",".join(f"CAST('{float(v)!r}' AS DOUBLE)" for v in vals)
            + ")"
        )

    def _dot_expr(a: str, b: str) -> str:
        # _dec_dot as SQL: floor(x*y*1e15) per element as decimal(38,0),
        # left-fold sum, cast double, / 1e15
        return (
            f"(CAST(aggregate(zip_with({a}, {b}, (x, y) -> "
            f"CAST(FLOOR(CAST(x AS DOUBLE) * CAST(y AS DOUBLE) * 1.0E15) "
            f"AS DECIMAL(38,0))), CAST(0 AS DECIMAL(38,0)), "
            f"(acc, p) -> CAST(acc + p AS DECIMAL(38,0))) AS DOUBLE) / 1.0E15)"
        )

    d2s = [
        f"({_dot_expr('qv', 'qv')} - 2.0D * {_dot_expr('qv', _arr(c))}"
        f" + {_dot_expr(_arr(c), _arr(c))})"
        for c in cents
    ]
    probe_sql = (
        "slice(array_sort(array("
        + ",".join(
            f"named_struct('d2', {d}, 'cell', CAST({i} AS BIGINT))"
            for i, d in enumerate(d2s)
        )
        + f")), 1, {KNN_IVFPQ_NPROBE})"
    )
    cmat = "array(" + ",".join(_arr(c) for c in cents) + ")"
    qprobe = (
        q.select(
            "query_id", "qv", F.expr(f"explode({probe_sql})").alias("pc")
        )
        .select(
            "query_id",
            F.col("pc.cell").alias("cell"),
            F.expr(
                f"zip_with(qv, element_at({cmat}, CAST(pc.cell + 1 AS INT)),"
                " (x, c) -> CAST(x AS DOUBLE) - c)"
            ).alias("rv"),
        )
    )

    def _pq_dist_sql(s: int, c: int) -> str:
        # _pq_term folded over one subvector slice against a literal
        # codebook slice; the pivot's final CAST ... AS BIGINT kept
        return (
            f"CAST(aggregate(zip_with(slice(rv, {s * PQ_DSUB + 1}, "
            f"{PQ_DSUB}), {_arr(slices[(s, c)])}, (x, y) -> "
            f"CAST(FLOOR((CAST(x AS DOUBLE) - y) * (CAST(x AS DOUBLE) - y)"
            f" * {float(PQ_SCALE)!r}D) AS DECIMAL(38,0))), "
            f"CAST(0 AS DECIMAL(38,0)), "
            f"(acc, p) -> CAST(acc + p AS DECIMAL(38,0))) AS BIGINT)"
        )

    tabs_sql = (
        "array("
        + ",".join(
            "array("
            + ",".join(
                _pq_dist_sql(s, c) for c in range(PQ_CODEBOOK)
            )
            + ")"
            for s in range(PQ_SUBVECTORS)
        )
        + ")"
    )
    qdt = qprobe.select(
        "query_id", "cell", F.expr(tabs_sql).alias("tabs")
    )
    # the ONE driver collect: the distinct probed-cell set (≤ K ints,
    # independent of query count) so each probed cell is a stats-pruned
    # scan_version — manifest-header file dismissal, as in ivf_pq_top5
    probed = sorted(
        int(r["cell"]) for r in qprobe.select("cell").distinct().collect()
    )
    idx = _pq_index_cells(spark, sf_dir, probed, path=index_path)
    if allowed is not None:
        # pre-filter: eligibility semi-join on the 2-byte-code candidate
        # rows BEFORE ADC ranking (AQE broadcasts a selective id set), so
        # the shortlist is drawn from eligible vectors only — never
        # "top-k then filter", which starves selective predicates
        idx = idx.join(allowed.select("vec_id"), "vec_id", "left_semi")
    joined = idx.join(F.broadcast(qdt), "cell").where(
        F.col("vec_id") != F.col("query_id")
    )
    adc = None
    for s in range(PQ_SUBVECTORS):
        term = F.element_at(
            F.element_at(F.col("tabs"), s + 1),
            (F.col(f"code_{s}") + 1).cast("int"),
        )
        adc = term if adc is None else adc + term
    scored = joined.select(
        "query_id",
        "vec_id",
        F.col("label").alias("neighbor_label"),
        adc.alias("adc_units"),
    )
    wshort = Window.partitionBy("query_id").orderBy("adc_units", "vec_id")
    short = (
        scored.select("*", F.row_number().over(wshort).alias("srk"))
        .where(F.col("srk") <= KNN_IVFPQ_SHORTLIST)
        .select("query_id", "vec_id", "neighbor_label", "adc_units")
    )
    rer = (
        short.join(e.select("vec_id", "embedding"), "vec_id")
        .join(F.broadcast(q), "query_id")
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            "neighbor_label",
            "adc_units",
            cosine_from_norms(
                _dec_dot(F.col("embedding"), F.col("qv")),
                F.sqrt(_dec_dot(F.col("embedding"), F.col("embedding"))),
                F.col("qn"),
            ).alias("cosine"),
        )
    )
    wfin = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), "neighbor_id"
    )
    return rer.select("*", F.row_number().over(wfin).alias("rnk")).where(
        F.col("rnk") <= KNN_TOPK
    )


@register(
    "knn_join_ivfpq_topk",
    bench=True,
    oracle=f"""
WITH {_ivfpq_index_ctes()},
{_knn_ivfpq_ctes()}
SELECT query_id, rnk, neighbor_id, neighbor_label, adc_units, cosine
FROM kranked WHERE rnk <= {KNN_TOPK}
ORDER BY query_id, rnk
""",
)
def knn_join_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch k-NN join THROUGH the served residual IVF-PQ index — the
    graduation of ``knn_join_lsh_top3`` from sign-LSH over raw vectors
    to the production index (r11 verdict item 1): every query of the
    set is assigned its {KNN_IVFPQ_NPROBE} nprobe cells by a broadcast
    centroid join, candidates come from the versioned index restricted
    to probed cells (manifest-header file dismissal on the
    cell-clustered layout), ranking is residual-ADC on the STORED
    2-byte codes via per-(query, cell) distance tables built in-plan,
    and only the per-query shortlist of {KNN_IVFPQ_SHORTLIST} is
    exact-reranked on full vectors. ONE plan answers N queries — no
    per-query driver round trips (the single bounded collect is the
    distinct probed-cell set, ≤ K rows regardless of query count).

    At 100 TB: the index side scans nprobe/K of 2-byte codes instead of
    raw vectors; the query side is broadcast-sized by construction
    (sampled probes / arriving batches); the exact math touches
    shortlist·N vectors, never corpus·N. The oracle recomputes the
    coarse training, residual PQ training, whole-corpus encode, probe
    assignment, ADC tables, shortlist and rerank end to end."""
    return _knn_ivfpq_ranked(spark, sf_dir).select(
        "query_id",
        "rnk",
        "neighbor_id",
        "neighbor_label",
        "adc_units",
        "cosine",
    ).orderBy("query_id", "rnk")


ANN_FORGET_IDS = (7, 123, 321, 404)  # mirrors cdc.FORGET_VEC_IDS
_ANN_FORGET_SQL = ", ".join(str(i) for i in ANN_FORGET_IDS)


@register(
    "ann_lifecycle_pipeline",
    oracle=f"""
WITH {_ivfpq_index_ctes()},
{_knn_ivfpq_ctes(f" AND a.vec_id NOT IN ({_ANN_FORGET_SQL})")}
SELECT query_id, rnk, neighbor_id, neighbor_label, adc_units, cosine
FROM kranked WHERE rnk <= {KNN_TOPK}
ORDER BY query_id, rnk
""",
)
def ann_lifecycle_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THE END-TO-END LIFECYCLE of the served dense index, one driver
    row: (1) bulk-build a fresh IVF-PQ index over the pre-ingest
    corpus; (2) stream the ingest arrivals through the foreachBatch
    maintainer (three micro-batches, encode under pinned artifacts,
    append versions); (3) FORGET a set of vec_ids from the corpus table
    AND the index in one ``commit_transaction`` (DV deletes,
    both-or-neither); (4) answer the whole batch query set THROUGH the
    final index with the production k-NN join (nprobe assignment,
    in-plan ADC tables, shortlist, exact rerank). The oracle recomputes
    the trainings and whole-corpus encode from scratch and ranks with
    the forgotten ids EXCLUDED — a hash match therefore certifies, in
    one number, that streamed ingest == rebuild, that the transactional
    forget reached the served index (a surviving forgotten vector would
    surface in some query's top-k or shortlist and shift the ranking),
    and that retrieval semantics survive the whole ingest→forget→serve
    composition. This is the ONLY-retrieval-path story the r11 verdict
    asked the engine to complete, exercised as one pipeline instead of
    three isolated operators."""
    from otus_cpp_11_spark.ops.versioned import (
        commit_transaction,
        commit_version,
    )
    from otus_cpp_11_spark.session import scratch_dir
    from otus_cpp_11_spark.streaming import incremental_ann_index

    e = load_table(spark, sf_dir, "embeddings")
    cents, _, _, _ = _ivf_trained(spark, sf_dir, pre_ingest=True)
    slices, _, _, _ = _pq_trained_res(spark, sf_dir, pre_ingest=True)
    is_ingest = F.col("vec_id") % PQ_INGEST_MOD == PQ_INGEST_MOD - 1
    root = scratch_dir("sg-annlife-")
    index, corpus, troot = f"{root}/index", f"{root}/corpus", f"{root}/txns"
    commit_version(
        spark,
        encode_ivfpq(e.where(~is_ingest), cents, slices),
        index,
        stats_cols=["cell", "vec_id"],
        bloom_cols=["vec_id"],
        meta={"stage": "bulk-build"},
    )
    commit_version(
        spark,
        e.repartitionByRange(4, "vec_id"),
        corpus,
        stats_cols=["vec_id"],
        bloom_cols=["vec_id"],
    )
    arrivals = f"{root}/arrivals"
    e.where(is_ingest).repartition(3).write.parquet(arrivals)
    stream = (
        spark.readStream.schema(e.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{arrivals[:-1]}[{arrivals[-1]}]")
    )
    incremental_ann_index(stream, index, cents, slices).awaitTermination()
    cond = f"vec_id IN ({_ANN_FORGET_SQL})"
    bounds = {"vec_id": (min(ANN_FORGET_IDS), max(ANN_FORGET_IDS))}
    commit_transaction(
        spark,
        [],
        troot,
        deletes=[(corpus, cond, bounds, 0.5), (index, cond, bounds, 0.5)],
    )
    return (
        _knn_ivfpq_ranked(spark, sf_dir, index_path=index)
        .select(
            "query_id",
            "rnk",
            "neighbor_id",
            "neighbor_label",
            "adc_units",
            "cosine",
        )
        .orderBy("query_id", "rnk")
    )


UPD_VEC_IDS = (11, 222)  # present at every SF
_UPD_IDS_SQL = ", ".join(str(i) for i in UPD_VEC_IDS)
_IVF_N = IVF_TRAIN_ITERS


@register(
    "ann_index_cdc_upsert_txn",
    oracle=f"""
WITH isrc AS MATERIALIZED (SELECT vec_id, embedding FROM embeddings
 {_PQ_PRE_WHERE}),
{_ivf_trained_ctes(src="isrc")},
rsrcpre AS MATERIALIZED
 ({_residual_src_sql('isrc', f'ia{_IVF_N}', 'itrained')}),
{_pq_trained_ctes(src="rsrcpre", prefix="r")},
emod AS MATERIALIZED (
  SELECT vec_id,
         CASE WHEN vec_id IN ({_UPD_IDS_SQL})
              THEN [CAST(-x AS FLOAT) FOR x IN embedding]
              ELSE embedding END AS embedding
  FROM embeddings),
{_ivf_assign_ctes("emod", "itrained")},
rall AS MATERIALIZED ({_residual_src_sql('emod', 'ga', 'itrained')}),
rpdfull AS MATERIALIZED ({_pq_dist_vs_cb_sql('rall', 'rtrained')}),
rpafull AS MATERIALIZED (
  SELECT vec_id, s, code FROM (
    SELECT vec_id, s, code,
           ROW_NUMBER() OVER (PARTITION BY vec_id, s ORDER BY dist, code) AS rk
    FROM rpdfull) z WHERE rk = 1),
rcodes AS MATERIALIZED (SELECT vec_id, {_PQ_CODE_COLS} FROM rpafull
 GROUP BY vec_id)
SELECT c.vec_id, g.cid AS cell, c.code_0, c.code_1, c.code_2, c.code_3,
       c.vec_id IN ({_UPD_IDS_SQL}) AS updated
FROM rcodes c JOIN ga g ON g.vec_id = c.vec_id
ORDER BY c.vec_id
""",
)
def ann_index_cdc_upsert_txn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC-APPLY across base table + served index, atomically (the
    transactional-MERGE shape ``commit_transaction(upserts=...)``
    exists for): a change batch flips the sign of two vectors'
    embeddings; ONE transaction upserts the raw rows into the corpus
    table AND their re-encoded (cell, codes) rows into the IVF-PQ index
    — both-or-neither, so no observable state serves a stale vector
    under a fresh base row or vice versa. Re-encoding uses the PINNED
    bulk-build artifacts (an update can change a vector's coarse cell;
    the upsert moves its index row between cells by key). The oracle
    recomputes both trainings on the ORIGINAL pre-ingest corpus, then
    assigns and encodes the MODIFIED corpus from scratch — the emitted
    rows are the ENTIRE post-CDC index, so a missed re-encode, a stale
    cell, or a torn transaction all hash-mismatch. Sign-flip is exact
    in float, so both engines compute identical updated vectors."""
    from otus_cpp_11_spark.ops.versioned import (
        commit_transaction,
        commit_version,
        read_version,
        version_header,
    )
    from otus_cpp_11_spark.session import scratch_dir

    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "label", "embedding"
    )
    cents, _, _, _ = _ivf_trained(spark, sf_dir, pre_ingest=True)
    slices, _, _, _ = _pq_trained_res(spark, sf_dir, pre_ingest=True)
    root = scratch_dir("sg-anncdc-")
    corpus, index, troot = f"{root}/corpus", f"{root}/index", f"{root}/txns"
    commit_version(
        spark,
        e.repartitionByRange(4, "vec_id"),
        corpus,
        stats_cols=["vec_id"],
    )
    commit_version(
        spark,
        encode_ivfpq(e, cents, slices),
        index,
        stats_cols=["cell", "vec_id"],
    )
    upd = e.where(F.col("vec_id").isin(*UPD_VEC_IDS)).select(
        "vec_id",
        "label",
        F.transform(F.col("embedding"), lambda x: -x).alias("embedding"),
    )
    versions = commit_transaction(
        spark,
        [],
        troot,
        upserts=[
            (corpus, upd, ["vec_id"]),
            (index, encode_ivfpq(upd, cents, slices), ["vec_id"]),
        ],
    )
    if versions != {corpus: 2, index: 2}:  # not assert: must survive -O
        raise RuntimeError(f"cdc txn landed on unexpected {versions}")
    if (
        version_header(spark, corpus, 2)["txn"]["id"]
        != version_header(spark, index, 2)["txn"]["id"]
    ):
        raise RuntimeError("upsert claims not paired under one txn")
    return (
        read_version(spark, index)
        .select(
            "vec_id",
            "cell",
            *[f"code_{s}" for s in range(PQ_SUBVECTORS)],
            F.col("vec_id").isin(*UPD_VEC_IDS).alias("updated"),
        )
        .orderBy("vec_id")
    )


@register(
    "knn_ivfpq_recall_at_3",
    oracle=f"""
WITH {_ivfpq_index_ctes()},
{_knn_ivfpq_ctes()},
kexact AS (
  SELECT query_id, vec_id FROM (
    SELECT q.query_id, e.vec_id,
           ROW_NUMBER() OVER (PARTITION BY q.query_id ORDER BY
             {_dot_sql("e.embedding", "q.qv")} /
             (SQRT({_dot_sql("e.embedding", "e.embedding")}) * SQRT({_dot_sql("q.qv", "q.qv")})) DESC,
             e.vec_id) AS rnk
    FROM embeddings e, kq q WHERE e.vec_id <> q.query_id) z
  WHERE rnk <= {KNN_TOPK})
SELECT x.query_id,
       CAST(COUNT(l.neighbor_id) AS BIGINT) AS n_overlap,
       CAST(COUNT(l.neighbor_id) AS DOUBLE) / COUNT(*) AS recall
FROM kexact x
LEFT JOIN (SELECT query_id, neighbor_id FROM kranked
           WHERE rnk <= {KNN_TOPK}) l
  ON l.query_id = x.query_id AND l.neighbor_id = x.vec_id
GROUP BY x.query_id
ORDER BY x.query_id
""",
)
def knn_ivfpq_recall_at_3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@{KNN_TOPK} of the batch IVF-PQ k-NN join against the
    exact brute-force top-{KNN_TOPK} per query — the quality gate that
    rides with ``knn_join_ivfpq_topk`` exactly as ``knn_recall_at_3``
    rides with the LSH join. The exact side scores the (bounded,
    broadcast) query set against the whole corpus in one narrow pass;
    the approximate side is the served-index pipeline verbatim (shared
    helper). Recall is n_overlap over the query's EXACT top-k row count
    so the metric stays recall-of-achievable. At 100 TB this runs
    periodically over a sampled probe set to regression-gate index
    drift (centroid staleness after appends, nprobe sizing) — the same
    sample-probe pattern as the sketch accuracy gates."""
    e = load_table(spark, sf_dir, "embeddings")
    # r14 (guide §2.3, the item-14 shape): per-side norms factored below
    # the corpus x query-sample cross join — one fold per pair remains;
    # operand order matches cosine_sim(cv, qv) bit-for-bit.
    q = e.where(F.col("vec_id") % KNN_QUERY_MOD == 0).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qv"),
        F.sqrt(_dec_dot(F.col("embedding"), F.col("embedding"))).alias("qn"),
    )
    cand = e.select(
        F.col("vec_id").alias("nid"),
        F.col("embedding").alias("cv"),
        F.sqrt(_dec_dot(F.col("embedding"), F.col("embedding"))).alias("cn"),
    )
    ivf_top = _knn_ivfpq_ranked(spark, sf_dir).select(
        "query_id", F.col("neighbor_id").alias("nid")
    )
    return _overlap_recall(_cosine_topk(q, cand), ivf_top, ["query_id"]).orderBy(
        "query_id"
    )


_KNN_ELIGIBLE_SQL = (
    f" AND a.vec_id IN (SELECT doc_id FROM documents WHERE {ANN_FILTER_SQL})"
)


def _knn_allowed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The candidate-eligibility relation of the filtered batch
    retrieval: document ids passing the relational predicate, renamed to
    the vector key (the corpus convention ``doc_id == vec_id``). Only
    ``doc_id`` + the predicate columns are read at the parquet scan."""
    d = load_table(spark, sf_dir, "documents")
    return d.where(ANN_FILTER_SQL).select(F.col("doc_id").alias("vec_id"))


@register(
    "knn_join_ivfpq_filtered",
    bench=True,
    oracle=f"""
WITH {_ivfpq_index_ctes()},
{_knn_ivfpq_ctes(_KNN_ELIGIBLE_SQL)}
SELECT query_id, rnk, neighbor_id, neighbor_label, adc_units, cosine
FROM kranked WHERE rnk <= {KNN_TOPK}
ORDER BY query_id, rnk
""",
)
def knn_join_ivfpq_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metadata-FILTERED batch retrieval through the served residual
    IVF-PQ index — ``ann_filtered_top5``'s production shape graduated to
    the index exactly as ``knn_join_lsh_top3`` graduated to
    ``knn_join_ivfpq_topk``: every query of the set gets its top-k among
    ONLY the vectors whose document passes the relational predicate
    (source + length here; licence, tenant, date in practice). The
    load-bearing order of operations is PRE-filtering at the candidate
    stage: the eligible-id set semi-joins the index's 2-byte-code rows
    BEFORE ADC ranking, so all {KNN_IVFPQ_SHORTLIST} shortlist slots and
    the exact rerank go to eligible vectors — filtering AFTER the
    shortlist would return < k (or zero) rows for any selective
    predicate because ineligible near neighbors squat the shortlist
    (the vector-DB "filtered search" trap, demonstrated concretely by
    the pytest).

    At 100 TB: predicate selectivity and cell pruning MULTIPLY — the
    scan reads nprobe/K of the index files (manifest-header dismissal),
    the semi-join drops ineligible candidates before any distance math
    (AQE broadcasts the id set when the predicate is selective), and
    full vectors are touched only for the eligible shortlist. The
    oracle recomputes trainings, encode, probe assignment, eligibility,
    ADC, shortlist and rerank end to end."""
    return (
        _knn_ivfpq_ranked(spark, sf_dir, allowed=_knn_allowed(spark, sf_dir))
        .select(
            "query_id",
            "rnk",
            "neighbor_id",
            "neighbor_label",
            "adc_units",
            "cosine",
        )
        .orderBy("query_id", "rnk")
    )


@register(
    "knn_ivfpq_filtered_recall",
    oracle=f"""
WITH {_ivfpq_index_ctes()},
{_knn_ivfpq_ctes(_KNN_ELIGIBLE_SQL)},
kexact_f AS (
  SELECT query_id, vec_id FROM (
    SELECT q.query_id, e.vec_id,
           ROW_NUMBER() OVER (PARTITION BY q.query_id ORDER BY
             {_dot_sql("e.embedding", "q.qv")} /
             (SQRT({_dot_sql("e.embedding", "e.embedding")}) * SQRT({_dot_sql("q.qv", "q.qv")})) DESC,
             e.vec_id) AS rnk
    FROM embeddings e
    JOIN (SELECT doc_id FROM documents WHERE {ANN_FILTER_SQL}) al
      ON al.doc_id = e.vec_id, kq q
    WHERE e.vec_id <> q.query_id) z
  WHERE rnk <= {KNN_TOPK})
SELECT x.query_id,
       CAST(COUNT(l.neighbor_id) AS BIGINT) AS n_overlap,
       CAST(COUNT(l.neighbor_id) AS DOUBLE) / COUNT(*) AS recall
FROM kexact_f x
LEFT JOIN (SELECT query_id, neighbor_id FROM kranked
           WHERE rnk <= {KNN_TOPK}) l
  ON l.query_id = x.query_id AND l.neighbor_id = x.vec_id
GROUP BY x.query_id
ORDER BY x.query_id
""",
)
def knn_ivfpq_filtered_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@{KNN_TOPK} of the FILTERED batch retrieval against the
    exact filtered brute force — the quality gate that rides with
    ``knn_join_ivfpq_filtered``. Filtered recall is the metric that
    exposes under-probing: a selective predicate thins each probed
    cell's eligible population, so recall here regression-gates whether
    nprobe/shortlist sizing still holds once eligibility multiplies in
    (vector DBs over-probe or over-fetch for exactly this reason; at
    100 TB this runs over a sampled probe set alongside
    ``knn_ivfpq_recall_at_3`` and the DIFFERENCE between the two curves
    is the predicate's recall cost). Ground truth pre-filters the same
    predicate then ranks exactly — both sides are eligible-only, so the
    metric isolates index approximation, not filter disagreement."""
    e = load_table(spark, sf_dir, "embeddings")
    allowed = _knn_allowed(spark, sf_dir)
    # r14 (guide §2.3, the item-14 shape): per-side norms factored below
    # the eligible-corpus x query-sample cross join — one fold per pair;
    # operand order matches cosine_sim(cv, qv) bit-for-bit.
    q = e.where(F.col("vec_id") % KNN_QUERY_MOD == 0).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qv"),
        F.sqrt(_dec_dot(F.col("embedding"), F.col("embedding"))).alias("qn"),
    )
    cand = e.join(allowed, "vec_id", "left_semi").select(
        F.col("vec_id").alias("nid"),
        F.col("embedding").alias("cv"),
        F.sqrt(_dec_dot(F.col("embedding"), F.col("embedding"))).alias("cn"),
    )
    ivf_top = _knn_ivfpq_ranked(spark, sf_dir, allowed=allowed).select(
        "query_id", F.col("neighbor_id").alias("nid")
    )
    return _overlap_recall(_cosine_topk(q, cand), ivf_top, ["query_id"]).orderBy(
        "query_id"
    )


SQ8_UNIT_SCALE = 10**6  # fixed-point digits for per-element units
SQ8_K = 5  # recall@5

_SQ8_UX = f"""ux AS MATERIALIZED (
  SELECT vec_id,
         [CAST(FLOOR(CAST(embedding[i] AS DOUBLE) * {SQ8_UNIT_SCALE}.0) AS BIGINT)
          FOR i IN RANGE(1, {_PQ_FULL + 1})] AS xu
  FROM embeddings),
sq8dimx AS (
  SELECT u.i AS dim, u.v
  FROM (SELECT UNNEST([{{'i': i, 'v': xu[i]}}
                       FOR i IN RANGE(1, {_PQ_FULL + 1})]) AS u
        FROM ux) z),
sq8mm AS (
  SELECT LIST(mnu ORDER BY dim) AS mns, LIST(rngu ORDER BY dim) AS rngs
  FROM (SELECT dim, MIN(v) AS mnu,
               GREATEST(MAX(v) - MIN(v), 1) AS rngu
        FROM sq8dimx GROUP BY dim) g),
sq8codes AS MATERIALIZED (
  SELECT u.vec_id,
         [LEAST(255, GREATEST(0, ((u.xu[i] - m.mns[i]) * 255) // m.rngs[i]))
          FOR i IN RANGE(1, {_PQ_FULL + 1})] AS qa,
         u.xu
  FROM ux u, sq8mm m),
sq8qs AS (SELECT vec_id AS query_id, qa AS qqa, xu AS qxu
          FROM sq8codes WHERE vec_id % {KNN_QUERY_MOD} = 0)"""


@register(
    "sq8_retrieval_recall",
    oracle=f"""
WITH {_SQ8_UX},
sq8rank AS (
  SELECT query_id, vec_id FROM (
    SELECT q.query_id, c.vec_id,
           ROW_NUMBER() OVER (PARTITION BY q.query_id ORDER BY
             LIST_SUM([(c.qa[i] - q.qqa[i]) * (c.qa[i] - q.qqa[i])
                       FOR i IN RANGE(1, {_PQ_FULL + 1})]),
             c.vec_id) AS rnk
    FROM sq8codes c, sq8qs q WHERE c.vec_id <> q.query_id) z
  WHERE rnk <= {SQ8_K}),
sq8exact AS (
  SELECT query_id, vec_id FROM (
    SELECT q.query_id, c.vec_id,
           ROW_NUMBER() OVER (PARTITION BY q.query_id ORDER BY
             LIST_SUM([(c.xu[i] - q.qxu[i]) * (c.xu[i] - q.qxu[i])
                       FOR i IN RANGE(1, {_PQ_FULL + 1})]),
             c.vec_id) AS rnk
    FROM sq8codes c, sq8qs q WHERE c.vec_id <> q.query_id) z
  WHERE rnk <= {SQ8_K})
SELECT x.query_id,
       CAST(COUNT(l.vec_id) AS BIGINT) AS n_overlap,
       CAST(COUNT(l.vec_id) AS DOUBLE) / COUNT(*) AS recall
FROM sq8exact x
LEFT JOIN sq8rank l
  ON l.query_id = x.query_id AND l.vec_id = x.vec_id
GROUP BY x.query_id
ORDER BY x.query_id
""",
)
def sq8_retrieval_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retrieval recall@{SQ8_K} under trained 8-bit SCALAR quantization
    (FAISS ``IndexScalarQuantizer`` QT_8bit semantics): per-DIMENSION
    min/max trained over the corpus, every vector quantized to
    {_PQ_FULL} one-byte codes, candidates ranked by symmetric
    quantized L2, scored against the exact fixed-point L2 top-{SQ8_K}.
    This row completes the quantization menagerie's decision telemetry:
    ``embedding_quantization`` measures SQ8's RECONSTRUCTION error,
    this measures what retrieval actually pays — and its recall at
    {_PQ_FULL} bytes/vector vs the residual IVF-PQ gates at 2
    bytes/vector is the compression/recall tradeoff a deployment reads
    before choosing an index (SQ8: no codebook training, no probe
    misses, 32× bigger codes; IVF-PQ: 2 bytes + cell pruning, recall
    bounded by nprobe).

    Everything is exact integers end to end — fixed-point units
    (floor(x·1e6)), integer-division quantization with a clamped
    [0,255] range, integer squared distances — so both engines rank
    identically with the vec_id tiebreak; the per-dim min/max training
    is recomputed from scratch by the oracle. Plan: training is one
    posexplode + 64-group aggregate (single corpus pass); the trained
    bounds ride back as ONE array literal (64 ints — the bounded
    driver collect the centroid pattern established); quantization is
    a narrow map; the rank stage is the same broadcast
    query-set × corpus shape every recall gate here uses (at 100 TB the
    gate runs over a sampled probe set; the INDEX answering production
    queries is the IVF-PQ path)."""
    e = load_table(spark, sf_dir, "embeddings")
    ux = e.selectExpr(
        "vec_id",
        f"transform(embedding, x -> CAST(FLOOR(CAST(x AS DOUBLE) * "
        f"{SQ8_UNIT_SCALE}.0) AS BIGINT)) AS xu",
    )
    dims = ux.select(F.posexplode("xu").alias("dim", "v"))
    mm = (
        dims.groupBy("dim")
        .agg(F.min("v").alias("mnu"), F.greatest(
            F.max("v") - F.min("v"), F.lit(1).cast("bigint")
        ).alias("rngu"))
        .orderBy("dim")
        .collect()
    )  # bounded: exactly {_PQ_FULL} rows (the centroid-literal pattern)
    mns = "array(" + ",".join(str(r["mnu"]) + "L" for r in mm) + ")"
    rngs = "array(" + ",".join(str(r["rngu"]) + "L" for r in mm) + ")"
    codes = ux.selectExpr(
        "vec_id",
        f"transform(xu, (x, i) -> CAST(LEAST(255, GREATEST(0, "
        f"((x - element_at({mns}, i + 1)) * 255) DIV "
        f"element_at({rngs}, i + 1))) AS BIGINT)) AS qa",
        "xu",
    )
    qs = codes.where(F.col("vec_id") % KNN_QUERY_MOD == 0).select(
        F.col("vec_id").alias("query_id"),
        F.col("qa").alias("qqa"),
        F.col("xu").alias("qxu"),
    )

    paired = codes.join(F.broadcast(qs)).where(
        F.col("vec_id") != F.col("query_id")
    )
    w = Window.partitionBy("query_id").orderBy("d", "vec_id")

    def top(a: str, b: str) -> DataFrame:
        # top-k by integer squared L2 between the a (corpus) and b (query)
        # unit vectors
        d = F.aggregate(
            F.zip_with(F.col(a), F.col(b), lambda x, y: (x - y) * (x - y)),
            F.lit(0).cast("bigint"),
            lambda acc, t: acc + t,
        )
        return (
            paired.select("query_id", "vec_id", d.alias("d"))
            .select(
                "query_id",
                F.col("vec_id").alias("nid"),
                F.row_number().over(w).alias("rnk"),
            )
            .where(F.col("rnk") <= SQ8_K)
            .select("query_id", "nid")
        )

    return _overlap_recall(
        top("xu", "qxu"), top("qa", "qqa"), ["query_id"]
    ).orderBy("query_id")


@register(
    "pq_train_distortion_curve",
    oracle=f"""
WITH {_pq_trained_ctes()}
{_curve_select_sql('pdist', 'pconv', PQ_TRAIN_ITERS, 'CAST(du AS BIGINT)', 'distortion_units')}
""",
)
def pq_train_distortion_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PQ training loop's own telemetry, oracle-gated: one row per
    Lloyd iteration the engine RAN (the early-stopping loop of
    ``_pq_train``), with the exact integer quantization distortion of
    that iteration's assignment and whether the iteration converged
    (codebook reproduced bit-for-bit — the loop's stop condition). The
    oracle recomputes every iteration and replays the stop from its own
    convergence flags, so row count == iterations run is itself
    verified. Lloyd guarantees the distortion sequence is
    non-increasing (pytest-asserted); this query is how a build
    pipeline decides PQ_TRAIN_ITERS is enough."""
    _, curve, n_iters, converged = _pq_trained(spark, sf_dir)
    rows = [
        (t + 1, int(du), bool(t + 1 == n_iters and converged))
        for t, du in enumerate(curve)
    ]
    return spark.createDataFrame(
        rows, "iter bigint, distortion_units bigint, converged boolean"
    ).orderBy("iter")


@register(
    "ivf_train_distortion_curve",
    oracle=f"""
WITH {_ivf_trained_ctes()}
{_curve_select_sql('idist', 'iconv', IVF_TRAIN_ITERS, 'du', 'distortion')}
""",
)
def ivf_train_distortion_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The coarse-quantizer training telemetry — the IVF twin of
    ``pq_train_distortion_curve``: one row per Lloyd iteration run,
    with the fixed-point-exact distortion (decimal sum of every
    vector's min d2 at 9 digits, the ``dsum`` recipe) and the
    convergence flag. Oracle replays iterations and the early stop."""
    _, curve, n_iters, converged = _ivf_trained(spark, sf_dir)
    rows = [
        (t + 1, float(du), bool(t + 1 == n_iters and converged))
        for t, du in enumerate(curve)
    ]
    return spark.createDataFrame(
        rows, "iter bigint, distortion double, converged boolean"
    ).orderBy("iter")


@register(
    "ivf_trained_recall",
    oracle=f"""
WITH {_ivf_trained_ctes()},
qs AS (
  SELECT vec_id AS qid, embedding AS qv FROM embeddings
  WHERE vec_id >= {IVF_T_K} AND vec_id < {IVF_T_K + IVF_T_NQ}
),
p_seed AS (
  SELECT qid, cid FROM (
    SELECT q.qid, d.cid,
           ROW_NUMBER() OVER (PARTITION BY q.qid ORDER BY d.d2, d.cid) AS rk
    FROM qs q JOIN id0 d ON d.vec_id = q.qid) t
  WHERE rk <= {IVF_T_NPROBE}
),
p_tr AS (
  SELECT qid, cid FROM (
    SELECT q.qid, d.cid,
           ROW_NUMBER() OVER (PARTITION BY q.qid ORDER BY d.d2, d.cid) AS rk
    FROM qs q JOIN id{IVF_TRAIN_ITERS} d ON d.vec_id = q.qid) t
  WHERE rk <= {IVF_T_NPROBE}
),
scored AS (
  SELECT q.qid, e.vec_id,
         ({_dot_sql("e.embedding", "e.embedding")} -
          2.0 * {_dot_sql("e.embedding", "q.qv")} +
          {_dot_sql("q.qv", "q.qv")}) AS d2
  FROM embeddings e JOIN qs q ON e.vec_id <> q.qid
),
c_seed AS (
  SELECT p.qid, a.vec_id FROM p_seed p JOIN ia0 a ON a.cid = p.cid
),
c_tr AS (
  SELECT p.qid, a.vec_id
  FROM p_tr p JOIN ia{IVF_TRAIN_ITERS} a ON a.cid = p.cid
),
t_ex AS (
  SELECT qid, vec_id FROM (
    SELECT qid, vec_id, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY d2, vec_id) AS rk
    FROM scored) t WHERE rk <= {IVF_T_TOPK}
),
t_seed AS (
  SELECT qid, vec_id FROM (
    SELECT s.qid, s.vec_id,
           ROW_NUMBER() OVER (PARTITION BY s.qid ORDER BY s.d2, s.vec_id) AS rk
    FROM scored s JOIN c_seed c ON c.qid = s.qid AND c.vec_id = s.vec_id) t
  WHERE rk <= {IVF_T_TOPK}
),
t_tr AS (
  SELECT qid, vec_id FROM (
    SELECT s.qid, s.vec_id,
           ROW_NUMBER() OVER (PARTITION BY s.qid ORDER BY s.d2, s.vec_id) AS rk
    FROM scored s JOIN c_tr c ON c.qid = s.qid AND c.vec_id = s.vec_id) t
  WHERE rk <= {IVF_T_TOPK}
)
SELECT e.qid,
       CAST(COUNT(i.vec_id) AS BIGINT) AS n_hits_seeded,
       CAST(COUNT(t.vec_id) AS BIGINT) AS n_hits_trained,
       CAST(COUNT(i.vec_id) AS DOUBLE) / {IVF_T_TOPK}.0 AS recall_seeded,
       CAST(COUNT(t.vec_id) AS DOUBLE) / {IVF_T_TOPK}.0 AS recall_trained,
       (SELECT n_iters FROM ivit) AS n_iters
FROM t_ex e
LEFT JOIN t_seed i ON i.qid = e.qid AND i.vec_id = e.vec_id
LEFT JOIN t_tr t ON t.qid = e.qid AND t.vec_id = e.vec_id
GROUP BY e.qid
ORDER BY e.qid
""",
)
def ivf_trained_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF coarse-quantizer TRAINING with a recall gate — the coarse
    half of the index-quality story (``pq_recall_trained_vs_init`` is
    the fine half): multi-iteration exact Lloyd refinement of the
    seeded coarse centroids (``_ivf_train``, to convergence or
    IVF_TRAIN_ITERS — the same trained quantizer ``ivf_cosine_top5`` /
    ``ivf_pq_top5`` and the stored-codes cell column now SERVE), then
    per eval query the recall@k of an nprobe-bounded IVF scan under the
    SEEDED vs the TRAINED quantizer against the exact squared-L2 ground
    truth — the measurement that decides how much k-means compute a
    billion-vector IVF build deserves. ``n_iters`` reports the
    iterations the engine ran; the oracle replays the early stop from
    convergence flags (a converged codebook is a fixed point, so fixed
    SQL depth equals the data-dependent stop). Refinement provably
    descends the quantization objective (``ivf_train_distortion_curve``
    + pytest), but nprobe recall is a property of the DATA — which is
    exactly why a build pipeline runs this eval before spending the
    training compute.

    Exactness: d2 is the fixed-point dot expansion (|e|^2 - 2e.c +
    |c|^2) both engines combine identically; centroid means are
    decimal-fixed-point; every argmin/rank carries a cid/vec_id
    tie-break — the whole eval is oracle-hashable with no RNG.

    Plan: cell assignment is a broadcast join against K=8 centroid
    literals (map-side, the IVF-build shape); candidate generation
    joins the bounded (query, cell) probe relation to the assignment —
    never a corpus cross product; ONE scored relation (corpus x
    queries, eval-bounded) serves ground truth and both variants
    through membership flags, so the heavy fixed-point scoring runs
    once. At 100 TB the training is <= IVF_TRAIN_ITERS linear passes
    (each one assignment scan + one K x dim aggregate — the collected
    model artifact is K rows) and the probed fraction is nprobe/K of
    the corpus per query — the IVF contract. Reference parity:
    extension mandate (LLM-pipeline battery)."""
    e = load_table(spark, sf_dir, "embeddings")
    seeds_rows = (
        e.where(F.col("vec_id") < IVF_T_K)
        .select("vec_id", "embedding")
        .orderBy("vec_id")
        .collect()
    )
    seeds = [[float(x) for x in r["embedding"]] for r in seeds_rows]
    trained, _curve, n_iters, _cvg = _ivf_trained(spark, sf_dir)

    def cents_df(cents):
        return F.broadcast(
            spark.createDataFrame(
                [(i, c) for i, c in enumerate(cents)],
                "cid bigint, cv array<double>",
            )
        )

    def assign(cents):
        # nearest-centroid cell per vector: broadcast K rows, exact d2,
        # struct-min argmin with cid tie-break (the kmeans shape)
        return (
            e.join(cents_df(cents))
            .select(
                "vec_id",
                "cid",
                _d2(F.col("embedding"), F.col("cv")).alias("d2"),
            )
            .groupBy("vec_id")
            .agg(F.min(F.struct("d2", "cid")).alias("m"))
            .select("vec_id", F.col("m.cid").alias("cid"))
        )

    a_seed = assign(seeds)
    a_tr = assign(trained)
    qs = e.where(
        (F.col("vec_id") >= IVF_T_K) & (F.col("vec_id") < IVF_T_K + IVF_T_NQ)
    ).select(F.col("vec_id").alias("qid"), F.col("embedding").alias("qv"))

    def probe(cents):
        # nprobe nearest cells per query — bounded (NQ x K) relation
        w = Window.partitionBy("qid").orderBy("d2", "cid")
        return (
            qs.join(cents_df(cents))
            .select(
                "qid", "cid", _d2(F.col("qv"), F.col("cv")).alias("d2")
            )
            .withColumn("rk", F.row_number().over(w))
            .where(F.col("rk") <= IVF_T_NPROBE)
            .select("qid", "cid")
        )

    c_seed = probe(seeds).join(a_seed, "cid").select("qid", "vec_id")
    c_tr = probe(trained).join(a_tr, "cid").select("qid", "vec_id")
    # ONE exact scoring pass serves ground truth and both variants
    scored = (
        e.join(F.broadcast(qs), F.col("vec_id") != F.col("qid"))
        .select(
            "qid",
            "vec_id",
            _d2(F.col("embedding"), F.col("qv")).alias("d2"),
        )
        .join(
            c_seed.withColumn("in_seed", F.lit(True)),
            ["qid", "vec_id"],
            "left",
        )
        .join(
            c_tr.withColumn("in_tr", F.lit(True)), ["qid", "vec_id"], "left"
        )
    )
    stacked = scored.select(
        "qid",
        "vec_id",
        "d2",
        F.explode(
            F.concat(
                F.array(F.lit("exact")),
                F.when(F.col("in_seed"), F.array(F.lit("seeded"))).otherwise(
                    F.array().cast("array<string>")
                ),
                F.when(F.col("in_tr"), F.array(F.lit("trained"))).otherwise(
                    F.array().cast("array<string>")
                ),
            )
        ).alias("metric"),
    )
    return _stacked_recall(
        stacked, F.asc("d2"), IVF_T_TOPK, ["seeded", "trained"]
    ).withColumn("n_iters", F.lit(int(n_iters)).cast("bigint"))


# ---------------------------------------------------------------------------
# Blue/green retrain cutover for the served index (r12 verdict item 3).
# The pinned-artifacts contract (streaming.incremental_ann_index) makes a
# centroid refresh a NEW bulk build, never a maintainer step; this section
# is the missing last step of that lifecycle: build the retrained lineage
# BESIDE the serving one, prove retrieval quality on the probe set, then
# redirect serving + maintainer in ONE OCC commit on a versioned router
# table — with the old lineage still time-travelable through the router's
# own history.
# ---------------------------------------------------------------------------


# the retrain's Lloyd budget: deeper than the serving lineage's
# (convergence-or-N, fixed-point-safe to replay at fixed depth) — the
# production retrain invests more refinement compute over the full
# corpus, and the cutover gate then PROVES the investment paid off in
# probe-set recall before anything is swapped
GREEN_TRAIN_ITERS = 10


def _fps_seed_vectors(
    spark: SparkSession, e: DataFrame, k: int
) -> list[list[float]]:
    """Deterministic farthest-point seeding (Gonzalez-style 2-approx
    traversal, the derandomized form of k-means++): seed 1 is the
    smallest vec_id's vector; each next seed is the corpus argmax of
    min-d2-to-chosen-seeds (exact fixed-point d2, smallest-vec_id
    tie-break — fully deterministic, so the oracle replays it as a
    chain of argmax CTEs). k−1 linear corpus passes, one 1-row collect
    each; vs first-K seeding this starts Lloyd from spread-out cells,
    which is the measured recall difference the green retrain banks
    (first-K seeds at the deeper budget LOSE to blue at sf0.1)."""
    first = e.orderBy("vec_id").limit(1).collect()[0]
    seeds = [[float(x) for x in first["embedding"]]]
    for _ in range(k - 1):
        dists = [
            _d2(F.col("embedding"), F.array(*[F.lit(v) for v in s]))
            for s in seeds
        ]
        mind = dists[0] if len(dists) == 1 else F.least(*dists)
        r = (
            e.select("vec_id", "embedding", mind.alias("md"))
            .orderBy(F.desc("md"), "vec_id")
            .limit(1)
            .collect()[0]  # bounded: one seed row per pass
        )
        seeds.append([float(x) for x in r["embedding"]])
    return seeds


def _green_artifacts(spark: SparkSession, sf_dir: str):
    """The retrain-candidate artifacts: coarse centroids + residual
    codebook trained over the FULL corpus (blue pinned the pre-ingest
    slice at its bulk build; the ingest arrivals have since landed —
    the situation that triggers a retrain), seeded by deterministic
    farthest-point traversal and refined with the deeper
    GREEN_TRAIN_ITERS Lloyd budget. Both changes are load-bearing:
    measured on this corpus, first-K seeding at the deeper budget wins
    at sf0.01 but LOSES to blue at sf0.1 (0.157 vs 0.193), while the
    spread seeds dominate at every SF — exactly the kind of fact the
    cutover gate exists to catch before a swap."""
    key = _src_token(
        sf_dir,
        f"green|{PQ_SUBVECTORS}x{PQ_CODEBOOK}@{PQ_SCALE}"
        f"|ivf{IVF_T_K}|it{GREEN_TRAIN_ITERS}|fps|full|residual",
    )
    if key not in _TRAINED_CACHE:
        e = load_table(spark, sf_dir, "embeddings")
        seeds = _fps_seed_vectors(spark, e, IVF_T_K)
        cents, _, _, _ = _ivf_train(
            spark, e, iters=GREEN_TRAIN_ITERS, seeds=seeds
        )
        r = _residual_frame(e, cents).select("vec_id", "embedding")
        slices, _, _, _ = _pq_train(r, iters=GREEN_TRAIN_ITERS)
        _TRAINED_CACHE[key] = (cents, slices)
    return _TRAINED_CACHE[key]


def _pq_versioned_index_green(spark: SparkSession, sf_dir: str) -> str:
    """GREEN lineage: the full-corpus retrain, bulk-built at its own
    path beside the serving (blue) lineage — same schema, same
    (cell, vec_id) range-clustering and per-file stats, NEW pinned
    artifacts. Retraining reassigns cells and invalidates blue's stored
    codes, so green shares no artifact with blue by contract; building
    beside (not in place) is what makes the cutover reversible and the
    blue snapshot time-travelable afterwards. Idempotent and
    OCC-protected like the blue build."""
    import hashlib

    from otus_cpp_11_spark.ops.versioned import (
        CommitConflict,
        commit_version,
        current_version,
    )

    token = _src_token(
        sf_dir,
        f"ivfpqvidx-green|{PQ_SUBVECTORS}x{PQ_CODEBOOK}@{PQ_SCALE}"
        f"|ivf{IVF_T_K}|it{GREEN_TRAIN_ITERS}|fps|full|residual",
    )
    digest = hashlib.sha256(token.encode()).hexdigest()[:16]
    path = os.path.join(_artifact_cache_root(), f"ivfpq-vindex-green-{digest}")
    if _TRAINED_CACHE.get(("built", token)):
        return path
    if current_version(spark, path) is None:
        e = load_table(spark, sf_dir, "embeddings")
        cents, slices = _green_artifacts(spark, sf_dir)
        rf = _residual_frame(e, cents)
        try:
            commit_version(
                spark,
                rf.select(
                    "vec_id", "label", "cell", *_pq_code_exprs_slices(slices)
                ).repartitionByRange(IVF_T_K, "cell", "vec_id"),
                path,
                stats_cols=["cell", "vec_id"],
                meta={"stage": "bulk-build", "lineage": "green"},
            )
        except CommitConflict:
            pass  # concurrent builder won with identical content
    _TRAINED_CACHE[("built", token)] = True
    return path


def _knn_mean_recall(
    spark: SparkSession,
    sf_dir: str,
    index_path: str | None = None,
    artifacts=None,
) -> float:
    """Mean recall@{KNN_TOPK} of the given lineage over the probe query
    set vs exact brute force — the cutover gate's scalar. ONE bounded
    driver collect (a single aggregate row); the exact side scores the
    broadcast query set against the corpus in one narrow pass."""
    e = load_table(spark, sf_dir, "embeddings")
    # r13 item 14 (guide §2.3): per-side norms factored out of the
    # corpus x queries exact arm — one decimal fold per pair, operand
    # order of dot/(cn*qn) matches cosine_sim so values (and therefore
    # the recall scalar) are bit-identical
    q = e.where(F.col("vec_id") % KNN_QUERY_MOD == 0).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qv"),
        F.sqrt(_dec_dot(F.col("embedding"), F.col("embedding"))).alias("qn"),
    )
    cand = e.select(
        F.col("vec_id").alias("nid"),
        F.col("embedding").alias("cv"),
        F.sqrt(_dec_dot(F.col("embedding"), F.col("embedding"))).alias("cn"),
    )
    approx = _knn_ivfpq_ranked(
        spark, sf_dir, index_path=index_path, artifacts=artifacts
    ).select("query_id", F.col("neighbor_id").alias("nid"))
    row = _overlap_recall(_cosine_topk(q, cand), approx, []).first()
    return float(row["recall"])


_ROUTER_SCHEMA = "alias string, index_path string, lineage string"


def _ann_router(spark: SparkSession, sf_dir: str) -> str:
    """THE serving pointer: a one-row versioned table mapping the
    serving alias to its index lineage path. Version 1 routes blue (the
    pre-ingest-trained serving lineage); version 2 is the CUTOVER — an
    OCC commit that swaps the row to the green (full-corpus retrain)
    lineage, committed only after the quality gate proves green's
    probe-set recall >= blue's. Because the swap is one commit on one
    table:

    * serving AND maintainer redirect atomically — both resolve the
      lineage through the router row, so no reader can see blue while
      a maintainer feeds green or vice versa;
    * the old lineage stays time-travelable — ``read_version(router,
      1)`` still names blue, whose table is untouched by the swap;
    * a concurrent cutover loses the OCC race loudly (CommitConflict),
      never double-swaps.

    At 100 TB the cutover cost is O(1) metadata: the green build is the
    offline O(corpus) retrain, the gate a sampled probe-set scan, and
    the swap one marker rename. Returns the router table path."""
    import hashlib

    from otus_cpp_11_spark.ops.versioned import (
        CommitConflict,
        commit_version,
        current_version,
    )

    token = _src_token(
        sf_dir,
        f"annrouter|{PQ_SUBVECTORS}x{PQ_CODEBOOK}@{PQ_SCALE}"
        f"|it{PQ_TRAIN_ITERS}|ivf{IVF_T_K}x{IVF_TRAIN_ITERS}"
        f"|incr{PQ_INGEST_MOD}|green{GREEN_TRAIN_ITERS}fps",
    )
    digest = hashlib.sha256(token.encode()).hexdigest()[:16]
    rpath = os.path.join(_artifact_cache_root(), f"ann-router-{digest}")
    if _TRAINED_CACHE.get(("routed", token)):
        return rpath
    blue = _pq_versioned_index(spark, sf_dir)
    if current_version(spark, rpath) is None:
        try:
            commit_version(
                spark,
                spark.createDataFrame(
                    [("ann", blue, "blue")], _ROUTER_SCHEMA
                ).coalesce(1),
                rpath,
                meta={"stage": "serve", "lineage": "blue"},
            )
        except CommitConflict:
            pass
    if current_version(spark, rpath) == 1:
        green = _pq_versioned_index_green(spark, sf_dir)
        recall_blue = _knn_mean_recall(spark, sf_dir)
        recall_green = _knn_mean_recall(
            spark,
            sf_dir,
            index_path=green,
            artifacts=_green_artifacts(spark, sf_dir),
        )
        if recall_green < recall_blue:
            raise AssertionError(
                f"blue/green cutover REFUSED: retrained lineage recall "
                f"{recall_green:.4f} < serving lineage {recall_blue:.4f} "
                "on the probe set — the router keeps serving blue"
            )
        try:
            commit_version(
                spark,
                spark.createDataFrame(
                    [("ann", green, "green")], _ROUTER_SCHEMA
                ).coalesce(1),
                rpath,
                meta={
                    "stage": "cutover",
                    "lineage": "green",
                    "cutover_from": blue,
                    "recall_blue": recall_blue,
                    "recall_green": recall_green,
                },
            )
        except CommitConflict:
            pass  # a concurrent cutover of the same lineage won
    _TRAINED_CACHE[("routed", token)] = True
    return rpath


def _fps_seed_ctes(prefix: str = "g", k: int = IVF_T_K) -> str:
    """Oracle twin of ``_fps_seed_vectors``: a chain of argmax CTEs —
    fs1 is the smallest vec_id's vector; fm{i} maintains each vector's
    min-d2-to-chosen-seeds; fs{i+1} takes the (md DESC, vec_id) argmax.
    Ends with ``{prefix}fseeds`` (cid, cv), the icb0 seed relation the
    green training chain starts from. Same exact d2 recipe as every
    probe relation, so the traversal is cross-engine deterministic."""
    p = prefix
    parts = [
        f"{p}fs1 AS MATERIALIZED (\n"
        f"  SELECT [CAST(x AS DOUBLE) FOR x IN embedding] AS cv\n"
        f"  FROM embeddings\n"
        f"  WHERE vec_id = (SELECT MIN(vec_id) FROM embeddings))",
        f"{p}fm1 AS MATERIALIZED (\n"
        f"  SELECT e.vec_id, e.embedding,\n"
        f"         {_ivf_d2_sql('e.embedding', 's.cv')} AS md\n"
        f"  FROM embeddings e CROSS JOIN {p}fs1 s)",
    ]
    for i in range(2, k + 1):
        parts.append(
            f"{p}fs{i} AS MATERIALIZED (\n"
            f"  SELECT [CAST(x AS DOUBLE) FOR x IN embedding] AS cv\n"
            f"  FROM {p}fm{i - 1} ORDER BY md DESC, vec_id LIMIT 1)"
        )
        if i < k:
            parts.append(
                f"{p}fm{i} AS MATERIALIZED (\n"
                f"  SELECT m.vec_id, m.embedding,\n"
                f"         LEAST(m.md, {_ivf_d2_sql('m.embedding', 's.cv')})"
                f" AS md\n"
                f"  FROM {p}fm{i - 1} m CROSS JOIN {p}fs{i} s)"
            )
    union = " UNION ALL ".join(
        f"SELECT {i - 1} AS cid, cv FROM {p}fs{i}" for i in range(1, k + 1)
    )
    parts.append(f"{p}fseeds AS MATERIALIZED ({union})")
    return ",\n".join(parts)


def _ivfpq_index_ctes_green() -> str:
    """Oracle bundle recomputing the GREEN lineage end to end: IVF
    training over the FULL corpus (prefix 'g' → gitrained; its final
    pass gid{N}/gia{N} already assigns every corpus vector), residuals
    of the full corpus, residual PQ training over them (prefix 'gr' →
    grtrained, whose final pass grpa{N} IS the full-corpus encode). A
    hash match certifies the lineage the router cut over to equals what
    the from-scratch retrain would build — farthest-point seeds
    included (the ``gfs*``/``gfm*`` argmax chain)."""
    n = GREEN_TRAIN_ITERS
    # MATERIALIZED throughout: at this depth DuckDB's CTE inlining
    # re-evaluates each multiply-referenced chain link, going
    # exponential in the iteration count (measured: the 10-deep chain
    # never finished inlined; materialized it runs in seconds)
    return ",\n".join(
        [
            _fps_seed_ctes(prefix="g"),
            _ivf_trained_ctes(
                src="embeddings",
                prefix="g",
                iters=n,
                materialized=True,
                seed_from="gfseeds",
            ),
            f"grsrc AS MATERIALIZED"
            f" ({_residual_src_sql('embeddings', f'gia{n}', 'gitrained')})",
            _pq_trained_ctes(
                src="grsrc", prefix="gr", iters=n, materialized=True
            ),
        ]
    )


def _knn_ivfpq_ctes_green() -> str:
    """The batch-retrieval oracle pipeline through the GREEN lineage
    (gkq..gkranked) — the same stages as ``_KNN_IVFPQ_CTES_T`` with the
    green bundle's relations: probe distances gid{N}, centroids
    gitrained, codebook grtrained, stored codes grpa{N}, cell
    assignment gia{N}."""
    ni = npq = GREEN_TRAIN_ITERS
    return f"""gkq AS MATERIALIZED (
  SELECT vec_id AS query_id, embedding AS qv FROM embeddings
  WHERE vec_id % {KNN_QUERY_MOD} = 0),
gkprobe AS MATERIALIZED (
  SELECT query_id, cell FROM (
    SELECT vec_id AS query_id, cid AS cell,
           ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rk
    FROM gid{ni} WHERE vec_id % {KNN_QUERY_MOD} = 0) z
  WHERE rk <= {KNN_IVFPQ_NPROBE}),
gkqres AS MATERIALIZED (
  SELECT p.query_id, p.cell,
         [CAST(q.qv[i] AS DOUBLE) - c.cv[i]
          FOR i IN RANGE(1, {_PQ_FULL + 1})] AS rv
  FROM gkprobe p JOIN gkq q ON q.query_id = p.query_id
  JOIN gitrained c ON c.cid = p.cell),
gkqd AS MATERIALIZED (
  SELECT r.query_id, r.cell, t.s, t.code,
         LIST_SUM([CAST(FLOOR((r.rv[t.s * {PQ_DSUB} + i] - t.cv[i])
                              * (r.rv[t.s * {PQ_DSUB} + i] - t.cv[i])
                              * {PQ_SCALE}.0) AS DECIMAL(38,0))
                   FOR i IN RANGE(1, {PQ_DSUB + 1})]) AS dist
  FROM gkqres r CROSS JOIN grtrained t),
gkadc AS MATERIALIZED (
  SELECT p.query_id, a.vec_id, CAST(SUM(d.dist) AS BIGINT) AS adc_units
  FROM grpa{npq} a
  JOIN gia{ni} g ON g.vec_id = a.vec_id
  JOIN gkprobe p ON p.cell = g.cid
  JOIN gkqd d ON d.query_id = p.query_id AND d.cell = g.cid
            AND d.s = a.s AND d.code = a.code
  WHERE a.vec_id <> p.query_id
  GROUP BY p.query_id, a.vec_id),
gkshort AS MATERIALIZED (
  SELECT query_id, vec_id, adc_units FROM (
    SELECT query_id, vec_id, adc_units,
           ROW_NUMBER() OVER (PARTITION BY query_id
                              ORDER BY adc_units, vec_id) AS srk
    FROM gkadc) z WHERE srk <= {KNN_IVFPQ_SHORTLIST}),
gkrer AS MATERIALIZED (
  SELECT s.query_id, s.vec_id AS neighbor_id, e.label AS neighbor_label,
         s.adc_units,
         {_dot_sql("e.embedding", "q.qv")} /
         (SQRT({_dot_sql("e.embedding", "e.embedding")}) * SQRT({_dot_sql("q.qv", "q.qv")})) AS cosine
  FROM gkshort s JOIN embeddings e ON e.vec_id = s.vec_id
  JOIN gkq q ON q.query_id = s.query_id),
gkranked AS (
  SELECT query_id, neighbor_id, neighbor_label, adc_units, cosine,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY cosine DESC, neighbor_id) AS rnk
  FROM gkrer)"""


@register(
    "ann_blue_green_cutover",
    # not benched: the query's cost is the OFFLINE green retrain (10
    # Lloyd passes × 2 trainings) + both builds — a per-retrain capital
    # cost, not a serving-path cost; the served retrieval plan it
    # shares with knn_join_ivfpq_topk is already benched there
    oracle=f"""
WITH {_ivfpq_index_ctes()},
{_knn_ivfpq_ctes()},
{_ivfpq_index_ctes_green()},
{_knn_ivfpq_ctes_green()}
SELECT stage, query_id, rnk, neighbor_id, neighbor_label, adc_units, cosine
FROM (
  SELECT 'pre-cutover' AS stage, query_id, rnk, neighbor_id,
         neighbor_label, adc_units, cosine
  FROM kranked WHERE rnk <= {KNN_TOPK}
  UNION ALL
  SELECT 'post-cutover' AS stage, query_id, rnk, neighbor_id,
         neighbor_label, adc_units, cosine
  FROM gkranked WHERE rnk <= {KNN_TOPK}) z
ORDER BY stage, query_id, rnk
""",
)
def ann_blue_green_cutover(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blue/green retrain cutover of the served IVF-PQ index (r12
    verdict item 3), pre AND post retrieval pinned into one row set:
    the green (full-corpus retrain) lineage is bulk-built beside the
    serving blue one, the probe-set recall gate proves green >= blue,
    and ONE OCC commit on the one-row router table swaps serving — the
    maintainer resolves its target through the same row, so the
    redirect is atomic for both faces, and router v1 still names the
    untouched blue lineage (time travel = rollback).

    Output: 'pre-cutover' rows are batch retrieval through the lineage
    router v1 names (blue artifacts + blue index), 'post-cutover' rows
    through the lineage v2 names (green artifacts + green index). The
    oracle recomputes BOTH trainings, both full-corpus encodes, and
    both retrieval pipelines from scratch — a hash match certifies the
    swap served exactly what the retrain built, and the pre rows
    certify the swap left blue serving bit-identical.

    Scale: the build is the offline O(corpus) retrain; the cutover
    commit is O(1) metadata; retrieval through either lineage is the
    ``_knn_ivfpq_ranked`` plan (manifest-pruned 2-byte-code scans,
    shortlist-bounded exact math). Cites the pinned-artifact contract
    at streaming.py (incremental_ann_index): retrain = new lineage."""
    from otus_cpp_11_spark.ops.versioned import read_version, version_header

    rpath = _ann_router(spark, sf_dir)
    pre = read_version(spark, rpath, 1).first()  # bounded: 1-row router
    post = read_version(spark, rpath, 2).first()
    if pre["lineage"] != "blue" or post["lineage"] != "green":
        raise AssertionError("router history does not show the cutover")
    hdr = version_header(spark, rpath, 2)
    if hdr.get("recall_green") is None or (
        hdr["recall_green"] < hdr["recall_blue"]
    ):
        raise AssertionError("cutover commit lacks a passing recall gate")
    cols = [
        "stage", "query_id", "rnk", "neighbor_id", "neighbor_label",
        "adc_units", "cosine",
    ]
    bl = _knn_ivfpq_ranked(
        spark, sf_dir, index_path=pre["index_path"]
    ).select(F.lit("pre-cutover").alias("stage"), *cols[1:])
    gr = _knn_ivfpq_ranked(
        spark,
        sf_dir,
        index_path=post["index_path"],
        artifacts=_green_artifacts(spark, sf_dir),
    ).select(F.lit("post-cutover").alias("stage"), *cols[1:])
    return bl.unionByName(gr).orderBy("stage", "query_id", "rnk")


# ---------------------------------------------------------------------------
# OPQ trained on a planted anisotropic fixture (r12 verdict item 4). The
# corpus itself measures near-isotropic (opq_rotation_gain_probe: ratio
# ~2.3; SCALE.md r12: no rotation beats identity there, so none serves),
# which left the production story "when the probe fires, train a rotation
# we have never written". This section closes it: a DETERMINISTIC
# anisotropic slice (per-dim power-of-two scaling — exact in IEEE, so
# both engines build bit-identical fixtures) makes the probe fire, and
# parametric OPQ is TRAINED on it — the fixture is axis-aligned by
# construction, so the PCA basis is the coordinate basis and the learned
# rotation reduces to the eigenvalue-ALLOCATION permutation (Ge et al.
# CVPR'13 §4: balance per-subvector variance products); the allocation
# is the deterministic serpentine rule over the exact per-dim variances.
# Dominance at equal code bytes is gated by pq_recall_opq_vs_identity
# (measured: recall@5 identity 0.025 vs OPQ 0.20-0.40 across SFs).
# ---------------------------------------------------------------------------

# per-subvector-block decay: dims of block b scaled by 2^(-OPQ_FIX_DECAY*b),
# concentrating nearly all variance in identity-subvector 0 — the layout a
# variance-blind identity split wastes 3 of 4 codebooks on
OPQ_FIX_DECAY = 2


def _opq_fixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, embedding): the planted anisotropic slice — source
    embeddings with dim i scaled by 2^(-{OPQ_FIX_DECAY}·(i // PQ_DSUB)).
    Power-of-two scaling is exact in IEEE doubles, so Spark and DuckDB
    derive bit-identical fixtures from the same parquet."""
    e = load_table(spark, sf_dir, "embeddings")
    return e.select(
        "vec_id",
        F.expr(
            f"transform(embedding, (x, i) -> CAST(x AS DOUBLE) * "
            f"power(CAST(2.0 AS DOUBLE), CAST(-{OPQ_FIX_DECAY} AS DOUBLE)"
            f" * CAST(i div {PQ_DSUB} AS DOUBLE)))"
        ).alias("embedding"),
    )


def _opq_posmap(spark: SparkSession, sf_dir: str) -> list[int]:
    """Parametric-OPQ allocation permutation trained on the fixture:
    exact per-dim variances (the probe's integer recipe), dims ranked
    descending, serpentine-assigned to subvectors so each subvector's
    variance mass balances (the deterministic form of Ge et al.'s
    greedy eigenvalue allocation). Returns posmap[target_position] =
    source dim. The variance collect is 64 rows — one per dimension,
    the codebook-scale bounded artifact."""
    key = _src_token(sf_dir, f"opqperm|{OPQ_FIX_DECAY}|{PQ_DSUB}")
    if key not in _TRAINED_CACHE:
        fx = _opq_fixture(spark, sf_dir)
        rows = (
            fx.select(F.posexplode("embedding").alias("dim", "x"))
            .select(
                "dim",
                F.floor(F.col("x") * F.lit(float(OPQ_VAR_SCALE)))
                .cast("long")
                .alias("xu"),
            )
            .groupBy("dim")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum("xu").alias("s1"),
                F.sum(F.col("xu") * F.col("xu")).alias("s2"),
            )
            .select(
                "dim",
                (F.col("n") * F.col("s2") - F.col("s1") * F.col("s1")).alias(
                    "v"
                ),
            )
            .collect()  # bounded: 64 rows (one per dimension)
        )
        ranked = sorted(rows, key=lambda r: (-int(r["v"]), int(r["dim"])))
        groups: list[list[int]] = [[] for _ in range(PQ_SUBVECTORS)]
        for rank, r in enumerate(ranked):
            blk, p = divmod(rank, PQ_SUBVECTORS)
            s = p if blk % 2 == 0 else PQ_SUBVECTORS - 1 - p
            groups[s].append(int(r["dim"]))
        _TRAINED_CACHE[key] = [d for g in groups for d in g]
    return _TRAINED_CACHE[key]  # type: ignore[return-value]


def _opq_rotated(fx: DataFrame, posmap: list[int]) -> DataFrame:
    """The fixture under the trained rotation (a permutation — the
    axis-aligned parametric-OPQ case): position k takes source dim
    posmap[k]. A 64-element select of element_at lookups — stays in
    whole-stage codegen, no shuffle."""
    return fx.select(
        "vec_id",
        F.array(
            *[
                F.element_at(F.col("embedding"), d + 1)
                for d in posmap
            ]
        ).alias("embedding"),
    )


_OPQ_FIX_SQL = f"""fx AS MATERIALIZED (
  SELECT vec_id,
         [CAST(embedding[i] AS DOUBLE)
          * POWER(CAST(2.0 AS DOUBLE), CAST(-{OPQ_FIX_DECAY} AS DOUBLE)
                  * CAST((i - 1) // {PQ_DSUB} AS DOUBLE))
          FOR i IN RANGE(1, {_PQ_FULL + 1})] AS embedding
  FROM embeddings)"""

_OPQ_PERM_SQL = f"""fdimx AS (
  SELECT u.i - 1 AS dim, CAST(FLOOR(u.v * {OPQ_VAR_SCALE}.0) AS BIGINT) AS xu
  FROM (SELECT UNNEST([{{'i': i, 'v': embedding[i]}}
                       FOR i IN RANGE(1, {_PQ_FULL + 1})]) AS u
        FROM fx) z),
fpv AS (
  SELECT dim, n * s2 - s1 * s1 AS v FROM (
    SELECT dim, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(xu) AS BIGINT) AS s1,
           CAST(SUM(xu * xu) AS BIGINT) AS s2
    FROM fdimx GROUP BY dim) z),
frk AS (SELECT dim, ROW_NUMBER() OVER (ORDER BY v DESC, dim) - 1 AS r
        FROM fpv),
fsnake AS (
  SELECT dim, r,
         CASE WHEN (r // {PQ_SUBVECTORS}) % 2 = 0 THEN r % {PQ_SUBVECTORS}
              ELSE {PQ_SUBVECTORS - 1} - (r % {PQ_SUBVECTORS}) END AS s
  FROM frk),
fpos AS (
  SELECT dim,
         s * {PQ_DSUB}
           + (ROW_NUMBER() OVER (PARTITION BY s ORDER BY r) - 1) AS pos
  FROM fsnake),
fo AS MATERIALIZED (
  SELECT f.vec_id, LIST(f.embedding[p.dim + 1] ORDER BY p.pos) AS embedding
  FROM fx f CROSS JOIN fpos p GROUP BY f.vec_id)"""


@register(
    "opq_aniso_probe_fires",
    oracle=f"""
WITH {_OPQ_FIX_SQL},
{_OPQ_PERM_SQL},
grp AS (
  SELECT CAST(dim // {PQ_DSUB} AS BIGINT) AS subvector,
         CAST(COUNT(*) AS BIGINT) AS n_dims,
         MIN(v) AS v_min, MAX(v) AS v_max, CAST(SUM(v) AS BIGINT) AS v_sum
  FROM fpv GROUP BY 1
  UNION ALL
  SELECT CAST(-1 AS BIGINT), CAST(COUNT(*) AS BIGINT),
         MIN(v), MAX(v), CAST(SUM(v) AS BIGINT)
  FROM fpv
)
SELECT subvector, n_dims, v_min, v_max, v_sum,
       CAST(v_max AS DOUBLE) / CAST(v_min AS DOUBLE) AS anisotropy
FROM grp ORDER BY subvector
""",
)
def opq_aniso_probe_fires(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The decision probe (``opq_rotation_gain_probe``) pointed at the
    planted anisotropic fixture: where the corpus measures overall
    anisotropy ~2.3 (rotation skipped by evidence), the fixture
    measures in the thousands — the trigger condition that makes a
    production deployment train the rotation
    ``pq_recall_opq_vs_identity`` then gates. Subvector grouping is the
    IDENTITY split, so the per-subvector v_sum imbalance also shows
    exactly what a variance-blind split wastes. Same exact-integer
    variance units as the corpus probe (hash-pinned end to end)."""
    fx = _opq_fixture(spark, sf_dir)
    dims = fx.select(F.posexplode("embedding").alias("dim", "x")).select(
        "dim",
        F.floor(F.col("x") * F.lit(float(OPQ_VAR_SCALE)))
        .cast("long")
        .alias("xu"),
    )
    pv = (
        dims.groupBy("dim")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("xu").alias("s1"),
            F.sum(F.col("xu") * F.col("xu")).alias("s2"),
        )
        .select(
            "dim",
            (F.col("n") * F.col("s2") - F.col("s1") * F.col("s1")).alias("v"),
        )
    )

    def agg_of(grouped):
        return grouped.agg(
            F.count(F.lit(1)).alias("n_dims"),
            F.min("v").alias("v_min"),
            F.max("v").alias("v_max"),
            F.sum("v").alias("v_sum"),
        )

    per_sub = agg_of(
        pv.groupBy(F.floor(F.col("dim") / PQ_DSUB).alias("subvector"))
    )
    overall = agg_of(pv.groupBy(F.lit(-1).cast("bigint").alias("subvector")))
    return (
        per_sub.unionByName(overall)
        .select(
            "subvector",
            "n_dims",
            "v_min",
            "v_max",
            "v_sum",
            (F.col("v_max").cast("double") / F.col("v_min").cast("double"))
            .alias("anisotropy"),
        )
        .orderBy("subvector")
    )


_OPQ_QN = PQ_TRAIN_ITERS


@register(
    "pq_recall_opq_vs_identity",
    oracle=f"""
WITH {_OPQ_FIX_SQL},
{_OPQ_PERM_SQL},
{_pq_trained_ctes(src="fx", prefix="fi", materialized=True)},
{_pq_trained_ctes(src="fo", prefix="fopq", materialized=True)},
adc_i AS (
  SELECT d.vec_id AS qid, a.vec_id, CAST(SUM(d.dist) AS DECIMAL(38,0)) AS d
  FROM fipa{_OPQ_QN} a
  JOIN (SELECT * FROM fipd{_OPQ_QN}
        WHERE vec_id >= {PQ_CODEBOOK}
          AND vec_id < {PQ_CODEBOOK + PQ_RQ_N}) d
    ON d.s = a.s AND d.code = a.code
  WHERE a.vec_id <> d.vec_id
  GROUP BY d.vec_id, a.vec_id),
adc_o AS (
  SELECT d.vec_id AS qid, a.vec_id, CAST(SUM(d.dist) AS DECIMAL(38,0)) AS d
  FROM fopqpa{_OPQ_QN} a
  JOIN (SELECT * FROM fopqpd{_OPQ_QN}
        WHERE vec_id >= {PQ_CODEBOOK}
          AND vec_id < {PQ_CODEBOOK + PQ_RQ_N}) d
    ON d.s = a.s AND d.code = a.code
  WHERE a.vec_id <> d.vec_id
  GROUP BY d.vec_id, a.vec_id),
exact AS (
  SELECT q.vec_id AS qid, v.vec_id,
         LIST_SUM([CAST(FLOOR((v.embedding[i] - q.embedding[i])
                              * (v.embedding[i] - q.embedding[i])
                              * {PQ_SCALE}.0) AS DECIMAL(38,0))
                   FOR i IN RANGE(1, {_PQ_FULL + 1})]) AS d
  FROM fx v JOIN fx q
    ON v.vec_id <> q.vec_id
   AND q.vec_id >= {PQ_CODEBOOK} AND q.vec_id < {PQ_CODEBOOK + PQ_RQ_N}),
t_ex AS (
  SELECT qid, vec_id FROM (
    SELECT qid, vec_id,
           ROW_NUMBER() OVER (PARTITION BY qid ORDER BY d, vec_id) AS rk
    FROM exact) t WHERE rk <= {PQ_RQ_K}),
t_id AS (
  SELECT qid, vec_id FROM (
    SELECT qid, vec_id,
           ROW_NUMBER() OVER (PARTITION BY qid ORDER BY d, vec_id) AS rk
    FROM adc_i) t WHERE rk <= {PQ_RQ_K}),
t_oq AS (
  SELECT qid, vec_id FROM (
    SELECT qid, vec_id,
           ROW_NUMBER() OVER (PARTITION BY qid ORDER BY d, vec_id) AS rk
    FROM adc_o) t WHERE rk <= {PQ_RQ_K})
SELECT e.qid,
       CAST(COUNT(i.vec_id) AS BIGINT) AS n_hits_identity,
       CAST(COUNT(o.vec_id) AS BIGINT) AS n_hits_opq,
       CAST(COUNT(i.vec_id) AS DOUBLE) / {PQ_RQ_K}.0 AS recall_identity,
       CAST(COUNT(o.vec_id) AS DOUBLE) / {PQ_RQ_K}.0 AS recall_opq
FROM t_ex e
LEFT JOIN t_id i ON i.qid = e.qid AND i.vec_id = e.vec_id
LEFT JOIN t_oq o ON o.qid = e.qid AND o.vec_id = e.vec_id
GROUP BY e.qid
ORDER BY e.qid
""",
)
def pq_recall_opq_vs_identity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The TRAINED rotation behind the decision probe (r12 verdict item
    4, closing r11 item 5 for real): on the planted anisotropic fixture
    (where ``opq_aniso_probe_fires`` shows ratios in the thousands),
    train parametric OPQ — the serpentine eigenvalue-allocation
    permutation over exact per-dim variances; the fixture is
    axis-aligned so the PCA basis is the coordinate basis and the
    permutation IS the rotation — and gate recall@{PQ_RQ_K} dominance
    at EQUAL code bytes: a {PQ_SUBVECTORS}x{PQ_CODEBOOK} PQ trained on
    the rotated vectors vs one trained on the raw fixture, both ranked
    by stored-code ADC against exact ground truth. Measured: identity
    0.025 vs OPQ 0.20-0.40 mean recall across all three SFs — the
    imbalance the identity split wastes (its subvector 0 holds ~all
    variance) is exactly what the allocation recovers. The oracle
    recomputes the fixture, the variances, the permutation, BOTH
    trainings, and both rankings from scratch, so the hash certifies
    the served rotation equals the trained one; dominance itself is
    additionally pytest-gated (``tests/test_opq_fixture.py``).

    Plan: ONE Arrow-vectorized fixture pass scores exact + both ADC
    metrics per (query, candidate) — the ``pq_recall_trained_vs_init``
    shape; rotation application is a 64-element in-plan permutation
    select (exact, no float churn); training is {_OPQ_QN} exact Lloyd
    passes per side. At 100 TB: same linear-pass economics as the
    trained-vs-init gate, plus one bounded 64-row variance collect."""
    fx = _opq_fixture(spark, sf_dir)
    posmap = _opq_posmap(spark, sf_dir)
    fo = _opq_rotated(fx, posmap)
    ki = _src_token(sf_dir, f"opqcb-id|{OPQ_FIX_DECAY}|{_OPQ_QN}")
    ko = _src_token(sf_dir, f"opqcb-rot|{OPQ_FIX_DECAY}|{_OPQ_QN}")
    if ki not in _TRAINED_CACHE:
        _TRAINED_CACHE[ki] = _pq_train(fx)
    if ko not in _TRAINED_CACHE:
        _TRAINED_CACHE[ko] = _pq_train(fo)
    cb_i, _, _, _ = _TRAINED_CACHE[ki]
    cb_o, _, _, _ = _TRAINED_CACHE[ko]
    qids, qmat = _pq_eval_queries(fx)
    scored = _pq_adc_scored(
        fx,
        qids,
        qmat,
        [("identity", cb_i, _PQ_IDENTITY), ("opq", cb_o, posmap)],
    )
    return _stacked_recall(scored, F.asc("d"), PQ_RQ_K, ["identity", "opq"])


# ---------------------------------------------------------------------------
# SQL face of the serving path (r12 verdict stretch item 8): the batch
# retrieval relation registered as a temp view, so the engine's ANSI-SQL
# corpus composes with retrieval in plain spark.sql text. No Catalyst
# extension is needed — the _knn_ivfpq_ranked DataFrame IS the logical
# plan, and createOrReplaceTempView puts it in the catalog under the name
# the SQL text joins against; Catalyst then optimizes the composed plan
# (the documents join broadcast-joins the small enriched side) exactly as
# it does for the hand-built plans.
# ---------------------------------------------------------------------------

ANN_TOPK_VIEW = "ann_topk"


def register_retrieval_view(
    spark: SparkSession, sf_dir: str, view: str = ANN_TOPK_VIEW
) -> None:
    """Register the served batch-retrieval relation (query_id, rnk,
    neighbor_id, neighbor_label, adc_units, cosine) as temp view
    ``view`` — the SIMILAR_TO_TOPK-style SQL surface. The view is lazy:
    each SQL query that references it plans against the CURRENT served
    index snapshot through the full `_knn_ivfpq_ranked` engine
    (manifest-pruned cell scans, ADC shortlist, exact rerank)."""
    _knn_ivfpq_ranked(spark, sf_dir).createOrReplaceTempView(view)


# the composed tail runs VERBATIM on both engines — one string, two
# catalogs; only the ann_topk relation's provenance differs (served
# index vs from-scratch oracle recompute)
_ANN_SQL_TAIL = f"""SELECT k.query_id, k.rnk, k.neighbor_id, k.cosine,
       d.source AS neighbor_source, d.lang AS neighbor_lang,
       d.n_chars AS neighbor_chars
FROM {ANN_TOPK_VIEW} k
JOIN documents d ON d.doc_id = k.neighbor_id
ORDER BY k.query_id, k.rnk"""


@register(
    "sql_api_ann_enriched",
    oracle=f"""
WITH {_ivfpq_index_ctes()},
{_knn_ivfpq_ctes()},
{ANN_TOPK_VIEW} AS (
  SELECT query_id, rnk, neighbor_id, neighbor_label, adc_units, cosine
  FROM kranked WHERE rnk <= {KNN_TOPK})
{_ANN_SQL_TAIL}
""",
)
def sql_api_ann_enriched(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retrieval composed with the SQL corpus IN SQL (r12 stretch item
    8): the served index's batch top-k, registered as the ``ann_topk``
    temp view, joined to ``documents`` in plain ANSI text to enrich
    each neighbor with its document metadata — the RAG-backfill shape
    (retrieve, then hydrate) written the way an analyst would write it.
    The tail SQL is byte-identical on both engines; the oracle derives
    ``ann_topk`` by recomputing both trainings, the whole-corpus
    encode, and the retrieval pipeline from scratch, so the hash
    certifies the SQL face serves exactly the engine's retrieval.

    Plan: Catalyst receives the composed plan (view inlined), keeps the
    retrieval engine's manifest-pruned scans intact, and broadcast-
    joins documents onto the k·N-row result — the view adds zero
    execution surface of its own."""
    from otus_cpp_11_spark.catalog import register_views

    register_views(spark, sf_dir)
    register_retrieval_view(spark, sf_dir)
    return spark.sql(_ANN_SQL_TAIL)
