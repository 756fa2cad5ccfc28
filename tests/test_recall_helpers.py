"""The shared recall-gate helpers on hand-built frames: the
recall-of-achievable denominator of the overlap join, and the
stacked-metric path keeping a query row for a variant with no hits."""

from __future__ import annotations

from pyspark.sql import functions as F

from otus_cpp_11_spark.queries.similarity import (
    KNN_TOPK,
    _cosine_topk,
    _dec_dot,
    _overlap_recall,
    _stacked_recall,
)


def test_overlap_recall_divides_by_exact_neighbor_count(spark):
    # a 3-vector corpus leaves the query KNN_TOPK - 1 = 2 exact neighbors
    e = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.8, 0.6]), (3, [0.0, 1.0])],
        "vec_id bigint, embedding array<float>",
    )
    norm = F.sqrt(_dec_dot(F.col("embedding"), F.col("embedding")))
    q = e.where("vec_id = 1").select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qv"),
        norm.alias("qn"),
    )
    cand = e.select(
        F.col("vec_id").alias("nid"),
        F.col("embedding").alias("cv"),
        norm.alias("cn"),
    )
    exact = _cosine_topk(q, cand)
    assert sorted(r.nid for r in exact.collect()) == [2, 3]
    assert KNN_TOPK == 3
    approx = spark.createDataFrame(
        [(1, 2), (1, 8), (1, 9)], "query_id bigint, nid bigint"
    )
    per_query = _overlap_recall(exact, approx, ["query_id"]).collect()
    # 1 of the 2 achievable neighbors: 0.5, not 1 / KNN_TOPK
    assert [(r.query_id, r.n_overlap, r.recall) for r in per_query] == [
        (1, 1, 0.5)
    ]
    assert _overlap_recall(exact, approx, []).first().recall == 0.5


def test_stacked_recall_keeps_rows_of_variants_without_hits(spark):
    ranked = {
        (1, "exact"): [10, 11, 12],
        (1, "a"): [10, 12, 11],
        (1, "b"): [13, 14, 10],
        (2, "exact"): [20, 21, 22],
        (2, "a"): [23, 24, 20],
        (2, "b"): [21, 20, 23],
    }
    scored = spark.createDataFrame(
        [
            (qid, vec_id, metric, d)
            for (qid, metric), ids in ranked.items()
            for d, vec_id in enumerate(ids)
        ],
        "qid bigint, vec_id bigint, metric string, d bigint",
    )
    out = _stacked_recall(scored, F.asc("d"), 2, ["a", "b"])
    assert out.columns == ["qid", "n_hits_a", "n_hits_b", "recall_a", "recall_b"]
    assert [tuple(r) for r in out.collect()] == [
        (1, 1, 0, 0.5, 0.0),
        (2, 0, 2, 0.0, 1.0),
    ]
