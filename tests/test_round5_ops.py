"""Round-5 mid-round operators: Gopher rule battery (planted edge docs, one
per rule), DSIR importance weights (separable planted vocabularies), and the
blocked k-NN join (brute-force within-bucket equivalence + plan shape)."""

from __future__ import annotations

import math

import pytest

SF_SMOKE = "/root/testdata/sf0.001"


def _write_docs(spark, tmp_path, rows):
    """Plant a documents.parquet with the production schema so the query
    under test runs its real end-to-end path (load_table included)."""
    df = spark.createDataFrame(
        [(i, t, lang, "src0", len(t)) for i, (t, lang) in enumerate(rows)],
        ["doc_id", "text", "lang", "source", "n_chars"],
    )
    df.coalesce(1).write.mode("overwrite").parquet(
        str(tmp_path / "documents.parquet")
    )
    return str(tmp_path)


class TestGopherRules:
    def test_each_rule_fires_on_its_planted_doc(self, spark, tmp_path):
        from otus_cpp_11_spark.queries.text import doc_gopher_rules

        good = "the quick brown fox jumps over the lazy dog and then " + (
            "word " * 40
        ).strip()
        rows = [
            (good, "en"),                               # 0: passes everything
            ("the of short", "en"),                     # 1: too few words
            (("supercalifragilistic " * 50).strip() + " the of", "en"),  # 2: mean len
            (good + " " + ("# " * 20).strip(), "en"),   # 3: symbol ratio
            (("1 2 3 4 5 " * 10).strip() + " the of", "en"),  # 4: alpha frac
            (("word " * 50).strip(), "en"),             # 5: no stopwords
        ]
        out = {
            r.doc_id: r
            for r in doc_gopher_rules(spark, _write_docs(spark, tmp_path, rows))
            .collect()
        }
        assert out[0].gopher_pass
        assert not out[1].rule_word_count and not out[1].gopher_pass
        assert not out[2].rule_mean_word_len and not out[2].gopher_pass
        assert not out[3].rule_symbol_ratio and not out[3].gopher_pass
        assert not out[4].rule_alpha_frac and not out[4].gopher_pass
        assert not out[5].rule_stopwords and not out[5].gopher_pass
        # the distinguishing rule is the ONLY failing rule on docs 3-5
        # (each planted doc isolates one signal)
        assert out[3].rule_word_count and out[3].rule_mean_word_len
        assert out[4].rule_word_count and out[4].rule_stopwords
        assert out[5].rule_word_count and out[5].rule_alpha_frac

    def test_signal_arithmetic(self, spark, tmp_path):
        from otus_cpp_11_spark.queries.text import doc_gopher_rules

        rows = [("aa bbb # ... the", "en")]
        r = doc_gopher_rules(spark, _write_docs(spark, tmp_path, rows)).collect()[0]
        assert r.n_words == 5
        # '#' and '...' both count as words AND as symbols by design
        assert r.n_word_chars == len("aabbb#...the")
        assert r.n_symbols == 2
        assert r.n_alpha_words == 3
        assert r.n_stop == 1


class TestDsirWeights:
    def test_target_like_docs_score_higher(self, spark, tmp_path):
        """Separable vocabularies: en docs draw from {alpha..}, others from
        {zeta..}. Every en doc's features live in target-heavy buckets, so
        its mean ratio must exceed every non-en doc's."""
        from otus_cpp_11_spark.queries.curation import doc_dsir_weights

        en = "alpha beta gamma delta epsilon alpha beta gamma"
        de = "zeta eta theta iota kappa zeta eta theta"
        rows = [(en, "en")] * 4 + [(de, "de")] * 4
        out = doc_dsir_weights(spark, _write_docs(spark, tmp_path, rows)).collect()
        en_means = [r.mean_units for r in out if r.doc_id < 4]
        de_means = [r.mean_units for r in out if r.doc_id >= 4]
        assert min(en_means) > max(de_means)

    def test_feature_count_is_unigrams_plus_bigrams(self, spark, tmp_path):
        from otus_cpp_11_spark.queries.curation import doc_dsir_weights

        rows = [("a b c d", "en"), ("solo", "en"), ("", "en")]
        out = {
            r.doc_id: r
            for r in doc_dsir_weights(
                spark, _write_docs(spark, tmp_path, rows)
            ).collect()
        }
        assert out[0].n_feats == 4 + 3
        assert out[1].n_feats == 1
        # empty doc: zero-filled, not dropped
        assert out[2].n_feats == 0 and out[2].dsir_units == 0
        assert out[2].mean_units is None


class TestKnnJoin:
    def test_matches_brute_force_within_buckets(self, spark):
        """Replicate bucket assignment + fixed-point cosine in numpy over
        the full sf0.001 table and check the join returns exactly the
        brute-force within-bucket top-3 per query."""
        import numpy as np

        from otus_cpp_11_spark.queries.similarity import (
            KNN_QUERY_MOD,
            KNN_TOPK,
            _SCALE,
            _hyperplanes,
            knn_join_lsh_top3,
        )

        rows = (
            spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
            .select("vec_id", "embedding")
            .collect()
        )
        vecs = {r.vec_id: np.array(r.embedding, dtype=np.float64) for r in rows}
        planes = [np.array(p) for p in _hyperplanes()]

        def fdot(a, b):
            return math.fsum(
                float(np.floor(x * y * _SCALE)) for x, y in zip(a, b)
            ) / _SCALE

        def bucket(v):
            return sum(
                (1 << k) for k, p in enumerate(planes) if fdot(v, p) > 0
            )

        buckets = {vid: bucket(v) for vid, v in vecs.items()}
        expect = {}
        for qid, qv in vecs.items():
            if qid % KNN_QUERY_MOD:
                continue
            cands = []
            for vid, v in vecs.items():
                if vid == qid or buckets[vid] != buckets[qid]:
                    continue
                cos = fdot(v, qv) / (
                    math.sqrt(fdot(v, v)) * math.sqrt(fdot(qv, qv))
                )
                cands.append((-cos, vid))
            cands.sort()
            expect[qid] = [vid for _, vid in cands[:KNN_TOPK]]

        got = {}
        for r in knn_join_lsh_top3(spark, SF_SMOKE).collect():
            got.setdefault(r.query_id, []).append(r.neighbor_id)
        assert got == {q: n for q, n in expect.items() if n}

    def test_plan_is_equi_join_not_cartesian(self, spark):
        from otus_cpp_11_spark.queries.similarity import knn_join_lsh_top3

        plan = knn_join_lsh_top3(spark, SF_SMOKE)._jdf.queryExecution().executedPlan().toString()
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan


class TestCmsHeavyHitters:
    def test_planted_counts_and_overestimate_invariant(self, spark, tmp_path):
        from otus_cpp_11_spark.queries.curation import term_cms_heavy_hitters

        rows = [("a a a b b c", "en"), ("a b c d", "en")]
        out = term_cms_heavy_hitters(
            spark, _write_docs(spark, tmp_path, rows)
        ).collect()
        by_tok = {r.tok: r for r in out}
        assert by_tok["a"].exact_cnt == 4
        assert by_tok["b"].exact_cnt == 3
        assert by_tok["c"].exact_cnt == 2
        assert by_tok["d"].exact_cnt == 1
        assert all(r.never_underestimates for r in out)
        # output is rank-ordered: exact_cnt descending, token tie-break
        keys = [(-r.exact_cnt, r.tok) for r in out]
        assert keys == sorted(keys)

    def test_estimates_exact_without_collisions(self, spark, tmp_path):
        """With fewer distinct tokens than any row's width, collisions are
        possible but estimate-min over 4 independent rows should still be
        >= exact; when NO two planted tokens share a bucket in some row,
        the min equals the exact count."""
        from otus_cpp_11_spark.queries.curation import (
            CMS_DEPTH,
            CMS_WIDTH,
            term_cms_heavy_hitters,
        )
        import hashlib

        toks = ["w%d" % i for i in range(8)]

        def bucket(r, t):
            return int(hashlib.md5(f"{r}:{t}".encode()).hexdigest()[6:8], 16) % CMS_WIDTH

        collision_free_rows = [
            r
            for r in range(CMS_DEPTH)
            if len({bucket(r, t) for t in toks}) == len(toks)
        ]
        assert collision_free_rows, "8 tokens in 256 buckets: expected a clean row"
        rows = [(" ".join(toks), "en")]
        out = term_cms_heavy_hitters(
            spark, _write_docs(spark, tmp_path, rows)
        ).collect()
        assert all(r.cms_estimate == r.exact_cnt for r in out)


class TestZorderCells:
    def test_cell_extents_and_interleave_roundtrip(self, spark):
        from otus_cpp_11_spark.queries.sampling import (
            Z_BITS,
            lineitem_zorder_cells,
        )

        cells = lineitem_zorder_cells(spark, SF_SMOKE).collect()
        assert 0 < len(cells) <= (2**Z_BITS) ** 2

        li = spark.read.parquet(f"{SF_SMOKE}/lineitem.parquet")
        import pyspark.sql.functions as F

        mx = li.agg(F.max("l_partkey"), F.max("l_suppkey")).collect()[0]
        max_pk, max_sk = mx[0], mx[1]

        def deinterleave(z):
            px = py = 0
            for i in range(Z_BITS):
                px |= ((z >> (2 * i + 1)) & 1) << i
                py |= ((z >> (2 * i)) & 1) << i
            return px, py

        for c in cells:
            px, py = deinterleave(c.zval)
            # every key inside the cell must bucket back to (px, py):
            # the tight-rectangle property file skipping relies on
            assert (c.min_pk * 2**Z_BITS) // (max_pk + 1) == px
            assert (c.max_pk * 2**Z_BITS) // (max_pk + 1) == px
            assert (c.min_sk * 2**Z_BITS) // (max_sk + 1) == py
            assert (c.max_sk * 2**Z_BITS) // (max_sk + 1) == py

    def test_conjunctive_predicate_hits_one_cell(self, spark):
        """A 2-D point predicate maps to exactly one z-cell — the pruning
        guarantee a z-ordered layout provides to conjunctive filters."""
        from otus_cpp_11_spark.queries.sampling import lineitem_zorder_cells

        cells = lineitem_zorder_cells(spark, SF_SMOKE).collect()
        probe_pk, probe_sk = cells[0].min_pk, cells[0].min_sk
        hits = [
            c
            for c in cells
            if c.min_pk <= probe_pk <= c.max_pk
            and c.min_sk <= probe_sk <= c.max_sk
        ]
        assert cells[0].zval in {c.zval for c in hits}
        # rectangles from DIFFERENT (px,py) buckets can't contain the probe
        from otus_cpp_11_spark.queries.sampling import Z_BITS

        assert len(hits) <= 4  # overlap only via shared bucket boundaries


class TestLeakageSafeSplit:
    def test_near_dup_pairs_never_straddle_folds(self, spark):
        from otus_cpp_11_spark.queries.dedup import (
            leakage_safe_split,
            near_dup_pairs_minhash,
        )

        split = {
            r.doc_id: r.split
            for r in leakage_safe_split(spark, SF_SMOKE).collect()
        }
        pairs = near_dup_pairs_minhash(spark, SF_SMOKE).collect()
        for p in pairs:
            assert split[p.doc_a] == split[p.doc_b], (p.doc_a, p.doc_b)
        # both folds exist and every doc is assigned exactly once
        assert set(split.values()) <= {"train", "val"}
        n_docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet").count()
        assert len(split) == n_docs

    def test_fold_is_group_deterministic(self, spark):
        """Same group key -> same fold, independent of the doc's own id
        (the property per-doc hashing lacks)."""
        from otus_cpp_11_spark.queries.dedup import leakage_safe_split

        rows = leakage_safe_split(spark, SF_SMOKE).collect()
        by_group = {}
        for r in rows:
            by_group.setdefault(r.group_key, set()).add(r.split)
        assert all(len(s) == 1 for s in by_group.values())


def _curation_funnel_observed(spark, sf_dir):
    """A quality-gated curation funnel whose stage accounting (docs and
    tokens in, docs and tokens kept) rides the SAME job as the result:
    Spark ``Observation``s attached in the lazy plan are computed by the
    query's own tasks, so the counts cost no extra scan. The gate is
    doc_quality_score's heuristic (same tokenizer and thresholds).
    Returns (per-source result, {"input": obs, "kept": obs}); read each
    ``obs.get`` after the first action on the result."""
    import pyspark.sql.functions as F
    from pyspark.sql import Observation

    from otus_cpp_11_spark.catalog import load_table
    from otus_cpp_11_spark.queries.text import (
        QUALITY_MIN_STOP_RATIO,
        QUALITY_MIN_TOKENS,
        STOPWORDS,
        _tokens,
    )

    def observed(df, name):
        obs = Observation(name)
        return df.observe(
            obs, F.count(F.lit(1)).alias("n_docs"), F.sum("n_tokens").alias("n_tokens")
        ), obs

    toks = _tokens()
    scored, obs_in = observed(
        load_table(spark, sf_dir, "documents").select(
            "doc_id",
            "source",
            F.size(toks).alias("n_tokens"),
            F.size(F.filter(toks, lambda x: x.isin([*STOPWORDS]))).alias("n_stop"),
        ),
        "curation_input",
    )
    kept, obs_kept = observed(
        scored.where(
            (F.col("n_tokens") >= QUALITY_MIN_TOKENS)
            & (
                F.col("n_stop").cast("double") / F.col("n_tokens")
                >= QUALITY_MIN_STOP_RATIO
            )
        ),
        "curation_kept",
    )
    result = (
        kept.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs_kept"),
            F.sum("n_tokens").alias("total_tokens"),
        )
        .orderBy("source")
    )
    return result, {"input": obs_in, "kept": obs_kept}


class TestObservedFunnel:
    def test_metrics_ride_the_single_action(self, spark):
        """Observation metrics must equal independently recomputed stage
        counts, and both stages' metrics arrive from ONE action on the
        final frame (no per-metric re-scan jobs)."""
        import pyspark.sql.functions as F

        result, obs = _curation_funnel_observed(spark, SF_SMOKE)
        rows = result.collect()  # the one action

        got_in, got_kept = obs["input"].get, obs["kept"].get

        d = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
        toks = F.filter(F.split(F.col("text"), " "), lambda x: x != F.lit(""))
        scored = d.select(
            F.size(toks).alias("n_tokens"),
            F.size(
                F.filter(
                    toks,
                    lambda x: x.isin(
                        ["the", "a", "and", "of", "to", "in", "is", "for"]
                    ),
                )
            ).alias("n_stop"),
        )
        exp_in = scored.agg(
            F.count(F.lit(1)), F.sum("n_tokens")
        ).collect()[0]
        kept = scored.where(
            (F.col("n_tokens") >= 20)
            & (F.col("n_stop").cast("double") / F.col("n_tokens") >= 0.05)
        )
        exp_kept = kept.agg(F.count(F.lit(1)), F.sum("n_tokens")).collect()[0]

        assert (got_in["n_docs"], got_in["n_tokens"]) == tuple(exp_in)
        assert (got_kept["n_docs"], got_kept["n_tokens"]) == tuple(exp_kept)
        # funnel shape: kept <= input; result rows aggregate the kept set
        assert got_kept["n_docs"] <= got_in["n_docs"]
        assert sum(r.n_docs_kept for r in rows) == got_kept["n_docs"]
        assert sum(r.total_tokens for r in rows) == got_kept["n_tokens"]


class TestKnnRecall:
    def test_recall_matches_set_intersection(self, spark):
        """recall@k must equal |lsh_top ∩ exact_top| / k computed from
        the already-equivalence-tested knn join and a brute-force exact
        ranking (reusing the fixed-point numpy model)."""
        import numpy as np

        from otus_cpp_11_spark.queries.similarity import (
            KNN_QUERY_MOD,
            KNN_TOPK,
            _SCALE,
            _hyperplanes,
            knn_join_lsh_top3,
            knn_recall_at_3,
        )

        rows = (
            spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
            .select("vec_id", "embedding")
            .collect()
        )
        vecs = {r.vec_id: np.array(r.embedding, dtype=np.float64) for r in rows}

        def fdot(a, b):
            return math.fsum(
                float(np.floor(x * y * _SCALE)) for x, y in zip(a, b)
            ) / _SCALE

        exact_top = {}
        for qid, qv in vecs.items():
            if qid % KNN_QUERY_MOD:
                continue
            scored = sorted(
                (
                    (-fdot(v, qv) / (math.sqrt(fdot(v, v)) * math.sqrt(fdot(qv, qv))), vid)
                    for vid, v in vecs.items()
                    if vid != qid
                ),
            )
            exact_top[qid] = {vid for _, vid in scored[:KNN_TOPK]}

        lsh_top = {}
        for r in knn_join_lsh_top3(spark, SF_SMOKE).collect():
            lsh_top.setdefault(r.query_id, set()).add(r.neighbor_id)

        out = {r.query_id: r for r in knn_recall_at_3(spark, SF_SMOKE).collect()}
        assert set(out) == set(exact_top)
        for qid, r in out.items():
            want = len(exact_top[qid] & lsh_top.get(qid, set()))
            assert r.n_overlap == want, (qid, r.n_overlap, want)
            assert r.recall == want / KNN_TOPK
            assert 0 <= r.recall <= 1


class TestZorderPruning:
    def test_zordered_partition_layout_prunes_2d_predicate(self, spark, tmp_path):
        """The full z-order loop: write the fact z-bucketed (zval as the
        partition key), translate a 2-D key rectangle into its candidate
        z-cells on the driver (bounded: <= 256 cells), and assert the
        scan partition-prunes to those cells — file skipping a
        single-column sort cannot give on the second dimension."""
        import pyspark.sql.functions as F

        from otus_cpp_11_spark.queries.sampling import Z_BITS, _z_interleave

        li = spark.read.parquet(f"{SF_SMOKE}/lineitem.parquet")
        mx = li.agg(F.max("l_partkey"), F.max("l_suppkey")).collect()[0]
        max_pk, max_sk = mx[0], mx[1]
        bucketed = li.select(
            "l_partkey",
            "l_suppkey",
            F.expr(f"(l_partkey * {2 ** Z_BITS}) div ({max_pk} + 1)").alias("px"),
            F.expr(f"(l_suppkey * {2 ** Z_BITS}) div ({max_sk} + 1)").alias("py"),
        ).select("l_partkey", "l_suppkey", _z_interleave("px", "py").alias("zval"))
        path = str(tmp_path / "li_z")
        bucketed.write.mode("overwrite").partitionBy("zval").parquet(path)

        # rectangle = one (px, py) bucket -> exactly one candidate z-cell
        def interleave(px, py):
            z = 0
            for i in range(Z_BITS):
                z |= ((px >> i) & 1) << (2 * i + 1)
                z |= ((py >> i) & 1) << (2 * i)
            return z

        px, py = 3, 7
        zcell = interleave(px, py)
        lo_pk = -(-(px * (max_pk + 1)) // (2 ** Z_BITS))  # ceil
        hi_pk = ((px + 1) * (max_pk + 1)) // (2 ** Z_BITS) - 1
        lo_sk = -(-(py * (max_sk + 1)) // (2 ** Z_BITS))
        hi_sk = ((py + 1) * (max_sk + 1)) // (2 ** Z_BITS) - 1

        scan = (
            spark.read.parquet(path)
            .where(F.col("zval") == zcell)
            .where(F.col("l_partkey").between(lo_pk, hi_pk))
            .where(F.col("l_suppkey").between(lo_sk, hi_sk))
        )
        plan = scan._jdf.queryExecution().executedPlan().toString()
        assert "PartitionFilters" in plan and "zval" in plan

        # pruned read returns exactly the rectangle's rows
        expect = li.where(
            F.col("l_partkey").between(lo_pk, hi_pk)
            & F.col("l_suppkey").between(lo_sk, hi_sk)
        ).count()
        assert scan.count() == expect
