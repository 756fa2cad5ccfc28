"""Text-analysis operators over the documents table (driver extension
mandate: language-ID, quality scoring, token counting, fingerprinting —
SURVEY.md §2.2 'extension operators'). All pure Column expressions — JVM-side
whole-stage codegen; no Python in the hot path.

Determinism notes: every ratio is an int/int division in double (identical
IEEE results in Spark and DuckDB); regexes stick to ASCII classes shared by
Java regex and RE2.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from otus_cpp_11_spark.catalog import load_table, spread
from otus_cpp_11_spark.ops.skew import salted_topk
from otus_cpp_11_spark.queries.dedup import _SIMHASH_SQL, _normalized
from otus_cpp_11_spark.queries.similarity import _dot_sql
from otus_cpp_11_spark.registry import register

STOPWORDS = ("the", "a", "and", "of", "to", "in", "is", "for")
_STOP_SQL = ", ".join(f"'{w}'" for w in STOPWORDS)

# The C4-style quality gate, importable so instrumented pipelines
# (the observed funnel in tests/test_round5_ops.py) gate with EXACTLY the
# thresholds this query verifies.
QUALITY_MIN_TOKENS = 20
QUALITY_MIN_STOP_RATIO = 0.05


def _tokens(col: str = "text"):
    """Whitespace tokens with empties dropped (lecture normalize+tokenize,
    description/MapReduce.cpp:91-102)."""
    return F.filter(F.split(F.col(col), " "), lambda x: x != F.lit(""))


@register(
    "doc_token_stats",
    oracle=f"""
SELECT doc_id,
       LEN(list_filter(string_split(text, ' '), x -> x <> ''))  AS n_tokens,
       LEN(regexp_extract_all(text, '[a-z]+|[0-9]+'))           AS n_word_pieces,
       LENGTH(text)                                             AS n_chars_measured
FROM documents
ORDER BY doc_id
""",
)
def doc_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting: whitespace tokens + a regex word-piece count (the
    BPE-ish pretokenizer shape) + char length, per document."""
    d = load_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.size(_tokens()).alias("n_tokens"),
        F.size(F.regexp_extract_all("text", F.lit("[a-z]+|[0-9]+"), 0)).alias(
            "n_word_pieces"
        ),
        F.length("text").alias("n_chars_measured"),
    ).orderBy("doc_id")


@register(
    "doc_quality_score",
    oracle=f"""
WITH t AS (
  SELECT doc_id,
         LENGTH(text) AS n_chars,
         LEN(list_filter(string_split(text, ' '), x -> x <> '')) AS n_tokens,
         LEN(list_filter(string_split(text, ' '),
                         x -> x IN ({_STOP_SQL}))) AS n_stop
  FROM documents
)
SELECT doc_id, n_chars, n_tokens,
       CASE WHEN n_tokens > 0 THEN CAST(n_stop AS DOUBLE) / n_tokens END
         AS stopword_ratio,
       CASE WHEN n_tokens >= {QUALITY_MIN_TOKENS}
             AND CAST(n_stop AS DOUBLE) / n_tokens >= {QUALITY_MIN_STOP_RATIO}
            THEN 1 ELSE 0 END AS quality_ok
FROM t
ORDER BY doc_id
""",
)
def doc_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality scoring: length + stopword-ratio heuristics (the classic
    pretraining-corpus filters, e.g. C4-style), as pure column math. The
    ratio is NULL-guarded for zero-token docs: unguarded n_stop/0 is NULL
    in Spark but NaN in DuckDB, the one family member that previously
    lacked the guard doc_lang_id and the DSIR mean carry."""
    d = load_table(spark, sf_dir, "documents")
    toks = _tokens()
    n_stop = F.size(
        F.filter(toks, lambda x: x.isin([*STOPWORDS]))
    )
    n_tokens = F.size(toks)
    ratio = F.when(n_tokens > 0, n_stop.cast("double") / n_tokens)
    return d.select(
        "doc_id",
        F.length("text").alias("n_chars"),
        n_tokens.alias("n_tokens"),
        ratio.alias("stopword_ratio"),
        F.when(
            (n_tokens >= QUALITY_MIN_TOKENS) & (ratio >= QUALITY_MIN_STOP_RATIO), 1
        )
        .otherwise(0)
        .alias("quality_ok"),
    ).orderBy("doc_id")


@register(
    "doc_lang_id",
    oracle=f"""
WITH t AS (
  SELECT doc_id, lang,
         LEN(list_filter(string_split(LOWER(text), ' '),
                         x -> x IN ({_STOP_SQL}))) AS en_hits,
         LEN(list_filter(string_split(LOWER(text), ' '), x -> x <> '')) AS n_tokens
  FROM documents
)
SELECT doc_id, lang,
       CASE WHEN n_tokens > 0 AND CAST(en_hits AS DOUBLE) / n_tokens >= 0.02
            THEN 'en' ELSE 'und' END AS lang_pred
FROM t
ORDER BY doc_id
""",
)
def doc_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language ID by stopword-hit-rate heuristic (n-gram/dictionary LID in
    its simplest deterministic form), compared against the table's lang
    label downstream in tests."""
    d = load_table(spark, sf_dir, "documents")
    lowered = F.split(F.lower(F.col("text")), " ")
    en_hits = F.size(F.filter(lowered, lambda x: x.isin([*STOPWORDS])))
    n_tokens = F.size(F.filter(lowered, lambda x: x != F.lit("")))
    return d.select(
        "doc_id",
        "lang",
        F.when(
            (n_tokens > 0) & (en_hits.cast("double") / n_tokens >= 0.02), "en"
        )
        .otherwise("und")
        .alias("lang_pred"),
    ).orderBy("doc_id")


@register(
    "doc_fingerprint",
    oracle="""
SELECT doc_id,
       MD5(TRIM(REGEXP_REPLACE(LOWER(text), '\\s+', ' ', 'g'))) AS fingerprint
FROM documents
ORDER BY doc_id
""",
)
def doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprinting: md5 over whitespace-normalized lowercase
    text — the exact-dedup key (content-defined fingerprints; rolling-hash
    shingles live in the MinHash pipeline in ops/dedup)."""
    d = load_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.md5(_normalized()).alias("fingerprint"),
    ).orderBy("doc_id")


# ---------------------------------------------------------------------------
# Model-based quality scoring: fastText-style linear classifier inference.
# The model is a hashed bag-of-words linear classifier (the production
# quality-filter shape: CCNet / fastText wiki-vs-crawl): each token hashes
# to one of QC_BUCKETS feature buckets and the document score is the mean
# bucket weight. Training happens offline; what a 100 TB engine needs is
# the INFERENCE path — weights ship to every executor as a plan literal
# (a broadcast-sized array) and the dot product is a pure Column
# expression in whole-stage codegen: no UDF, no model server, no shuffle
# beyond the per-doc aggregate. The weights below are a fixed
# deterministic stand-in for trained coefficients (a Weyl sequence over
# the buckets — the engine contract is identical for real ones).
# ---------------------------------------------------------------------------

QC_BUCKETS = 64
QC_BIAS = 40  # intercept, in weight units per token
QC_WEIGHTS = tuple((b * 2654435761) % 2001 - 1000 for b in range(QC_BUCKETS))

# Token -> bucket: the last two hex nibbles of md5 give h32 % 256, and
# 64 | 256 makes (h32 % 256) % 64 == h32 % 64 — so both engines read just
# two characters of the digest instead of converting all eight.
_QC_NIB = "(STRPOS('0123456789abcdef', SUBSTRING(h, {j}, 1)) - 1)"
_QC_BUCKET_SQL = f"(({_QC_NIB.format(j=7)} * 16 + {_QC_NIB.format(j=8)}) % {QC_BUCKETS})"
_QC_CTES = f"""qc_toks AS (
  SELECT doc_id,
         UNNEST(LIST_FILTER(STRING_SPLIT(TRIM(REGEXP_REPLACE(LOWER(text), '\\s+', ' ', 'g')), ' '),
                            x -> x <> '')) AS term
  FROM documents
),
qc_buckets AS (
  SELECT doc_id, {_QC_BUCKET_SQL} AS bucket
  FROM (SELECT doc_id, MD5(term) AS h FROM qc_toks) t
),
qc_scores AS (
  SELECT doc_id,
         COUNT(*) AS n_tokens,
         CAST(SUM(bucket * 2654435761 % 2001 - 1000) AS BIGINT) AS score_units
  FROM qc_buckets GROUP BY doc_id
)"""


def classifier_scores(d: DataFrame) -> DataFrame:
    """(doc_id, n_tokens, score_units): hashed-feature linear classifier
    inference as Column expressions. The weight vector is a plan literal —
    Spark serializes it into every task exactly like a broadcast variable,
    but element_at(weights, bucket) stays inside whole-stage codegen."""
    weights = F.array(*[F.lit(w) for w in QC_WEIGHTS])
    toks = d.select(
        "doc_id",
        F.explode(
            F.filter(
                F.split(
                    _normalized(),
                    " ",
                ),
                lambda x: x != F.lit(""),
            )
        ).alias("term"),
    )
    bucket = F.conv(F.substring(F.md5("term"), 7, 2), 16, 10).cast("bigint") % QC_BUCKETS
    return (
        toks.select("doc_id", F.element_at(weights, (bucket + 1).cast("int")).alias("w"))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum("w").cast("bigint").alias("score_units"),
        )
    )


@register(
    "doc_quality_classifier",
    oracle=f"""
WITH {_QC_CTES}
SELECT doc_id, n_tokens, score_units,
       CAST(score_units AS DOUBLE) / n_tokens AS mean_weight,
       (score_units + {QC_BIAS} * n_tokens) > 0 AS quality_pass
FROM qc_scores
ORDER BY doc_id
""",
    bench=True,
)
def doc_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Learned quality filter (inference): per-doc mean hashed-feature
    weight and the pass/fail decision at the QC_BIAS intercept. Docs with
    zero tokens have no features and drop out (both engines build from
    the same token relation). Complements the heuristic doc_quality_score:
    that one is hand-set ratios, this one is the learned-coefficient
    path a production curation stack ranks by. One explode + one per-doc
    aggregate (map-side combined); score arithmetic is all-integer so the
    cross-engine hash matches exactly."""
    d = load_table(spark, sf_dir, "documents")
    s = classifier_scores(d)
    return s.select(
        "doc_id",
        "n_tokens",
        "score_units",
        (F.col("score_units").cast("double") / F.col("n_tokens")).alias("mean_weight"),
        ((F.col("score_units") + QC_BIAS * F.col("n_tokens")) > 0).alias("quality_pass"),
    ).orderBy("doc_id")


# ---------------------------------------------------------------------------
# Gopher-style composite quality rules (Rae et al. 2021, appendix A1.1) —
# the rule battery production corpora actually ship: every rule computed in
# one scan, each as its own boolean column so accounting ("which rule killed
# how many docs") falls out of the same plan.

GOPHER_MIN_WORDS = 40
GOPHER_MAX_WORDS = 100_000
GOPHER_MIN_MEAN_LEN = 3.0
GOPHER_MAX_MEAN_LEN = 10.0
GOPHER_MAX_SYMBOL_RATIO = 0.1
GOPHER_MIN_ALPHA_FRAC = 0.80
GOPHER_MIN_STOP_HITS = 2


@register(
    "doc_gopher_rules",
    oracle=f"""
WITH t AS (
  SELECT doc_id,
         list_filter(string_split(text, ' '), x -> x <> '') AS toks,
         LENGTH(text) - LENGTH(REPLACE(text, '#', ''))
           + (LENGTH(text) - LENGTH(REPLACE(text, '...', ''))) // 3 AS n_symbols
  FROM documents
),
s AS (
  SELECT doc_id,
         LEN(toks) AS n_words,
         CAST(COALESCE(LIST_SUM(LIST_TRANSFORM(toks, x -> LENGTH(x))), 0) AS BIGINT) AS n_word_chars,
         LEN(list_filter(toks, x -> regexp_matches(x, '[a-z]'))) AS n_alpha_words,
         LEN(list_filter(toks, x -> x IN ({_STOP_SQL}))) AS n_stop,
         n_symbols
  FROM t
)
SELECT doc_id, n_words, n_word_chars, n_alpha_words, n_stop, n_symbols,
       (n_words BETWEEN {GOPHER_MIN_WORDS} AND {GOPHER_MAX_WORDS}) AS rule_word_count,
       (n_words > 0 AND CAST(n_word_chars AS DOUBLE) / n_words
            BETWEEN {GOPHER_MIN_MEAN_LEN} AND {GOPHER_MAX_MEAN_LEN}) AS rule_mean_word_len,
       (n_words > 0 AND CAST(n_symbols AS DOUBLE) / n_words
            < {GOPHER_MAX_SYMBOL_RATIO}) AS rule_symbol_ratio,
       (n_words > 0 AND CAST(n_alpha_words AS DOUBLE) / n_words
            > {GOPHER_MIN_ALPHA_FRAC}) AS rule_alpha_frac,
       (n_stop >= {GOPHER_MIN_STOP_HITS}) AS rule_stopwords,
       ((n_words BETWEEN {GOPHER_MIN_WORDS} AND {GOPHER_MAX_WORDS})
        AND n_words > 0
        AND CAST(n_word_chars AS DOUBLE) / n_words
              BETWEEN {GOPHER_MIN_MEAN_LEN} AND {GOPHER_MAX_MEAN_LEN}
        AND CAST(n_symbols AS DOUBLE) / n_words < {GOPHER_MAX_SYMBOL_RATIO}
        AND CAST(n_alpha_words AS DOUBLE) / n_words > {GOPHER_MIN_ALPHA_FRAC}
        AND n_stop >= {GOPHER_MIN_STOP_HITS}) AS gopher_pass
FROM s
ORDER BY doc_id
""",
)
def doc_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher quality-rule battery (word-count bounds, mean word length,
    symbol-to-word ratio, alphabetic-word fraction, minimum stopword
    hits), each rule surfaced as its own boolean plus the composite
    gate. All signals come out of ONE narrow scan — higher-order array
    functions over the whitespace token array, no explode, no shuffle,
    whole-stage codegen end to end — so at 100 TB this is a pure map
    over the corpus whose cost is the scan itself. Ratios are int/int
    double divisions (bit-identical across engines); symbol counting is
    exact integer REPLACE-length arithmetic. Complements
    doc_quality_score (C4-style stopword heuristic),
    doc_quality_classifier (learned), and doc_repetition_stats
    (Gopher's repetition section) — together the four faces of a
    production quality stack."""
    d = load_table(spark, sf_dir, "documents")
    toks = _tokens()
    n_words = F.size(toks)
    n_word_chars = F.aggregate(
        toks, F.lit(0), lambda acc, x: acc + F.length(x)
    )
    n_alpha = F.size(F.filter(toks, lambda x: x.rlike("[a-z]")))
    n_stop = F.size(F.filter(toks, lambda x: x.isin([*STOPWORDS])))
    n_symbols = (
        F.length("text") - F.length(F.replace(F.col("text"), F.lit("#")))
    ) + F.expr("(LENGTH(text) - LENGTH(REPLACE(text, '...', ''))) div 3")
    s = d.select(
        "doc_id",
        n_words.alias("n_words"),
        n_word_chars.alias("n_word_chars"),
        n_alpha.alias("n_alpha_words"),
        n_stop.alias("n_stop"),
        n_symbols.cast("bigint").alias("n_symbols"),
    )
    nw = F.col("n_words")
    mean_len = F.col("n_word_chars").cast("double") / nw
    sym_ratio = F.col("n_symbols").cast("double") / nw
    alpha_frac = F.col("n_alpha_words").cast("double") / nw
    r_words = nw.between(GOPHER_MIN_WORDS, GOPHER_MAX_WORDS)
    r_mean = (nw > 0) & mean_len.between(GOPHER_MIN_MEAN_LEN, GOPHER_MAX_MEAN_LEN)
    r_sym = (nw > 0) & (sym_ratio < GOPHER_MAX_SYMBOL_RATIO)
    r_alpha = (nw > 0) & (alpha_frac > GOPHER_MIN_ALPHA_FRAC)
    r_stop = F.col("n_stop") >= GOPHER_MIN_STOP_HITS
    return s.select(
        "doc_id",
        "n_words",
        "n_word_chars",
        "n_alpha_words",
        "n_stop",
        "n_symbols",
        r_words.alias("rule_word_count"),
        r_mean.alias("rule_mean_word_len"),
        r_sym.alias("rule_symbol_ratio"),
        r_alpha.alias("rule_alpha_frac"),
        r_stop.alias("rule_stopwords"),
        (r_words & r_mean & r_sym & r_alpha & r_stop).alias("gopher_pass"),
    ).orderBy("doc_id")


@register(
    "corpus_datacard",
    oracle="""
SELECT source,
       COUNT(*) AS n_docs,
       CAST(SUM(CAST(LEN(list_filter(string_split(text, ' '), x -> x <> '')) AS BIGINT)) AS BIGINT) AS n_tokens,
       COUNT(DISTINCT MD5(text)) AS n_distinct_exact,
       COUNT(*) FILTER (WHERE lang = 'en') AS n_en,
       CAST(COUNT(*) FILTER (WHERE lang = 'en') AS DOUBLE) / COUNT(*) AS pct_en,
       CAST(COUNT(*) - COUNT(DISTINCT MD5(text)) AS DOUBLE) / COUNT(*) AS exact_dup_rate,
       CAST(SUM(CAST(LEN(list_filter(string_split(text, ' '), x -> x <> '')) AS BIGINT)) AS DOUBLE) / COUNT(*) AS mean_tokens,
       MIN(LEN(list_filter(string_split(text, ' '), x -> x <> ''))) AS min_tokens,
       MAX(LEN(list_filter(string_split(text, ' '), x -> x <> ''))) AS max_tokens
FROM documents
GROUP BY source
ORDER BY source
""",
)
def corpus_datacard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source data card: the one-row-per-source summary a dataset
    release ships (docs, tokens, language mix, exact-dup rate, length
    envelope — the 'Datasheets for Datasets' accounting). Every ratio is
    an int/int division in double, so both engines agree bit-for-bit.

    Plan shape: ONE narrow scan feeds a single source-keyed aggregate —
    counts, token sums, and min/max partial-combine map-side; the only
    distinct aggregate (exact-hash dedup accounting) is over md5(text),
    which Spark plans as the standard two-phase distinct expand. Output
    is one row per source regardless of corpus size, so at 100 TB this
    is a full scan (unavoidable — it summarizes everything) and nothing
    else; the scan is shared with nothing and prunes to the three
    columns it reads."""
    d = load_table(spark, sf_dir, "documents")
    toks = F.filter(F.split(F.col("text"), " "), lambda x: x != F.lit(""))
    n_tok = F.size(toks).cast("bigint")
    return (
        d.select("source", "lang", F.md5("text").alias("h"), n_tok.alias("nt"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("nt").alias("n_tokens"),
            F.count_distinct("h").alias("n_distinct_exact"),
            F.count(F.when(F.col("lang") == "en", 1)).alias("n_en"),
            F.min("nt").alias("min_tokens"),
            F.max("nt").alias("max_tokens"),
        )
        .select(
            "source",
            "n_docs",
            "n_tokens",
            "n_distinct_exact",
            "n_en",
            (F.col("n_en").cast("double") / F.col("n_docs")).alias("pct_en"),
            (
                (F.col("n_docs") - F.col("n_distinct_exact")).cast("double")
                / F.col("n_docs")
            ).alias("exact_dup_rate"),
            (F.col("n_tokens").cast("double") / F.col("n_docs")).alias(
                "mean_tokens"
            ),
            "min_tokens",
            "max_tokens",
        )
        .orderBy("source")
    )


@register(
    "corpus_datacard_streamed",
    oracle="""
WITH t AS (
  SELECT source, lang,
         CAST(LEN(list_filter(string_split(text, ' '), x -> x <> '')) AS BIGINT) AS nt
  FROM documents
)
SELECT source,
       COUNT(*) AS n_docs,
       CAST(SUM(nt) AS BIGINT) AS n_tokens,
       COUNT(*) FILTER (WHERE lang = 'en') AS n_en,
       MIN(nt) AS min_tokens,
       MAX(nt) AS max_tokens,
       CAST(COUNT(*) FILTER (WHERE lang = 'en') AS DOUBLE) / COUNT(*) AS pct_en,
       CAST(SUM(nt) AS DOUBLE) / COUNT(*) AS mean_tokens
FROM t
GROUP BY source
ORDER BY source
""",
)
def corpus_datacard_streamed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structured Streaming, driver-visible — the training-data INGEST
    face: replay the documents table as a file stream through the
    foreachBatch datacard maintainer (streaming.incremental_datacard)
    under Trigger.AvailableNow, then read the maintained card back. The
    oracle is the from-scratch batch aggregate — the maintained card
    must be bit-identical however ingestion was micro-batched, because
    every maintained column is additive (counts/sums) or a semilattice
    (min/max). Ratios are computed AT READ TIME from the merged integers
    (int/int doubles), never maintained: merging a ratio is the classic
    incremental-accounting bug. The batch datacard's exact-distinct
    column is deliberately absent from the streamed face — not mergeable
    from per-batch partials (see incremental_datacard). Every other
    streamed face consumes the events changelog; this one proves the
    maintainer scaffold (idempotent retries, staging+swap recovery)
    carries the corpus-ingest shape identically."""
    from otus_cpp_11_spark.session import scratch_dir
    from otus_cpp_11_spark.streaming import (
        incremental_datacard,
        read_documents_stream,
    )

    from otus_cpp_11_spark.ops.versioned import read_version

    card = scratch_dir("sg-card-") + "/datacard"
    q = incremental_datacard(read_documents_stream(spark, sf_dir), card)
    q.awaitTermination()
    c = read_version(spark, card)
    return c.select(
        "source",
        "n_docs",
        "n_tokens",
        "n_en",
        "min_tokens",
        "max_tokens",
        (F.col("n_en").cast("double") / F.col("n_docs")).alias("pct_en"),
        (F.col("n_tokens").cast("double") / F.col("n_docs")).alias("mean_tokens"),
    ).orderBy("source")


# --- BM25 lexical retrieval ------------------------------------------------
# Fixed keyword-query workload: a bounded literal relation (the shape a
# retrieval service ships to the cluster), including one rare term ('dup',
# corpus df two orders below the common vocabulary) so the idf axis is
# actually exercised, not just tf/dl.
BM25_QUERIES: tuple[tuple[int, tuple[str, ...]], ...] = (
    (1, ("hash", "join")),
    (2, ("vector", "scan")),
    (3, ("stream", "window", "merge")),
    (4, ("dup", "filter")),
)
BM25_TOPK = 5
_BM25_UNIT = 1_000_000
# idf is held in MILLI-units (not micro) so the per-term product
# idf_mu * tfn_u stays inside int64 through ~10^9 documents (see the
# docstring's headroom analysis); the final div 1000 lands the score
# back in micro-units.
_BM25_IDF_UNIT = 1_000
# k1 = 1.2, b = 0.75 cleared to integers: tf*(k1+1) / (tf + k1*(1-b) +
# k1*b*dl/avgdl) with avgdl = T/N, multiplied through by 10*T:
#   tfn = 22*tf*T / (10*tf*T + 3*T + 9*dl*N)           -- exact rational
_BM25_QT_SQL = ", ".join(
    f"({qid}, '{t}')" for qid, terms in BM25_QUERIES for t in terms
)


def bm25_doc_term_tf(docs: DataFrame) -> DataFrame:
    """Frame-polymorphic BM25 tokenize front end (batch AND streamed
    faces share THIS code, the datacard_delta pattern): per-(doc,
    query-term) tf with the doc length carried through the explode (no
    second per-doc join). Tokens filter to the bounded query vocabulary
    INSIDE the projection — the corpus-sized explode never leaves the
    map side."""
    all_terms = sorted({t for _, ts in BM25_QUERIES for t in ts})
    toks = docs.select(
        "doc_id",
        F.filter(F.split(_normalized(), " "), lambda x: x != F.lit("")).alias("w"),
    )
    matched = toks.select(
        "doc_id",
        F.size("w").alias("dl"),
        F.explode(
            F.filter(F.col("w"), lambda x: x.isin(all_terms))
        ).alias("term"),
    )
    return matched.groupBy("doc_id", "term", "dl").agg(
        F.count(F.lit(1)).alias("tf")
    )


def _bm25_corpus_stats(
    spark: SparkSession, sf_dir: str
) -> tuple[int, int, dict[str, int]]:
    """ONE corpus pass collecting the bounded global BM25 statistics to
    the driver: N (doc count), T (total tokens) and per-term df over the
    bounded query vocabulary — |vocab|+2 integers, the zorder-bounds /
    pagerank-N scalar-collect precedent (driver-trivial at any corpus
    size; every statistic partial-aggregates map-side into one row).

    r14 (guide §2.4/§1.2 step 1): previously these statistics lived in
    three RELATIONS (tf, df, scal) whose chains each re-planned the
    corpus tokenize — doc_bm25_top5's physical plan carried THREE full
    scan+tokenize chains (plans/r14/doc_bm25_top5_before.txt ops 1-8 /
    13-24 / 27-33) because Catalyst replans a multi-referenced subtree
    per consumer and the r13 cache experiment proved a materialization
    barrier costs more than the duplicate scan (OPTIMIZATION_r13.md
    item 5). Collecting them instead turns df/N/T into plan literals
    (the r13 IVF-PQ literal move), so the scoring pass is the only
    other corpus scan. Recomputed from the parquet inputs on every
    call — no cross-run or cross-query reuse; at 100 TB these are
    exactly the statistics ``bm25_stats_streamed`` maintains
    incrementally, and a deployment would read that artifact instead."""
    all_terms = sorted({t for _, ts in BM25_QUERIES for t in ts})
    d = spread(load_table(spark, sf_dir, "documents"))
    toks = d.select(
        F.filter(F.split(_normalized(), " "), lambda x: x != F.lit("")).alias("w")
    )

    row = toks.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size("w")).alias("total_toks"),
        *[
            # df(t) = number of docs containing t — exactly what the old
            # tf.groupBy(term).count() produced (tf rows exist iff tf>=1).
            # array_contains, not exists(lambda): HOF lambdas evaluate
            # interpreted per element (the knn_join_lsh_top3 lesson);
            # array_contains is a codegen'd collection expression.
            F.sum(F.array_contains("w", t).cast("long")).alias(f"df_{i}")
            for i, t in enumerate(all_terms)
        ],
    ).first()
    n_docs = int(row["n_docs"])
    total_toks = int(row["total_toks"] or 0)
    df = {t: int(row[f"df_{i}"] or 0) for i, t in enumerate(all_terms)}
    return n_docs, total_toks, df


def _bm25_scores(
    spark: SparkSession, sf_dir: str, with_tf_sum: bool = False
) -> DataFrame:
    """(query_id, doc_id, score_units[, tf_sum]): exact-integer BM25 —
    see doc_bm25_top5 for the arithmetic derivation and headroom
    analysis; rows exist exactly for (query, doc) pairs sharing >= 1
    term, and ``tf_sum`` (the raw term-frequency ranker the RRF fusion
    also pools) rides along for free when asked.

    r14 rewrite (guide §2.3/§2.4 — shuffle nothing that is computable
    map-side): with (N, T, df) collected as plan literals
    (``_bm25_corpus_stats``), per-term tf and dl are per-DOC array
    expressions and the whole per-(query, doc) score folds into one
    map-side projection + a bounded 4-struct explode. The former plan's
    (doc, term, dl) aggregate exchange, qt/df broadcast joins, scalar
    crossJoin and (query, doc) score-aggregate exchange are ALL gone —
    the relation is produced by a single narrow pass over the corpus.
    Bit-identical by construction: idf_mu is the same exact integer
    python // computes (non-negative operands, same truncation as
    Spark's div), every tf enters the formula as BIGINT exactly as the
    old count() did, and the per-term contributions sum as BIGINT in
    the same left-to-right order the old SUM aggregated (integer
    addition is order-free anyway). Oracles unchanged — they recompute
    df/N/T relationally, so the driver hash-match machine-proves the
    literal substitution."""
    n_docs, total_toks, df = _bm25_corpus_stats(spark, sf_dir)
    all_terms = sorted({t for _, ts in BM25_QUERIES for t in ts})
    ti = {t: i for i, t in enumerate(all_terms)}
    idf_mu = {
        t: (_BM25_IDF_UNIT * (2 * n_docs - 2 * df[t] + 1)) // (2 * df[t] + 1)
        for t in all_terms
    }
    d = spread(load_table(spark, sf_dir, "documents"))
    w = F.filter(F.split(_normalized(), " "), lambda x: x != F.lit(""))
    # ONE vocabulary filter narrows w to the (tiny) matched-token array;
    # per-term tf then reads as size(arr) - size(array_remove(arr, t)) —
    # codegen'd collection expressions over a few elements. The measured
    # alternatives both lose: per-term filter(w, eq) HOFs run their
    # lambdas interpreted per element per term (the knn_join_lsh_top3
    # lesson), and array_remove over the FULL w copies the whole token
    # array per term (2x this pass's cost, /tmp A/B in
    # OPTIMIZATION_r14.md).
    per = d.select(
        "doc_id",
        F.size(w).alias("dl"),
        F.filter(w, lambda x: x.isin(all_terms)).alias("arr"),
    )
    per = per.select(
        "doc_id",
        "dl",
        *[
            # BIGINT so every product below promotes exactly like the old
            # count()-typed tf did (int math would wrap at 22e6*tf)
            (F.size("arr") - F.size(F.array_remove("arr", t)))
            .cast("bigint")
            .alias(f"tf_{ti[t]}")
            for t in all_terms
        ],
    )
    entries = []
    for qid, terms in BM25_QUERIES:
        cs = [
            f"(CASE WHEN tf_{ti[t]} > 0 THEN {idf_mu[t]}L"
            f" * (({_BM25_UNIT} * 22 * tf_{ti[t]} * {total_toks}L)"
            f"    div (10 * tf_{ti[t]} * {total_toks}L + 3 * {total_toks}L"
            f"         + 9 * dl * {n_docs}L))"
            f" div {_BM25_IDF_UNIT} ELSE 0L END)"
            for t in terms
        ]
        matched = " OR ".join(f"tf_{ti[t]} > 0" for t in terms)
        fields = [
            f"{qid} AS query_id",
            f"CAST({' + '.join(cs)} AS BIGINT) AS score_units",
            f"({matched}) AS m",
        ]
        if with_tf_sum:
            fields.append(
                f"CAST({' + '.join(f'tf_{ti[t]}' for t in terms)} AS BIGINT)"
                " AS tf_sum"
            )
        entries.append("struct(" + ", ".join(fields) + ")")
    out = (
        per.select("doc_id", F.explode(F.expr("array(" + ", ".join(entries) + ")")).alias("s"))
        .where(F.col("s.m"))
    )
    cols = ["s.query_id", "doc_id", "s.score_units"]
    if with_tf_sum:
        cols.append("s.tf_sum")
    return out.select(*cols)


# Shared oracle CTE chain ending in scores(query_id, doc_id, score_units) —
# the exact-integer BM25 relation both retrieval oracles build on.
_BM25_SCORES_CTES = f"""qt(query_id, term) AS (VALUES {_BM25_QT_SQL}),
w AS (
  SELECT doc_id,
         LIST_FILTER(STRING_SPLIT(TRIM(REGEXP_REPLACE(LOWER(text), '\\s+', ' ', 'g')), ' '),
                     x -> x <> '') AS w
  FROM documents
),
dl AS (SELECT doc_id, LEN(w) AS dl FROM w),
scal AS (SELECT COUNT(*) AS n_docs, SUM(dl) AS total_toks FROM dl),
tok AS (SELECT doc_id, UNNEST(w) AS term FROM w),
tf AS (
  SELECT doc_id, term, COUNT(*) AS tf
  FROM tok WHERE term IN (SELECT DISTINCT term FROM qt)
  GROUP BY doc_id, term
),
df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
contrib AS (
  SELECT q.query_id, t.doc_id,
         (({_BM25_IDF_UNIT} * (2 * s.n_docs - 2 * f.df + 1)) // (2 * f.df + 1))
         * (({_BM25_UNIT} * 22 * t.tf * s.total_toks)
            // (10 * t.tf * s.total_toks + 3 * s.total_toks + 9 * d.dl * s.n_docs))
         // {_BM25_IDF_UNIT} AS c
  FROM tf t
  JOIN qt q USING (term)
  JOIN df f USING (term)
  JOIN dl d USING (doc_id), scal s
),
scores AS (
  SELECT query_id, doc_id, CAST(SUM(c) AS BIGINT) AS score_units
  FROM contrib GROUP BY query_id, doc_id
)"""


@register(
    "doc_bm25_top5",
    bench=True,
    oracle=f"""
WITH {_BM25_SCORES_CTES},
ranked AS (
  SELECT query_id, doc_id, score_units,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY score_units DESC, doc_id) AS rank
  FROM scores
)
SELECT query_id, rank, doc_id, score_units
FROM ranked WHERE rank <= {BM25_TOPK}
ORDER BY query_id, rank
""",
)
def doc_bm25_top5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 lexical retrieval (k1=1.2, b=0.75): top-5 documents per keyword
    query, scored in EXACT integer micro-units so the cross-engine oracle
    never depends on transcendental-log agreement or FP summation order
    (the doc_bigram_surprisal discipline). The Robertson idf's log is
    replaced by its exact odds-ratio argument, (2N-2df+1)/(2df+1) in
    micro-units — a monotone-in-df weight with the same rare-term-dominates
    behavior, exactly representable in both engines; the tf normalization
    is real BM25 cleared to one integer division (22*tf*T over
    10*tf*T + 3*T + 9*dl*N, avgdl folded in as T/N).

    100 TB shape (r14): the corpus is scanned exactly TWICE — one
    statistics pass partial-aggregates (N, T, df per vocabulary term)
    into a single collected row (``_bm25_corpus_stats``; the maintained-
    artifact statistics of bm25_stats_streamed, recomputed per call),
    then one scoring pass computes every per-(query, doc) score as
    map-side array arithmetic against those literals — no (doc, term)
    shuffle, no broadcast joins, nothing corpus-sized ever leaves the
    map side before the top-k. The top-k is the
    shared salted_topk two-stage window (ops/skew.py) — per-(query,
    hash-salt-cell) top-5 first, then the global per-query top-5 over at
    most 16*5 survivors per query — because
    a handful of query_id partitions would otherwise funnel every matched
    doc in the corpus through single reducers.
    Integer headroom, binding term first: the per-term product
    idf_mu * tfn_u <= (1e3 * 2N / 3) * 2.2e6 (a df=1 term) crosses 2^63
    only past N ~ 6e9 documents, and the tfn numerator 1e6*22*tf*T at
    tf <= dl crosses it past T ~ 2e10 tokens with hot-doc tf ~ 20; past
    either bound the literals upgrade to decimal(38,0), same plan (DuckDB
    raises on BIGINT overflow rather than wrapping, so an undersized
    deployment fails loudly in the oracle, not silently in Spark)."""
    return (
        salted_topk(
            _bm25_scores(spark, sf_dir),
            ["query_id"],
            [F.desc("score_units"), F.asc("doc_id")],
            BM25_TOPK,
            salt_on="doc_id",
        )
        .select("query_id", "rank", "doc_id", "score_units")
        .orderBy("query_id", "rank")
    )


# --- hybrid retrieval: reciprocal rank fusion --------------------------------
RRF_K = 60  # the standard RRF damping constant (Cormack et al.)
RRF_POOL = 20  # per-ranker candidate pool depth
RRF_TOPK = 5
_RRF_UNIT = 1_000_000


@register(
    "retrieval_rrf_fusion",
    oracle=f"""
WITH {_BM25_SCORES_CTES},
pool_a AS (
  SELECT query_id, doc_id,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY score_units DESC, doc_id) AS rank_a
  FROM scores
  QUALIFY rank_a <= {RRF_POOL}
),
tf_scores AS (
  SELECT q.query_id, t.doc_id, CAST(SUM(t.tf) AS BIGINT) AS tf_sum
  FROM tf t JOIN qt q USING (term)
  GROUP BY q.query_id, t.doc_id
),
pool_b AS (
  SELECT query_id, doc_id,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY tf_sum DESC, doc_id) AS rank_b
  FROM tf_scores
  QUALIFY rank_b <= {RRF_POOL}
),
fused AS (
  SELECT COALESCE(a.query_id, b.query_id) AS query_id,
         COALESCE(a.doc_id, b.doc_id) AS doc_id,
         COALESCE({_RRF_UNIT} // ({RRF_K} + a.rank_a), 0)
           + COALESCE({_RRF_UNIT} // ({RRF_K} + b.rank_b), 0) AS rrf_units
  FROM pool_a a
  FULL OUTER JOIN pool_b b
    ON a.query_id = b.query_id AND a.doc_id = b.doc_id
),
ranked AS (
  SELECT query_id, doc_id, rrf_units,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY rrf_units DESC, doc_id) AS rank
  FROM fused
)
SELECT query_id, rank, doc_id, rrf_units
FROM ranked WHERE rank <= {RRF_TOPK}
ORDER BY query_id, rank
""",
)
def retrieval_rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval by reciprocal rank fusion (RRF, k=60): fuse the
    exact-integer BM25 ranker with a raw term-frequency ranker — two
    rankers with genuinely different orderings (tf ignores idf and length
    normalization) — by summing 1e6 // (60 + rank) over each ranker's
    top-20 pool, in exact integer micro-units (RRF is born
    fusion-by-rank, so dropping the transcendentals costs nothing — the
    reciprocal is exactly representable). The production shape this
    stands in for is BM25 + dense-ANN fusion; the fusion operator is
    ranker-agnostic by construction (it consumes only rank columns).

    100 TB shape: each pool is already a salted_topk (bounded to
    RRF_POOL rows per query BEFORE fusion), so fusion touches at most
    2 * RRF_POOL * |queries| rows — driver-trivial whatever the corpus
    size; the heavy lifting happened inside the rankers, which share ONE
    map-side scoring pass (_bm25_scores emits score_units AND tf_sum per
    matched (query, doc) row). r14 (guide §2.4, verdict item 2 — share
    one window pass over the unioned ranker set): both rankers order the
    SAME row set by different BIGINT keys, so each scored row explodes
    into two (side, key) rows and ONE salted_topk partitioned by
    (side, query_id) ranks both pools in a single pass — the plan drops
    a whole duplicate corpus chain plus one two-stage window. Fusion is
    a union-free aggregate: every surviving (side, query, doc, rank) row
    contributes UNIT div (K + rank) and the per-(query, doc) SUM equals
    the old full-outer COALESCE(a,0)+COALESCE(b,0) exactly (each pair
    appears in <= 2 pools; absent = contributes nothing) — replacing the
    un-broadcastable FullOuter SortMergeJoin with one tiny aggregate."""
    scored = _bm25_scores(spark, sf_dir, with_tf_sum=True)
    sided = scored.select(
        "query_id",
        "doc_id",
        F.explode(
            F.expr(
                "array(struct(0 AS side, score_units AS key),"
                " struct(1 AS side, tf_sum AS key))"
            )
        ).alias("s"),
    ).select("query_id", "doc_id", F.col("s.side").alias("side"), F.col("s.key").alias("key"))
    ranked = salted_topk(
        sided,
        ["side", "query_id"],
        [F.desc("key"), F.asc("doc_id")],
        RRF_POOL,
        salt_on="doc_id",
    )
    fused = (
        ranked.select(
            "query_id",
            "doc_id",
            F.expr(f"{_RRF_UNIT} div ({RRF_K} + rank)").alias("c"),
        )
        .groupBy("query_id", "doc_id")
        .agg(F.sum("c").cast("bigint").alias("rrf_units"))
    )
    return (
        salted_topk(
            fused,
            ["query_id"],
            [F.desc("rrf_units"), F.asc("doc_id")],
            RRF_TOPK,
            salt_on="doc_id",
        )
        .select("query_id", "rank", "doc_id", "rrf_units")
        .orderBy("query_id", "rank")
    )


# Per-query dense anchors for the hybrid ranker: query_id -> the vec_id
# whose stored embedding plays the query vector (a retrieval service
# ships encoded query vectors the same way it ships query terms — a
# bounded literal relation).
HYBRID_ANCHORS: tuple[tuple[int, int], ...] = tuple(
    (qid, qid * 7) for qid, _ in BM25_QUERIES
)
_HYBRID_ANCHORS_SQL = ", ".join(f"({q}, {a})" for q, a in HYBRID_ANCHORS)


@register(
    "retrieval_hybrid_dense_top5",
    bench=True,
    oracle=f"""
WITH {_BM25_SCORES_CTES},
pool_a AS (
  SELECT query_id, doc_id,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY score_units DESC, doc_id) AS rank_a
  FROM scores
  QUALIFY rank_a <= {RRF_POOL}
),
anchors(query_id, anchor_id) AS (VALUES {_HYBRID_ANCHORS_SQL}),
qv AS (
  SELECT a.query_id, a.anchor_id, e.embedding AS qv
  FROM anchors a JOIN embeddings e ON e.vec_id = a.anchor_id
),
dense AS (
  SELECT q.query_id, e.vec_id AS doc_id,
         {_dot_sql("e.embedding", "q.qv")} /
         (SQRT({_dot_sql("e.embedding", "e.embedding")}) * SQRT({_dot_sql("q.qv", "q.qv")})) AS cosine
  FROM embeddings e, qv q
  WHERE e.vec_id <> q.anchor_id
),
pool_b AS (
  SELECT query_id, doc_id,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY cosine DESC, doc_id) AS rank_b
  FROM dense
  QUALIFY rank_b <= {RRF_POOL}
),
fused AS (
  SELECT COALESCE(a.query_id, b.query_id) AS query_id,
         COALESCE(a.doc_id, b.doc_id) AS doc_id,
         COALESCE({_RRF_UNIT} // ({RRF_K} + a.rank_a), 0)
           + COALESCE({_RRF_UNIT} // ({RRF_K} + b.rank_b), 0) AS rrf_units
  FROM pool_a a
  FULL OUTER JOIN pool_b b
    ON a.query_id = b.query_id AND a.doc_id = b.doc_id
),
ranked AS (
  SELECT query_id, doc_id, rrf_units,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY rrf_units DESC, doc_id) AS rank
  FROM fused
)
SELECT query_id, rank, doc_id, rrf_units
FROM ranked WHERE rank <= {RRF_TOPK}
ORDER BY query_id, rank
""",
)
def retrieval_hybrid_dense_top5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DENSE + LEXICAL hybrid retrieval (r7 verdict item 6 — the
    production shape the RRF docstring names): fuse the exact-integer
    BM25 ranker over ``documents`` with a dense cosine ranker over
    ``embeddings`` (doc_id == vec_id, the corpus's embedding column)
    through the SAME ranker-agnostic RRF fusion, in exact integer
    micro-units. Each query carries a dense anchor vector
    (``HYBRID_ANCHORS``: a stored embedding standing in for the encoded
    query — a bounded literal relation, exactly how a serving tier
    ships query vectors to the cluster). The dense scores use the
    fixed-point cosine from queries/similarity.py (per-element floored
    products summed as DECIMAL — bit-identical in both engines), so
    the dense pool's ordering is oracle-exact, not approximately
    close.

    100 TB shape: the dense side scores |corpus| x |queries| rows with
    the 4-row anchor relation broadcast — a map-side pass with no
    vector shuffle — then per-query salted_topk bounds it to RRF_POOL
    rows before fusion, exactly like the lexical side; the fusion join
    touches <= 2 * RRF_POOL * |queries| rows regardless of corpus
    size. The brute-force dense scan is the recall=1 baseline; the
    IVF/PQ rankers (pq_adc_top10, ivf_pq_top5) swap in behind the same
    pool interface when the corpus outgrows brute force — the fusion
    consumes only rank columns and cannot tell."""
    from otus_cpp_11_spark.queries.similarity import _dec_dot, cosine_from_norms

    e = load_table(spark, sf_dir, "embeddings")
    anchors = spark.createDataFrame(
        list(HYBRID_ANCHORS), "query_id int, anchor_id long"
    )
    # r13 (guide §2.3 — don't recompute per-pair what is per-side
    # constant): cosine_sim(e, qv) evaluates THREE 64-element decimal
    # folds per (doc, query) pair, but two of them are per-side norms —
    # sqrt(dot(e,e)) is per doc (was recomputed once per query) and
    # sqrt(dot(qv,qv)) is per query (was recomputed once per CORPUS ROW).
    # Factoring both into their own side's projection leaves ONE fold per
    # pair. Value-identical by construction: the same _dec_dot/sqrt
    # expressions run on the same inputs, and the final
    # dot / (d_norm * q_norm) keeps cosine_sim's operand order, so every
    # double is bit-for-bit the one the fused expression produced (the
    # oracle text is unchanged and re-proven at all three SFs).
    qv = (
        e.join(F.broadcast(anchors), e["vec_id"] == anchors["anchor_id"])
        .select(
            "query_id",
            "anchor_id",
            F.col("embedding").alias("qv"),
            F.sqrt(_dec_dot(F.col("embedding"), F.col("embedding"))).alias(
                "q_norm"
            ),
        )
    )
    docs = e.select(
        "vec_id",
        "embedding",
        F.sqrt(_dec_dot(F.col("embedding"), F.col("embedding"))).alias("d_norm"),
    )
    dense = (
        docs.crossJoin(F.broadcast(qv))
        .where(F.col("vec_id") != F.col("anchor_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("doc_id"),
            cosine_from_norms(
                _dec_dot(F.col("embedding"), F.col("qv")),
                F.col("d_norm"),
                F.col("q_norm"),
            ).alias("cosine"),
        )
    )
    pool_b = salted_topk(
        dense,
        ["query_id"],
        [F.desc("cosine"), F.asc("doc_id")],
        RRF_POOL,
        salt_on="doc_id",
    ).select("query_id", "doc_id", F.col("rank").alias("rank_b"))
    pool_a = salted_topk(
        _bm25_scores(spark, sf_dir),
        ["query_id"],
        [F.desc("score_units"), F.asc("doc_id")],
        RRF_POOL,
        salt_on="doc_id",
    ).select("query_id", "doc_id", F.col("rank").alias("rank_a"))
    # r14 (guide §2.4/§3.1): RRF fusion as a union of per-pool
    # contributions + one tiny aggregate instead of a FullOuter join —
    # full-outer cannot broadcast-hash, so the old shape paid two
    # sort+exchange legs (SortMergeJoin) on pool-bounded inputs. The
    # per-(query, doc) SUM over <= 2 contribution rows equals
    # COALESCE(a, 0) + COALESCE(b, 0) exactly.
    fused = (
        pool_a.select(
            "query_id",
            "doc_id",
            F.expr(f"{_RRF_UNIT} div ({RRF_K} + rank_a)").alias("c"),
        )
        .unionByName(
            pool_b.select(
                "query_id",
                "doc_id",
                F.expr(f"{_RRF_UNIT} div ({RRF_K} + rank_b)").alias("c"),
            )
        )
        .groupBy("query_id", "doc_id")
        .agg(F.sum("c").cast("bigint").alias("rrf_units"))
    )
    return (
        salted_topk(
            fused,
            ["query_id"],
            [F.desc("rrf_units"), F.asc("doc_id")],
            RRF_TOPK,
            salt_on="doc_id",
        )
        .select("query_id", "rank", "doc_id", "rrf_units")
        .orderBy("query_id", "rank")
    )


# --- inference-serving analytics: shared-prefix cache potential --------------
PREFIX_LEN = 8  # leading tokens that constitute the cacheable prefix
PREFIX_TOP = 10


@register(
    "prefix_cache_analysis",
    oracle=f"""
WITH w AS (
  SELECT doc_id,
         LIST_FILTER(STRING_SPLIT(TRIM(REGEXP_REPLACE(LOWER(text), '\\s+', ' ', 'g')), ' '),
                     x -> x <> '') AS w
  FROM documents
),
pfx AS (
  SELECT doc_id,
         ARRAY_TO_STRING(w[1:{PREFIX_LEN}], ' ') AS prefix,
         LEAST(LEN(w), {PREFIX_LEN}) AS plen
  FROM w
  WHERE LEN(w) >= 1
),
grouped AS (
  SELECT MD5(prefix) AS prefix_hash,
         MIN(plen) AS prefix_tokens,
         COUNT(*) AS n_docs,
         MIN(plen) * (COUNT(*) - 1) AS tokens_saved
  FROM pfx
  GROUP BY MD5(prefix)
  HAVING COUNT(*) > 1
),
ranked AS (
  SELECT prefix_hash, prefix_tokens, n_docs, CAST(tokens_saved AS BIGINT) AS tokens_saved,
         ROW_NUMBER() OVER (ORDER BY tokens_saved DESC, prefix_hash) AS rank
  FROM grouped
)
SELECT rank, prefix_hash, prefix_tokens, n_docs, tokens_saved
FROM ranked WHERE rank <= {PREFIX_TOP}
ORDER BY rank
""",
)
def prefix_cache_analysis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inference-serving analytics: KV-cache reuse potential from shared
    leading-token prefixes (the shared-system-prompt pattern). Documents
    sharing their first PREFIX_LEN-token (8) prefix form a cache group; the
    savings estimate is prefix_tokens * (n_docs - 1) — every request
    after the first reuses the prefix KV. Top-10 groups by savings.

    100 TB shape: one tokenize scan; the group key is an md5 of the
    bounded prefix (never the full text crosses the shuffle — 16 bytes +
    two ints per doc); the aggregate partial-combines map-side, so a
    mega-hot shared prefix (every request from one template) costs one
    row per map task, not a hot reducer. Global top-10 over the grouped
    relation is a TakeOrderedAndProject-shaped sort of group-count rows,
    not docs. plen rides MIN() (all group members share it by
    construction — same leading tokens implies same
    truncation length)."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id",
        F.filter(F.split(_normalized(), " "), lambda x: x != F.lit("")).alias("w"),
    ).where(F.size("w") >= 1)
    pfx = toks.select(
        F.md5(
            F.array_join(F.slice("w", 1, PREFIX_LEN), " ")
        ).alias("prefix_hash"),
        F.least(F.size("w"), F.lit(PREFIX_LEN)).alias("plen"),
    )
    grouped = (
        pfx.groupBy("prefix_hash")
        .agg(
            F.min("plen").alias("prefix_tokens"),
            F.count(F.lit(1)).alias("n_docs"),
        )
        .where(F.col("n_docs") > 1)
        .select(
            "prefix_hash",
            "prefix_tokens",
            "n_docs",
            (F.col("prefix_tokens") * (F.col("n_docs") - 1))
            .cast("bigint")
            .alias("tokens_saved"),
        )
    )
    # orderBy().limit() is a real TakeOrderedAndProject (per-partition
    # top-k + tiny merge); the row_number window then runs over <= 10
    # survivors. An unpartitioned window over `grouped` would instead
    # funnel every duplicate-bearing prefix group through one task.
    top = grouped.orderBy(F.desc("tokens_saved"), F.asc("prefix_hash")).limit(
        PREFIX_TOP
    )
    return (
        top.withColumn(
            "rank",
            F.row_number().over(
                Window.orderBy(F.desc("tokens_saved"), F.asc("prefix_hash"))
            ),
        )
        .select("rank", "prefix_hash", "prefix_tokens", "n_docs", "tokens_saved")
        .orderBy("rank")
    )


@register(
    "bm25_stats_streamed",
    oracle=f"""
WITH qt(query_id, term) AS (VALUES {_BM25_QT_SQL}),
w AS (
  SELECT doc_id,
         LIST_FILTER(STRING_SPLIT(TRIM(REGEXP_REPLACE(LOWER(text), '\\s+', ' ', 'g')), ' '),
                     x -> x <> '') AS w
  FROM documents
),
tok AS (SELECT doc_id, UNNEST(w) AS term FROM w),
tf AS (
  SELECT doc_id, term, COUNT(*) AS tf
  FROM tok WHERE term IN (SELECT DISTINCT term FROM qt)
  GROUP BY doc_id, term
)
SELECT term,
       CAST(COUNT(*) AS BIGINT) AS df,
       CAST(SUM(tf) AS BIGINT) AS tf_sum
FROM tf
GROUP BY term
ORDER BY term
""",
)
def bm25_stats_streamed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structured Streaming, driver-visible — the retrieval-index INGEST
    face: replay the documents table as a file stream through the
    foreachBatch BM25-stats maintainer (streaming.incremental_bm25_stats)
    under Trigger.AvailableNow, then read the maintained term statistics
    back. The oracle is the from-scratch batch aggregate — the maintained
    stats must be bit-identical however ingestion was micro-batched,
    because both columns (df, tf_sum) are additive across batches (each
    document lands exactly once, so batch-local distinct-doc counts sum
    to corpus df). This closes the loop with doc_bm25_top5: the scorer's
    df/tf inputs can be maintained at ingest instead of rebuilt."""
    from otus_cpp_11_spark.session import scratch_dir
    from otus_cpp_11_spark.streaming import (
        incremental_bm25_stats,
        read_documents_stream,
    )

    from otus_cpp_11_spark.ops.versioned import read_version

    stats = scratch_dir("sg-bm25-") + "/stats"
    q = incremental_bm25_stats(read_documents_stream(spark, sf_dir), stats)
    q.awaitTermination()
    return (
        read_version(spark, stats)
        .select("term", "df", "tf_sum")
        .orderBy("term")
    )


# --- diversified retrieval: near-dup suppression in the result list ----------
DIVERSE_TOPK = 3


@register(
    "retrieval_diversified_top3",
    oracle=f"""
WITH {_BM25_SCORES_CTES},
pool AS (
  SELECT query_id, doc_id, score_units,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY score_units DESC, doc_id) AS rank_a
  FROM scores QUALIFY rank_a <= {RRF_POOL}
),
sig AS ({_SIMHASH_SQL}),
dedup AS (
  SELECT query_id, doc_id, score_units, rank_a, simhash,
         ROW_NUMBER() OVER (PARTITION BY query_id, simhash
                            ORDER BY rank_a) AS dup_rk
  FROM pool JOIN sig USING (doc_id)
),
rer AS (
  SELECT query_id, doc_id, score_units,
         ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY rank_a) AS rank
  FROM dedup WHERE dup_rk = 1
)
SELECT query_id, rank, doc_id, score_units
FROM rer WHERE rank <= {DIVERSE_TOPK}
ORDER BY query_id, rank
""",
)
def retrieval_diversified_top3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Diversified retrieval: the BM25 top-20 pool with near-duplicate
    results suppressed before the final top-3 — the SERP-dedup move. Two
    results are duplicates when their 32-bit SimHash signatures are
    EQUAL (boilerplate/template near-dups collapse to identical
    signatures; the fixture's planted duplicates collide inside these
    very pools); only the best-BM25-ranked member of each (query,
    signature) group survives, then survivors re-rank by their original
    BM25 order. Production variants widen equality to a hamming band
    (simhash_near_pairs' banding) — same plan, one more join.

    100 TB shape: the expensive inputs are both already bounded or
    linear — the pool is salted_topk-bounded to RRF_POOL rows/query
    before anything else happens, and the signature relation is the
    shared one-aggregate SimHash pipeline (_simhash_df: shuffle O(docs),
    no bit explode). The dedup/re-rank windows run over <= RRF_POOL rows
    per query. The signature join is pool-vs-corpus on doc_id; at scale
    the signature table is a maintained artifact (the incremental
    near-dup index), not recomputed per query."""
    from otus_cpp_11_spark.queries.dedup import _simhash_df

    pool = salted_topk(
        _bm25_scores(spark, sf_dir),
        ["query_id"],
        [F.desc("score_units"), F.asc("doc_id")],
        RRF_POOL,
        salt_on="doc_id",
    ).select("query_id", "doc_id", "score_units", F.col("rank").alias("rank_a"))
    sig = _simhash_df(spark, sf_dir)
    w_dup = Window.partitionBy("query_id", "simhash").orderBy("rank_a")
    w_rer = Window.partitionBy("query_id").orderBy("rank_a")
    return (
        pool.join(sig, "doc_id")
        .withColumn("dup_rk", F.row_number().over(w_dup))
        .where(F.col("dup_rk") == 1)
        .withColumn("rank", F.row_number().over(w_rer))
        .where(F.col("rank") <= DIVERSE_TOPK)
        .select("query_id", "rank", "doc_id", "score_units")
        .orderBy("query_id", "rank")
    )


@register(
    "source_score_calibration",
    oracle=f"""
WITH {_QC_CTES},
scored AS (
  SELECT s.doc_id, d.source, s.score_units
  FROM qc_scores s JOIN documents d USING (doc_id)
)
SELECT doc_id, source, score_units,
       PERCENT_RANK() OVER (PARTITION BY source ORDER BY score_units) AS pct_rank,
       CUME_DIST() OVER (PARTITION BY source ORDER BY score_units) AS cume
FROM scored
ORDER BY doc_id
""",
)
def source_score_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source score calibration: the learned quality score's
    per-SOURCE percent_rank and cume_dist — rank-based normalization, the
    standard fix when a single global threshold over-prunes sources whose
    raw score distributions sit lower (different domains, languages,
    boilerplate levels). Both statistics are exact integer ratios
    ((rank-1)/(N-1), count<=/N) computed identically by each engine —
    ties share a rank by ordering on score alone, so the calibrated
    value is a property of the score, not of tiebreak luck.

    100 TB shape: one shuffle on source, per-source sort inside the
    window. A mega-source makes that partition's sort the straggler —
    at corpus scale swap the exact ranks for approx_percentile cut
    points broadcast back (the rfm_quartiles playbook, documented
    there); the exact form is kept here as the oracle-checkable
    contract the sketch version approximates."""
    d = load_table(spark, sf_dir, "documents")
    s = classifier_scores(d)
    scored = s.join(d.select("doc_id", "source"), "doc_id")
    w = Window.partitionBy("source").orderBy("score_units")
    return (
        scored.select(
            "doc_id",
            "source",
            "score_units",
            F.percent_rank().over(w).alias("pct_rank"),
            F.cume_dist().over(w).alias("cume"),
        )
        .orderBy("doc_id")
    )


# --------------------------------------------------------------------------
# Eval-ops: inter-rater agreement between two quality gates.
# --------------------------------------------------------------------------

KAPPA_MIN_CHARS = 300  # rater B: the blunt metadata-only length gate


@register(
    "quality_gate_kappa",
    oracle=f"""
WITH r AS (
  SELECT source,
         CASE WHEN LEN(list_filter(string_split(text, ' '), x -> x <> ''))
                   >= {QUALITY_MIN_TOKENS}
               AND CAST(LEN(list_filter(string_split(text, ' '),
                                        x -> x IN ({_STOP_SQL}))) AS DOUBLE)
                   / LEN(list_filter(string_split(text, ' '), x -> x <> ''))
                   >= {QUALITY_MIN_STOP_RATIO}
              THEN 1 ELSE 0 END AS a,
         CASE WHEN n_chars >= {KAPPA_MIN_CHARS} THEN 1 ELSE 0 END AS b
  FROM documents
),
c AS (
  SELECT source,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(a) AS BIGINT) AS a1,
         CAST(SUM(b) AS BIGINT) AS b1,
         CAST(SUM(a * b) AS BIGINT) AS n11,
         CAST(SUM((1 - a) * (1 - b)) AS BIGINT) AS n00
  FROM r GROUP BY source
)
SELECT source, n, a1, b1, n11, n00,
       CAST(n * (n11 + n00) - (a1 * b1 + (n - a1) * (n - b1)) AS DOUBLE)
         / NULLIF(n * n - (a1 * b1 + (n - a1) * (n - b1)), 0) AS kappa
FROM c
ORDER BY source
""",
)
def quality_gate_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-rater agreement (Cohen's kappa) between two quality gates,
    per source — the eval-ops measurement behind 'is the cheap gate a
    usable proxy for the expensive one': rater A is the token+stopword
    heuristic (doc_quality_score's gate), rater B the metadata-only
    length gate a 100 TB triage pass would run without reading text.
    Kappa corrects raw agreement for chance, so a gate that just says
    'yes' to everything scores ~0, not ~its base rate.

    Exactness: kappa is ONE division of two integer expressions —
    n*(n11+n00) - (a1*b1 + (n-a1)*(n-b1)) over n^2 - the same — so both
    engines divide identical integers and the hash gate holds without
    float-order caveats. The denominator is ZERO exactly when both
    gates are constant within a source (kappa undefined — every doc
    passes or fails both raters identically); both sides return NULL
    there via an explicit guard (Spark) / NULLIF (DuckDB), because
    Spark's non-ANSI divide-by-zero NULL is not contractually the same
    as DuckDB's double division (r8 advice). Plan: one linear pass,
    map-side partial aggregation to one row per source; the
    text-reading rater and the metadata rater evaluate in the same
    projection (no second scan)."""
    d = load_table(spark, sf_dir, "documents")
    toks = _tokens()
    n_tokens = F.size(toks)
    n_stop = F.size(F.filter(toks, lambda x: x.isin([*STOPWORDS])))
    ratio = F.when(n_tokens > 0, n_stop.cast("double") / n_tokens)
    a = (
        F.when(
            (n_tokens >= QUALITY_MIN_TOKENS)
            & (ratio >= QUALITY_MIN_STOP_RATIO),
            1,
        )
        .otherwise(0)
        .alias("a")
    )
    b = (
        F.when(F.col("n_chars") >= KAPPA_MIN_CHARS, 1).otherwise(0).alias("b")
    )
    c = (
        d.select("source", a, b)
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum("a").cast("bigint").alias("a1"),
            F.sum("b").cast("bigint").alias("b1"),
            F.sum(F.col("a") * F.col("b")).cast("bigint").alias("n11"),
            F.sum((1 - F.col("a")) * (1 - F.col("b")))
            .cast("bigint")
            .alias("n00"),
        )
    )
    agree = F.col("n") * (F.col("n11") + F.col("n00"))
    chance = F.col("a1") * F.col("b1") + (F.col("n") - F.col("a1")) * (
        F.col("n") - F.col("b1")
    )
    denom = F.col("n") * F.col("n") - chance
    return c.select(
        "source",
        "n",
        "a1",
        "b1",
        "n11",
        "n00",
        F.when(denom != 0, (agree - chance).cast("double") / denom).alias(
            "kappa"
        ),
    ).orderBy("source")
