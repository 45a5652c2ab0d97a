"""Text-analysis plans over `documents` (beyond-reference LLM-pipeline ops).

Language-ID heuristics, quality scoring, token counting, and document
fingerprinting, all expressed with JVM-side built-ins (split / transform /
filter / md5) — no Python UDFs in the hot path, so the plans stay inside
whole-stage codegen and scale linearly with the corpus.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from pm25ml_spark.catalog import load_table
from pm25ml_spark.functions.exact import davg, davg_expr
from pm25ml_spark.plans.registry import query


def _tokens():
    return F.split(F.col("text"), " ")


def word_ngrams(n: int) -> F.Column:
    """Word n-gram INSTANCES (not distinct) of the single-space-tokenized
    ``text`` column.

    slice+array_join instead of per-position element_at: one array window
    per n-gram (measured ~4× cheaper).

    Documents with fewer than n tokens yield an EMPTY array —
    ``sequence(1, stop)`` with stop < 1 would generate a DESCENDING
    sequence and ``slice(toks, 0, n)`` then throws, so the sequence is
    gated on size ≥ n. Every caller relies on this gate."""
    toks = _tokens()
    idx = F.when(
        F.size(toks) >= n, F.sequence(F.lit(1), F.size(toks) - (n - 1))
    ).otherwise(F.array().cast("array<int>"))
    return F.transform(idx, lambda i: F.array_join(F.slice(toks, i, n), " "))


# --------------------------------------------------------------------------
# token counting + per-language profile.
@query(
    "t01_lang_token_stats",
    f"""
    SELECT lang,
           COUNT(*) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
           {davg_expr('n_tokens')} AS avg_tokens,
           {davg_expr('n_chars')} AS avg_chars,
           {davg_expr('avg_word_len')} AS mean_word_len
    FROM (
        SELECT lang, n_chars,
               len(string_split(text, ' ')) AS n_tokens,
               CAST(len(replace(text, ' ', '')) AS DOUBLE)
                 / len(string_split(text, ' ')) AS avg_word_len
        FROM documents
    )
    GROUP BY lang
    """,
)
def t01_lang_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    n_tokens = F.size(_tokens())
    avg_word_len = F.length(F.regexp_replace("text", " ", "")).cast(
        "double"
    ) / n_tokens
    per_doc = docs.select(
        "lang",
        "n_chars",
        n_tokens.alias("n_tokens"),
        avg_word_len.alias("avg_word_len"),
    )
    return per_doc.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("total_tokens"),
        davg("n_tokens").alias("avg_tokens"),
        davg("n_chars").alias("avg_chars"),
        davg("avg_word_len").alias("mean_word_len"),
    )


# --------------------------------------------------------------------------
# per-document quality score: type-token ratio, stopword ratio, vowel
# ratio, and a composite — the length/stopword-ratio style quality gates a
# training-data pipeline filters on.
@query(
    "t02_quality_profile",
    """
    SELECT doc_id,
           n_tokens,
           n_distinct,
           CAST(n_distinct AS DOUBLE) / n_tokens AS ttr,
           CAST(n_stop AS DOUBLE) / n_tokens AS stopword_ratio,
           CAST(n_vowels AS DOUBLE) / n_chars AS vowel_ratio,
           CASE WHEN n_tokens >= 20
                 AND CAST(n_distinct AS DOUBLE) / n_tokens > 0.3
                 AND CAST(n_stop AS DOUBLE) / n_tokens < 0.5
                THEN 1 ELSE 0 END AS passes_quality
    FROM (
        SELECT doc_id, n_chars,
               len(string_split(text, ' ')) AS n_tokens,
               len(list_distinct(string_split(text, ' '))) AS n_distinct,
               len(list_filter(string_split(text, ' '),
                               t -> t = 'the' OR t = 'a')) AS n_stop,
               len(text) - len(regexp_replace(text, '[aeiou]', '', 'g')) AS n_vowels
        FROM documents
    )
    """,
)
def t02_quality_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = _tokens()
    n_tokens = F.size(toks)
    n_distinct = F.size(F.array_distinct(toks))
    n_stop = F.size(F.filter(toks, lambda t: (t == "the") | (t == "a")))
    n_vowels = F.length("text") - F.length(F.regexp_replace("text", "[aeiou]", ""))
    base = docs.select(
        "doc_id",
        "n_chars",
        n_tokens.cast("long").alias("n_tokens"),
        n_distinct.cast("long").alias("n_distinct"),
        n_stop.alias("n_stop"),
        n_vowels.alias("n_vowels"),
    )
    ttr = F.col("n_distinct").cast("double") / F.col("n_tokens")
    stop_ratio = F.col("n_stop").cast("double") / F.col("n_tokens")
    return base.select(
        "doc_id",
        "n_tokens",
        "n_distinct",
        ttr.alias("ttr"),
        stop_ratio.alias("stopword_ratio"),
        (F.col("n_vowels").cast("double") / F.col("n_chars")).alias("vowel_ratio"),
        F.when(
            (F.col("n_tokens") >= 20) & (ttr > 0.3) & (stop_ratio < 0.5), 1
        )
        .otherwise(0)
        .alias("passes_quality"),
    )


# --------------------------------------------------------------------------
# language-ID by marker-token votes (n-gram/stopword heuristic). The
# declared `lang` column is synthetic, so this is a deterministic heuristic
# demo: score each candidate language by marker hits, argmax with a fixed
# tie-break order.
@query(
    "t03_lang_id_heuristic",
    """
    SELECT doc_id, lang AS declared_lang,
           CASE GREATEST(n_en, n_data, n_query)
                WHEN n_en THEN 'en'
                WHEN n_data THEN 'data-ish'
                ELSE 'query-ish' END AS pred_lang,
           n_en, n_data, n_query
    FROM (
        SELECT doc_id, lang,
               len(list_filter(string_split(text, ' '),
                               t -> t = 'the' OR t = 'a')) AS n_en,
               len(list_filter(string_split(text, ' '),
                               t -> t = 'data' OR t = 'table' OR t = 'row')) AS n_data,
               len(list_filter(string_split(text, ' '),
                               t -> t = 'query' OR t = 'scan' OR t = 'join')) AS n_query
        FROM documents
    )
    """,
)
def t03_lang_id_heuristic(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = _tokens()
    n_en = F.size(F.filter(toks, lambda t: t.isin("the", "a")))
    n_data = F.size(F.filter(toks, lambda t: t.isin("data", "table", "row")))
    n_query = F.size(F.filter(toks, lambda t: t.isin("query", "scan", "join")))
    base = docs.select(
        "doc_id",
        F.col("lang").alias("declared_lang"),
        n_en.cast("long").alias("n_en"),
        n_data.cast("long").alias("n_data"),
        n_query.cast("long").alias("n_query"),
    )
    best = F.greatest("n_en", "n_data", "n_query")
    pred = (
        F.when(best == F.col("n_en"), "en")
        .when(best == F.col("n_data"), "data-ish")
        .otherwise("query-ish")
    )
    return base.select(
        "doc_id", "declared_lang", pred.alias("pred_lang"), "n_en", "n_data", "n_query"
    )


# --------------------------------------------------------------------------
# bag-of-words fingerprint: md5 over the sorted distinct token set — the
# canonical "document fingerprinting" primitive; collision groups counted
# via a window.
@query(
    "t04_bag_fingerprint",
    """
    SELECT doc_id, fp, COUNT(*) OVER (PARTITION BY fp) AS n_same_bag
    FROM (
        SELECT doc_id,
               md5(array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' ')) AS fp
        FROM documents
    )
    """,
)
def t04_bag_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    fp = F.md5(F.array_join(F.array_sort(F.array_distinct(_tokens())), " "))
    return docs.select("doc_id", fp.alias("fp")).withColumn(
        "n_same_bag", F.count(F.lit(1)).over(Window.partitionBy("fp"))
    )


# --------------------------------------------------------------------------
# BPE-ish regex tokenization: letter runs / digit runs / single symbols —
# the whitespace-independent token count a trainer's data pipeline uses.
@query(
    "t06_bpe_token_count",
    """
    SELECT source,
           COUNT(*) AS n_docs,
           CAST(SUM(n_bpe) AS BIGINT) AS total_bpe_tokens,
           CAST(SUM(n_ws) AS BIGINT) AS total_ws_tokens
    FROM (
        SELECT source,
               len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS n_bpe,
               len(string_split(text, ' ')) AS n_ws
        FROM documents
    )
    GROUP BY source
    """,
)
def t06_bpe_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    n_bpe = F.size(F.expr("regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]', 0)"))
    per_doc = docs.select(
        "source", n_bpe.alias("n_bpe"), F.size(_tokens()).alias("n_ws")
    )
    return per_doc.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_bpe").alias("total_bpe_tokens"),
        F.sum("n_ws").alias("total_ws_tokens"),
    )


# --------------------------------------------------------------------------
# rolling-hash (Karp-Rabin) document fingerprint: ordered left fold of
# token hashes, h' = (h·B + x) mod p. F.aggregate IS an ordered fold, and
# DuckDB's list_reduce folds left too (seeded by prepending 0) — the two
# engines produce identical 31-bit fingerprints.
_RH_P = 2_147_483_647
_RH_B = 131


@query(
    "t07_rolling_hash_fingerprint",
    f"""
    SELECT doc_id,
           list_reduce(
             list_prepend(0::BIGINT,
               list_transform(string_split(text, ' '),
                 t -> ('0x' || substr(md5(t), 1, 15))::BIGINT % {_RH_P})),
             (a, x) -> (a * {_RH_B} + x) % {_RH_P}) AS fingerprint,
           len(string_split(text, ' ')) AS n_tokens
    FROM documents
    """,
)
def t07_rolling_hash_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    tok_hashes = F.transform(
        _tokens(),
        lambda t: F.conv(F.substring(F.md5(t), 1, 15), 16, 10).cast("bigint")
        % _RH_P,
    )
    fp = F.aggregate(
        tok_hashes,
        F.lit(0).cast("bigint"),
        lambda acc, x: (acc * _RH_B + x) % _RH_P,
    )
    return docs.select(
        "doc_id",
        fp.alias("fingerprint"),
        F.size(_tokens()).cast("long").alias("n_tokens"),
    )


# --------------------------------------------------------------------------
# term frequency via explode (the unnest/flatten operator) + top-k terms.
@query(
    "t05_term_frequency_top20",
    """
    SELECT token, n FROM (
        SELECT token, COUNT(*) AS n
        FROM (SELECT UNNEST(string_split(text, ' ')) AS token FROM documents)
        GROUP BY token
    )
    ORDER BY n DESC, token
    LIMIT 20
    """,
)
def t05_term_frequency_top20(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select(F.explode(_tokens()).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), F.asc("token"))
        .limit(20)
    )


# --------------------------------------------------------------------------
# t08 — TF-IDF: tf(t,d) · ln(N/df(t)), top-5 terms per document. The
# corpus stats (df, N) are broadcast-joined onto the term-frequency table;
# everything else is the same explode → hash-agg shape as t05, so the
# whole query is two shuffles (tf and df) regardless of corpus size.
@query(
    "t08_tfidf_top5",
    """
    WITH tok AS (SELECT doc_id, UNNEST(string_split(text, ' ')) AS t FROM documents),
    tf AS (SELECT doc_id, t, COUNT(*) AS tf FROM tok GROUP BY doc_id, t),
    df AS (SELECT t, COUNT(DISTINCT doc_id) AS df FROM tok GROUP BY t),
    n AS (SELECT COUNT(*) AS n_docs FROM documents),
    scored AS (
        SELECT tf.doc_id, tf.t AS term,
               ROUND(tf.tf * ln(CAST(n.n_docs AS DOUBLE) / df.df), 6) AS tfidf
        FROM tf JOIN df ON tf.t = df.t CROSS JOIN n
    )
    SELECT doc_id, term, tfidf, rk FROM (
        SELECT doc_id, term, tfidf,
               row_number() OVER (PARTITION BY doc_id
                                  ORDER BY tfidf DESC, term) AS rk
        FROM scored)
    WHERE rk <= 5
    """,
)
def t08_tfidf_top5(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select("doc_id", F.explode(_tokens()).alias("t"))
    tf = tok.groupBy("doc_id", "t").agg(F.count(F.lit(1)).alias("tf"))
    df_t = tok.groupBy("t").agg(F.count_distinct("doc_id").alias("df"))
    n_docs = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tf.join(F.broadcast(df_t), "t")
        .crossJoin(F.broadcast(n_docs))
        .select(
            "doc_id",
            F.col("t").alias("term"),
            F.round(
                F.col("tf")
                * F.log(F.col("n_docs").cast("double") / F.col("df")),
                6,
            ).alias("tfidf"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("tfidf"), F.asc("term"))
    return (
        scored.withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= 5)
        .select("doc_id", "term", "tfidf", "rk")
    )


# --------------------------------------------------------------------------
# t09 — feature-hashed document vectors (the hashing trick): token →
# md5-derived bucket, tf weights L2-normalized per doc, emitted long-form
# (doc_id, bucket, w), a sparse vector per document; at corpus scale
# this is two hash aggregates, no vocabulary build, no driver state.
# 6-dp rounding on the normalized weight makes the value engine-portable
# (norm is an exact integer sum of tf²).
@query(
    "t09_hashed_doc_vectors",
    """
    WITH tok AS (
        SELECT doc_id,
               ('0x' || substr(md5(UNNEST(string_split(text, ' '))), 1, 15))::BIGINT % 32 AS bucket
        FROM documents
    ),
    tf AS (SELECT doc_id, bucket, COUNT(*) AS tf FROM tok GROUP BY doc_id, bucket),
    norms AS (SELECT doc_id, SUM(tf * tf) AS n2 FROM tf GROUP BY doc_id)
    SELECT tf.doc_id, tf.bucket,
           ROUND(tf.tf / sqrt(CAST(n.n2 AS DOUBLE)), 6) AS w
    FROM tf JOIN norms n ON tf.doc_id = n.doc_id
    """,
)
def t09_hashed_doc_vectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pm25ml_spark.functions.columns import md5_long

    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id",
        F.explode(F.split("text", " ")).alias("t"),
    ).select("doc_id", (md5_long(F.col("t")) % 32).alias("bucket"))
    tf = tok.groupBy("doc_id", "bucket").agg(F.count(F.lit(1)).alias("tf"))
    norms = tf.groupBy("doc_id").agg(F.sum(F.col("tf") * F.col("tf")).alias("n2"))
    return tf.join(norms, "doc_id").select(
        "doc_id",
        "bucket",
        F.round(F.col("tf") / F.sqrt(F.col("n2").cast("double")), 6).alias("w"),
    )


# --------------------------------------------------------------------------
# t10 — BM25 ranking (Okapi, Lucene's positive-idf variant): score a fixed
# query term set against every document, return the top-10. The corpus
# statistics the formula needs (df per term, N, avgdl) are tiny aggregates
# broadcast onto the per-(doc, term) tf table, so at 100 TB the plan is:
# one explode→filter (the term filter drops every non-query token BEFORE
# the tf shuffle, shrinking it to ≤ |terms| rows per doc), one tf hash
# aggregate, broadcast joins, one per-doc sum, one top-k window over ≤
# n_docs rows. idf = ln(1 + (N - df + .5)/(df + .5)); tf-norm uses
# k1 = 1.2, b = 0.75 (the standard Robertson/Lucene constants).
_BM25_TERMS = ("spark", "vector", "stream")
_BM25_K1 = 1.2
_BM25_B = 0.75


@query(
    "t10_bm25_top10",
    f"""
    WITH tok AS (
        SELECT doc_id, UNNEST(string_split(text, ' ')) AS t FROM documents
    ),
    dl AS (SELECT doc_id, len(string_split(text, ' ')) AS dl FROM documents),
    stats AS (
        SELECT COUNT(*) AS n_docs,
               CAST(SUM(CAST(dl AS DECIMAL(38,6))) AS DOUBLE) / COUNT(*) AS avgdl
        FROM dl
    ),
    qtok AS (SELECT doc_id, t FROM tok WHERE t IN ('spark', 'vector', 'stream')),
    tf AS (SELECT doc_id, t, COUNT(*) AS tf FROM qtok GROUP BY doc_id, t),
    dfreq AS (SELECT t, COUNT(DISTINCT doc_id) AS df FROM qtok GROUP BY t),
    scored AS (
        SELECT tf.doc_id,
               ROUND(
                 ln(1.0 + (n_docs - df + 0.5) / (df + 0.5))
                 * tf / (tf + {_BM25_K1} * (1.0 - {_BM25_B}
                         + {_BM25_B} * dl / avgdl)),
                 6) AS term_score
        FROM tf
        JOIN dfreq ON tf.t = dfreq.t
        JOIN dl ON tf.doc_id = dl.doc_id
        CROSS JOIN stats
    ),
    per_doc AS (
        SELECT doc_id,
               CAST(SUM(CAST(term_score AS DECIMAL(38,6))) AS DOUBLE) AS score
        FROM scored GROUP BY doc_id
    )
    SELECT doc_id, score, rk FROM (
        SELECT doc_id, score,
               row_number() OVER (ORDER BY score DESC, doc_id) AS rk
        FROM per_doc)
    WHERE rk <= 10
    """,
)
def t10_bm25_top10(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    dl = docs.select("doc_id", F.size(_tokens()).cast("long").alias("dl"))
    stats = dl.agg(
        F.count(F.lit(1)).alias("n_docs"),
        (F.sum(F.col("dl").cast("decimal(38,6)")).cast("double") / F.count(F.lit(1))).alias(
            "avgdl"
        ),
    )
    qtok = docs.select("doc_id", F.explode(_tokens()).alias("t")).filter(
        F.col("t").isin(*_BM25_TERMS)
    )
    tf = qtok.groupBy("doc_id", "t").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = qtok.groupBy("t").agg(F.count_distinct("doc_id").alias("df"))
    idf = F.log(
        1.0 + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
    )
    tf_norm = F.col("tf") / (
        F.col("tf")
        + _BM25_K1 * (1.0 - _BM25_B + _BM25_B * F.col("dl") / F.col("avgdl"))
    )
    scored = (
        tf.join(F.broadcast(dfreq), "t")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .select("doc_id", F.round(idf * tf_norm, 6).alias("term_score"))
    )
    per_doc = scored.groupBy("doc_id").agg(
        F.sum(F.col("term_score").cast("decimal(38,6)")).cast("double").alias("score")
    )
    # two-level prune (operators/sampling.global_topk): per-lane top-10
    # windows in parallel, then the true top-10 over ≤ 10·64 survivors —
    # never a corpus-cardinality frame through one WindowExec task.
    from pm25ml_spark.operators.sampling import global_topk

    return global_topk(
        per_doc, [F.desc("score"), F.asc("doc_id")], 10, "doc_id"
    ).select("doc_id", "score", "rk")


# --------------------------------------------------------------------------
# t12 — bigram-LM perplexity scoring (the CCNet-style quality filter: score
# each document by the cross-entropy of a smoothed n-gram language model;
# high-perplexity docs are "surprising" → candidates for filtering).
# Model: add-one-smoothed bigram conditional p(w2|w1) = (c(w1 w2) + 1)
# / (c(w1 ·) + V), trained on the corpus itself. The trained model is two
# small aggregates (916 bigrams, 31 prefixes at this vocabulary) broadcast
# onto the per-instance stream, so the corpus-sized data moves through one
# explode and one per-doc sum — at 100 TB the model tables stay
# vocabulary-sized (bounded), never corpus-sized. Per-instance log-probs
# are rounded to 6 dp and decimal-summed so the per-doc mean is
# order-independent and engine-portable.
@query(
    "t12_bigram_perplexity",
    """
    WITH tok AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
    bg AS (
        SELECT doc_id, ts[i] AS w1, ts[i] || ' ' || ts[i + 1] AS b
        FROM tok, UNNEST(range(1, len(ts))) AS u(i)
    ),
    cb AS (SELECT b, COUNT(*) AS cb FROM bg GROUP BY b),
    cw AS (SELECT w1, COUNT(*) AS cw FROM bg GROUP BY w1),
    v AS (
        -- model vocabulary = tokens participating in bigrams (identical
        -- to all tokens whenever every doc has >= 2 tokens; pinned so
        -- Spark and oracle share ONE definition even on degenerate docs)
        SELECT COUNT(DISTINCT t) AS v
        FROM (SELECT UNNEST(string_split(b, ' ')) AS t FROM cb)
    ),
    inst AS (
        SELECT doc_id,
               CAST(ROUND(ln((cb + 1.0) / (cw + v)) * 1000000) AS BIGINT)
                   AS lnp_micro
        FROM bg JOIN cb USING (b) JOIN cw USING (w1) CROSS JOIN v
    ),
    per_doc AS (
        SELECT doc_id, COUNT(*) AS n_bigrams,
               CAST(-SUM(lnp_micro) AS BIGINT) AS h_micro_sum
        FROM inst GROUP BY doc_id
    )
    SELECT doc_id, n_bigrams,
           CAST((2 * h_micro_sum + n_bigrams) // (2 * n_bigrams) AS BIGINT)
               / 1000000.0 AS cross_entropy,
           ROUND(exp(CAST(h_micro_sum AS DOUBLE)
                     / (n_bigrams * 1000000.0)), 6) AS perplexity
    FROM per_doc
    """,
)
def t12_bigram_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    bg = docs.select("doc_id", F.explode(word_ngrams(2)).alias("b"))
    cb = bg.groupBy("b").agg(F.count(F.lit(1)).alias("cb"))
    # the prefix counts and the vocabulary both fold out of the
    # VOCABULARY-sized cb table instead of re-scanning the corpus:
    # c(w1 ·) = Σ cb over bigrams starting with w1, and (since every doc
    # has ≥ 2 tokens) every token instance occurs in some bigram, so
    # distinct-over-bigram-members == distinct-over-tokens. One corpus
    # aggregation trains the whole model; two scans instead of three.
    # (r13 A/B: folding cb out of a persisted per-(doc, bigram) tally —
    # one explode instead of two — measured SLOWER, 2.9 → 4.1 s min-of-6
    # paired: the tally is near-corpus-sized, so materializing it costs
    # more than the map-only re-explode it saves. Kept the two-scan shape.)
    cw = (
        cb.withColumn("w1", F.split("b", " ")[0])
        .groupBy("w1")
        .agg(F.sum("cb").alias("cw"))
    )
    v = cb.select(F.explode(F.split("b", " ")).alias("t")).agg(
        F.count_distinct("t").alias("v")
    )
    # score on per-(doc, bigram) counts, not raw instances: n·lnp_micro in
    # LONG equals the oracle's per-instance sum exactly, and the model
    # join input shrinks from instances to within-doc-distinct.
    # Per-instance log-probs live in INTEGER MICRO-UNITS end-to-end:
    # lnp_micro = round(ln(p)·1e6), summed in bigint, and the final 6-dp
    # half-up round of the mean is pure integer arithmetic
    # ((2a + n) div 2n). Why not ROUND(-s/n, 6) on doubles: s is an exact
    # multiple of 1e-6 and n a small integer, so the mean lands ON the
    # 6-dp half-way grid with probability ~1/(2n) PER DOC — and there
    # Spark's exact-decimal HALF_UP and DuckDB's float-scaled round
    # disagree (observed at sf0.1: 3.388329 vs 3.38833). Integer rounding
    # makes both engines compute the identical value by construction.
    cdbg = bg.groupBy("doc_id", "b").agg(F.count(F.lit(1)).alias("n"))
    inst = (
        cdbg.withColumn("w1", F.split("b", " ")[0])
        .join(F.broadcast(cb), "b")
        .join(F.broadcast(cw), "w1")
        .crossJoin(F.broadcast(v))
        .select(
            "doc_id",
            "n",
            F.round(
                F.log((F.col("cb") + 1.0) / (F.col("cw") + F.col("v")))
                * 1_000_000,
                0,
            )
            .cast("long")
            .alias("lnp_micro"),
        )
    )
    per_doc = inst.groupBy("doc_id").agg(
        F.sum("n").alias("n_bigrams"),
        (-F.sum(F.col("n") * F.col("lnp_micro"))).alias("h_micro_sum"),
    )
    ce_micro = F.expr(
        "(2 * h_micro_sum + n_bigrams) div (2 * n_bigrams)"
    )
    h = F.col("h_micro_sum").cast("double") / (
        F.col("n_bigrams") * 1_000_000.0
    )
    return per_doc.select(
        "doc_id",
        "n_bigrams",
        (ce_micro / F.lit(1_000_000.0)).alias("cross_entropy"),
        F.round(F.exp(h), 6).alias("perplexity"),
    )


# --------------------------------------------------------------------------
# t13 — sequence packing (concat-and-chunk): lay the tokenized corpus
# end-to-end in doc_id order and cut fixed 256-token training sequences;
# report every document's global offset, chunk span, and whether it
# crosses a chunk boundary. The catalog plan is the exact two-pass
# distributed prefix-sum (range repartition + per-partition window +
# broadcast partition offsets — operators/packing.py); a global-window
# spelling exists only as the equivalence-test reference. Integer
# arithmetic throughout → bit-identical across engines.
_PACK_C = 256


@query(
    "t13_sequence_packing",
    f"""
    WITH d AS (
        SELECT doc_id, len(string_split(text, ' ')) AS n_tokens FROM documents
    ),
    c AS (
        SELECT doc_id, n_tokens,
               CAST(SUM(n_tokens) OVER (ORDER BY doc_id
                                        ROWS BETWEEN UNBOUNDED PRECEDING
                                        AND CURRENT ROW) AS BIGINT)
                   - n_tokens AS start_offset
        FROM d
    )
    SELECT doc_id, n_tokens, start_offset,
           start_offset // {_PACK_C} AS first_chunk,
           (start_offset + n_tokens - 1) // {_PACK_C} AS last_chunk,
           CASE WHEN start_offset // {_PACK_C}
                     <> (start_offset + n_tokens - 1) // {_PACK_C}
                THEN 1 ELSE 0 END AS spans_boundary
    FROM c
    """,
)
def t13_sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pm25ml_spark.operators.packing import pack_sequences

    docs = load_table(spark, sf_dir, "documents")
    d = docs.select(
        "doc_id", F.size(_tokens()).cast("long").alias("n_tokens")
    )
    return pack_sequences(d, "n_tokens", ["doc_id"], _PACK_C)


# --------------------------------------------------------------------------
# t11 — within-document repetition signals (the Gopher repetition filters,
# Rae et al. 2021 §A1.1, adapted to the whitespace-token corpus): duplicate
# word fraction, top-bigram coverage, duplicate-trigram instance fraction,
# and the composite pass flag. Per-doc n-gram frequencies go through
# explode + two-level groupBy (linear, shuffle keyed by doc) rather than a
# per-row O(len²) array fold, so long documents can't blow up a task.

# thresholds sit at ~p90 of the synthetic corpus so the flag actually
# discriminates (Gopher's published 0.18/0.30-family cutoffs are tuned to
# natural text and would pass everything here).
_REP_TOP2, _REP_DUP3, _REP_DUPW = 0.06, 0.02, 0.60


def repetition_signals(docs: DataFrame) -> DataFrame:
    """Per-doc repetition profile over a `doc_id, text` frame.

    Columns: n_tokens, dup_word_frac, top_bigram_frac, dup_trigram_frac,
    passes_repetition. Every ratio is one bigint/bigint double division —
    bit-deterministic against the SQL mirror.
    """
    words = docs.select(
        "doc_id",
        F.size(_tokens()).cast("long").alias("n_tokens"),
        F.size(F.array_distinct(_tokens())).cast("long").alias("n_uniq"),
    )
    bg = (
        docs.select("doc_id", F.explode(word_ngrams(2)).alias("g"))
        .groupBy("doc_id", "g")
        .agg(F.count(F.lit(1)).alias("n"))
        .groupBy("doc_id")
        .agg(F.max("n").alias("top2_n"), F.sum("n").alias("n2_inst"))
    )
    tg = (
        docs.select("doc_id", F.explode(word_ngrams(3)).alias("g"))
        .groupBy("doc_id", "g")
        .agg(F.count(F.lit(1)).alias("n"))
        .groupBy("doc_id")
        .agg(
            F.sum(F.when(F.col("n") >= 2, F.col("n")).otherwise(0)).alias(
                "dup3_inst"
            ),
            F.sum("n").alias("n3_inst"),
        )
    )
    # LEFT joins + guards: a doc with < 2 (< 3) tokens has no bigram
    # (trigram) rows, and a quality gate must still COUNT it (fraction
    # pinned to 0.0), not silently drop it from the population — the
    # fixture's ≥ 10-token docs never hit the guards, but the operator
    # is presented as a generic curation primitive.
    j = words.join(bg, "doc_id", "left").join(tg, "doc_id", "left")
    dup_word = (F.col("n_tokens") - F.col("n_uniq")).cast("double") / F.col(
        "n_tokens"
    )
    top2 = F.when(
        F.col("n_tokens") >= 2,
        F.col("top2_n").cast("double") / F.col("n2_inst"),
    ).otherwise(0.0)
    dup3 = F.when(
        F.col("n_tokens") >= 3,
        F.col("dup3_inst").cast("double") / F.col("n3_inst"),
    ).otherwise(0.0)
    return j.select(
        "doc_id",
        "n_tokens",
        dup_word.alias("dup_word_frac"),
        top2.alias("top_bigram_frac"),
        dup3.alias("dup_trigram_frac"),
        F.when(
            (top2 < _REP_TOP2) & (dup3 < _REP_DUP3) & (dup_word < _REP_DUPW),
            1,
        )
        .otherwise(0)
        .alias("passes_repetition"),
    )


_REP_SQL = f"""
    tok AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
    words AS (
        SELECT doc_id, len(ts) AS n_tokens, len(list_distinct(ts)) AS n_uniq
        FROM tok
    ),
    bg2 AS (
        SELECT doc_id, ts[i] || ' ' || ts[i + 1] AS g
        FROM tok, UNNEST(range(1, len(ts))) AS u(i)
    ),
    bgc AS (SELECT doc_id, g, COUNT(*) AS n FROM bg2 GROUP BY 1, 2),
    bga AS (
        SELECT doc_id, MAX(n) AS top2_n, SUM(n) AS n2_inst
        FROM bgc GROUP BY doc_id
    ),
    tg3 AS (
        SELECT doc_id, ts[i] || ' ' || ts[i + 1] || ' ' || ts[i + 2] AS g
        FROM tok, UNNEST(range(1, len(ts) - 1)) AS u(i)
    ),
    tgc AS (SELECT doc_id, g, COUNT(*) AS n FROM tg3 GROUP BY 1, 2),
    tga AS (
        SELECT doc_id,
               SUM(CASE WHEN n >= 2 THEN n ELSE 0 END) AS dup3_inst,
               SUM(n) AS n3_inst
        FROM tgc GROUP BY doc_id
    ),
    rep AS (
        SELECT w.doc_id, w.n_tokens,
               CAST(w.n_tokens - w.n_uniq AS DOUBLE) / w.n_tokens
                 AS dup_word_frac,
               CASE WHEN w.n_tokens >= 2
                    THEN CAST(b.top2_n AS DOUBLE) / b.n2_inst
                    ELSE 0.0 END AS top_bigram_frac,
               CASE WHEN w.n_tokens >= 3
                    THEN CAST(t.dup3_inst AS DOUBLE) / t.n3_inst
                    ELSE 0.0 END AS dup_trigram_frac,
               CASE WHEN (CASE WHEN w.n_tokens >= 2
                               THEN CAST(b.top2_n AS DOUBLE) / b.n2_inst
                               ELSE 0.0 END) < {_REP_TOP2}
                     AND (CASE WHEN w.n_tokens >= 3
                               THEN CAST(t.dup3_inst AS DOUBLE) / t.n3_inst
                               ELSE 0.0 END) < {_REP_DUP3}
                     AND CAST(w.n_tokens - w.n_uniq AS DOUBLE) / w.n_tokens
                         < {_REP_DUPW}
                    THEN 1 ELSE 0 END AS passes_repetition
        FROM words w
        LEFT JOIN bga b ON w.doc_id = b.doc_id
        LEFT JOIN tga t ON w.doc_id = t.doc_id
    )
"""


@query(
    "t11_repetition_signals",
    f"""
    WITH {_REP_SQL}
    SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens, dup_word_frac,
           top_bigram_frac, dup_trigram_frac, passes_repetition
    FROM rep
    """,
)
def t11_repetition_signals(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return repetition_signals(docs.select("doc_id", "text"))


# --------------------------------------------------------------------------
# t15 — fill-in-the-middle (FIM) transform (Bavarian et al. 2022): split a
# hash-selected half of the corpus into (prefix, middle, suffix) at
# document-keyed deterministic cut points and re-serialize in SPM
# (suffix-prefix-middle) order. Pure row-local JVM expressions — slice +
# array_join + md5 — no shuffle at all: the transform column-maps a 100 TB
# corpus at scan speed. The split RNG is the engine-portable 60-bit md5 of
# "fim{1,2}:{doc_id}", so the oracle reproduces every cut exactly.

_FIM_SEP = "|SEP|"


@query(
    "t15_fim_transform",
    f"""
    WITH tok AS (
        SELECT doc_id, text, string_split(text, ' ') AS ts,
               len(string_split(text, ' ')) AS n,
               ('0x' || substr(md5('fim1:' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT AS h1,
               ('0x' || substr(md5('fim2:' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT AS h2
        FROM documents
    ),
    cut AS (
        SELECT doc_id, text, ts, n,
               (h1 % 2 = 0) AND n >= 3 AS fim_applied,
               1 + (h1 % (CASE WHEN n >= 3 THEN n - 2 ELSE 1 END)) AS a,
               h2 AS h2
        FROM tok
    ),
    cut2 AS (
        SELECT *, a + 1 + (h2 % (CASE WHEN n - a - 1 >= 1
                                      THEN n - a - 1 ELSE 1 END)) AS b
        FROM cut
    )
    SELECT doc_id,
           CAST(n AS BIGINT) AS n_tokens,
           CASE WHEN fim_applied THEN 1 ELSE 0 END AS fim_applied,
           CAST(CASE WHEN fim_applied THEN a ELSE n END AS BIGINT) AS prefix_len,
           CAST(CASE WHEN fim_applied THEN b - a ELSE 0 END AS BIGINT) AS middle_len,
           CAST(CASE WHEN fim_applied THEN n - b ELSE 0 END AS BIGINT) AS suffix_len,
           CASE WHEN fim_applied
                THEN md5(array_to_string(ts[b + 1:n], ' ') || '{_FIM_SEP}'
                         || array_to_string(ts[1:a], ' ') || '{_FIM_SEP}'
                         || array_to_string(ts[a + 1:b], ' '))
                ELSE md5(text) END AS spm_digest
    FROM cut2
    """,
)
def t15_fim_transform(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pm25ml_spark.functions.columns import md5_long

    docs = load_table(spark, sf_dir, "documents")
    ts = _tokens()
    n = F.size(ts)
    h1 = md5_long(F.concat_ws(":", F.lit("fim1"), F.col("doc_id")))
    h2 = md5_long(F.concat_ws(":", F.lit("fim2"), F.col("doc_id")))
    base = docs.select(
        "doc_id",
        "text",
        ts.alias("ts"),
        n.alias("n"),
        ((h1 % 2 == 0) & (n >= 3)).alias("fim_applied"),
        (
            1 + (h1 % F.when(n >= 3, n - 2).otherwise(1))
        ).alias("a"),
        h2.alias("h2"),
    ).withColumn(
        "b",
        F.col("a")
        + 1
        + (
            F.col("h2")
            % F.when(
                F.col("n") - F.col("a") - 1 >= 1,
                F.col("n") - F.col("a") - 1,
            ).otherwise(1)
        ),
    )
    prefix = F.array_join(F.slice("ts", F.lit(1), F.col("a")), " ")
    middle = F.array_join(
        F.slice("ts", F.col("a") + 1, F.col("b") - F.col("a")), " "
    )
    suffix = F.array_join(
        F.slice("ts", F.col("b") + 1, F.col("n") - F.col("b")), " "
    )
    spm = F.md5(
        F.concat(
            suffix, F.lit(_FIM_SEP), prefix, F.lit(_FIM_SEP), middle
        )
    )
    app = F.col("fim_applied")
    return base.select(
        "doc_id",
        F.col("n").cast("long").alias("n_tokens"),
        F.when(app, 1).otherwise(0).alias("fim_applied"),
        F.when(app, F.col("a")).otherwise(F.col("n")).cast("long").alias("prefix_len"),
        F.when(app, F.col("b") - F.col("a")).otherwise(0).cast("long").alias("middle_len"),
        F.when(app, F.col("n") - F.col("b")).otherwise(0).cast("long").alias("suffix_len"),
        F.when(app, spm).otherwise(F.md5("text")).alias("spm_digest"),
    )


# --------------------------------------------------------------------------
# t14 — language mix of PACKED training sequences: after concat-and-chunk
# packing (t13), how language-fragmented is each fixed-size chunk? Each
# doc's token run is split exactly across the chunks it spans (tokens of
# doc d in chunk c = min((c+1)·C, s+n) − max(c·C, s)), giving per-chunk
# per-language token counts and the dominant-language share — the
# diagnostic a mixing pipeline reads before choosing doc ordering or
# chunk size. Same exact distributed prefix-sum as t13; the chunk-range
# explode adds spans_boundary+1 rows per doc (≈1 for C ≫ doc length).
@query(
    "t14_chunk_language_mix",
    f"""
    WITH d AS (
        SELECT doc_id, lang, len(string_split(text, ' ')) AS n_tokens
        FROM documents
    ),
    c AS (
        SELECT doc_id, lang, n_tokens,
               SUM(n_tokens) OVER (ORDER BY doc_id
                                   ROWS BETWEEN UNBOUNDED PRECEDING
                                   AND CURRENT ROW) - n_tokens AS s
        FROM d
    ),
    spans AS (
        SELECT lang, u.chunk_id,
               LEAST((u.chunk_id + 1) * {_PACK_C}, s + n_tokens)
                 - GREATEST(u.chunk_id * {_PACK_C}, s) AS n_in_chunk
        FROM c, UNNEST(range(CAST(s // {_PACK_C} AS BIGINT),
                             CAST((s + n_tokens - 1) // {_PACK_C} + 1 AS BIGINT)))
             AS u(chunk_id)
    ),
    per AS (
        SELECT chunk_id, lang, CAST(SUM(n_in_chunk) AS BIGINT) AS n_tokens
        FROM spans GROUP BY chunk_id, lang
    )
    SELECT chunk_id,
           CAST(COUNT(*) AS BIGINT) AS n_langs,
           CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
           MAX(n_tokens) AS top_lang_tokens,
           CAST(MAX(n_tokens) AS DOUBLE) / SUM(n_tokens) AS top_share
    FROM per
    GROUP BY chunk_id
    """,
)
def t14_chunk_language_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pm25ml_spark.operators.packing import pack_sequences

    docs = load_table(spark, sf_dir, "documents")
    d = docs.select(
        "doc_id", "lang", F.size(_tokens()).cast("long").alias("n_tokens")
    )
    # doc_id alone is a unique key, so ordering by ["doc_id"] is
    # identical to ["doc_id", "lang"] — and the single numeric key lets
    # the split sampler take the JVM approxQuantile fast path instead of
    # the generic Python-side sampler (the r7→r6 t14 wall-time gap).
    packed = pack_sequences(d, "n_tokens", ["doc_id"], _PACK_C)
    c_lit = F.lit(_PACK_C)
    spans = packed.select(
        "lang",
        "n_tokens",
        F.col("start_offset").alias("s"),
        F.explode(
            F.sequence(
                (F.col("start_offset") / c_lit).cast("long"),
                ((F.col("start_offset") + F.col("n_tokens") - 1) / c_lit).cast(
                    "long"
                ),
            )
        ).alias("chunk_id"),
    ).select(
        "lang",
        "chunk_id",
        (
            F.least((F.col("chunk_id") + 1) * c_lit, F.col("s") + F.col("n_tokens"))
            - F.greatest(F.col("chunk_id") * c_lit, F.col("s"))
        ).alias("n_in_chunk"),
    )
    per = spans.groupBy("chunk_id", "lang").agg(
        F.sum("n_in_chunk").cast("bigint").alias("n_tokens")
    )
    return per.groupBy("chunk_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_langs"),
        F.sum("n_tokens").cast("bigint").alias("total_tokens"),
        F.max("n_tokens").alias("top_lang_tokens"),
        (F.max("n_tokens").cast("double") / F.sum("n_tokens")).alias(
            "top_share"
        ),
    )


# --------------------------------------------------------------------------
# t16 — n-gram novelty: per doc, the fraction of its distinct 3-grams
# whose FIRST corpus occurrence (min doc_id) is this doc — the freshness
# metric a curation pipeline tracks across crawl snapshots (a corpus of
# near-copies scores ~0, novel text ~1). Shape: explode grams → distinct
# → gram-keyed min-agg → gram-keyed join back (co-partitioned — the agg
# output is already hashed on gram) → per-doc agg. Linear in total
# grams; no windows, no cartesian.
@query(
    "t16_ngram_novelty",
    """
    WITH toks AS (
        SELECT doc_id, string_split(text, ' ') AS t FROM documents
    ),
    grams AS (
        SELECT DISTINCT doc_id, g
        FROM toks, UNNEST(list_transform(range(1, len(t) - 1),
                          i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS u(g)
    ),
    firsts AS (SELECT g, MIN(doc_id) AS first_doc FROM grams GROUP BY g)
    SELECT doc_id,
           COUNT(*) AS n_grams,
           CAST(COUNT(*) FILTER (first_doc = doc_id) AS BIGINT) AS n_novel,
           ROUND(CAST(COUNT(*) FILTER (first_doc = doc_id) AS DOUBLE)
                 / COUNT(*), 6) AS novel_frac
    FROM grams JOIN firsts USING (g)
    GROUP BY doc_id
    """,
)
def t16_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    # word_ngrams gates sequence() on size >= n: docs with < 3 tokens
    # yield an EMPTY gram array (a bare sequence(1, n-2) would DESCEND
    # for short docs and emit null-padded spurious grams the oracle's
    # range(1, len-1) never produces).
    grams = (
        docs.select("doc_id", F.explode(word_ngrams(3)).alias("g"))
        .distinct()
    )
    firsts = grams.groupBy("g").agg(F.min("doc_id").alias("first_doc"))
    novel = F.sum(
        F.when(F.col("first_doc") == F.col("doc_id"), 1).otherwise(0)
    ).cast("long")
    return (
        grams.join(firsts, "g")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            novel.alias("n_novel"),
            F.round(
                novel.cast("double") / F.count(F.lit(1)), 6
            ).alias("novel_frac"),
        )
    )


# --------------------------------------------------------------------------
# t17 — sliding-window chunker (RAG/pretraining chunking with overlap):
# every doc yields ceil(max(n-W,0)/S)+1 chunks of ≤ W tokens at stride
# S (tail chunks overlap their predecessor, standard practice). A PURE
# NARROW PROJECTION — split + sequence + explode + slice, zero shuffle,
# embarrassingly parallel at any corpus size.
_CHUNK_W, _CHUNK_S = 32, 24


@query(
    "t17_sliding_chunks",
    f"""
    WITH toks AS (
        SELECT doc_id, string_split(text, ' ') AS t,
               len(string_split(text, ' ')) AS n FROM documents
    )
    SELECT doc_id, CAST(cid AS BIGINT) AS chunk_id,
           CAST(LEAST({_CHUNK_W}, n - cid * {_CHUNK_S}) AS BIGINT)
             AS chunk_tokens,
           md5(array_to_string(
               list_slice(t, cid * {_CHUNK_S} + 1,
                          cid * {_CHUNK_S}
                          + LEAST({_CHUNK_W}, n - cid * {_CHUNK_S})), ' '))
             AS chunk_hash
    FROM toks,
         UNNEST(range(0, GREATEST((n - {_CHUNK_W} + {_CHUNK_S} - 1)
                                  // {_CHUNK_S}, 0) + 1)) AS u(cid)
    """,
)
def t17_sliding_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    W, S = _CHUNK_W, _CHUNK_S
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.split("text", " ").alias("t"),
        F.size(F.split("text", " ")).alias("n"),
    )
    exploded = toks.select(
        "doc_id",
        "t",
        "n",
        F.explode(
            F.expr(f"sequence(0, greatest((n - {W} + {S} - 1) div {S}, 0))")
        ).alias("cid"),
    )
    clen = F.least(F.lit(W), F.col("n") - F.col("cid") * S)
    return exploded.select(
        "doc_id",
        F.col("cid").cast("long").alias("chunk_id"),
        clen.cast("long").alias("chunk_tokens"),
        F.md5(
            F.concat_ws(
                " ", F.slice(F.col("t"), F.col("cid") * S + 1, clen)
            )
        ).alias("chunk_hash"),
    )


# --------------------------------------------------------------------------
# t18 — token-distribution entropy (the information-theoretic quality
# signal next to t02's ratios and t11's repetition counts): Shannon
# entropy of each document's token frequency distribution plus its
# normalized form H / log2(n_distinct) in [0,1] — degenerate spammy docs
# sit near 0, natural text near 1. Per-token terms round at 6 dp and
# decimal-sum so the per-doc total is order-independent; the whole plan
# is one explode + two hash aggregates (map-side combinable), no windows,
# no Python.
@query(
    "t18_token_entropy",
    """
    WITH tf AS (
        SELECT doc_id, t, COUNT(*) AS c
        FROM (SELECT doc_id, UNNEST(string_split(text, ' ')) AS t
              FROM documents)
        GROUP BY doc_id, t
    ),
    n AS (SELECT doc_id, SUM(c) AS n, COUNT(*) AS n_distinct
          FROM tf GROUP BY doc_id),
    terms AS (
        SELECT tf.doc_id,
               ROUND((CAST(c AS DOUBLE) / n)
                     * log2(CAST(n AS DOUBLE) / c), 6) AS term
        FROM tf JOIN n USING (doc_id)
    )
    SELECT t.doc_id,
           CAST(ANY_VALUE(n.n) AS BIGINT) AS n_tokens,
           CAST(ANY_VALUE(n.n_distinct) AS BIGINT) AS n_distinct,
           ROUND(CAST(SUM(CAST(term AS DECIMAL(38,6))) AS DOUBLE), 6)
             AS entropy,
           CASE WHEN ANY_VALUE(n.n_distinct) > 1
                THEN ROUND(CAST(SUM(CAST(term AS DECIMAL(38,6))) AS DOUBLE)
                           / log2(CAST(ANY_VALUE(n.n_distinct) AS DOUBLE)), 6)
                ELSE 0.0 END AS norm_entropy
    FROM terms t JOIN n ON t.doc_id = n.doc_id
    GROUP BY t.doc_id
    """,
)
def t18_token_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    tf = (
        docs.select("doc_id", F.explode(_tokens()).alias("t"))
        .groupBy("doc_id", "t")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    n = tf.groupBy("doc_id").agg(
        F.sum("c").alias("n"), F.count(F.lit(1)).alias("n_distinct")
    )
    term = F.round(
        (F.col("c").cast("double") / F.col("n"))
        * F.log2(F.col("n").cast("double") / F.col("c")),
        6,
    )
    ent = F.sum(term.cast("decimal(38,6)")).cast("double")
    return (
        tf.join(n, "doc_id")
        .groupBy("doc_id")
        .agg(
            F.first("n").cast("bigint").alias("n_tokens"),
            F.first("n_distinct").cast("bigint").alias("n_distinct"),
            F.round(ent, 6).alias("entropy"),
            F.when(
                F.first("n_distinct") > 1,
                F.round(
                    ent / F.log2(F.first("n_distinct").cast("double")), 6
                ),
            )
            .otherwise(0.0)
            .alias("norm_entropy"),
        )
    )


# --------------------------------------------------------------------------
# t19 — blocklist redaction audit (the PII-scrub shape: dictionary +
# regex term removal with per-source accounting — swap the word list
# for email/phone/SSN patterns and the plan is unchanged). One
# projection pass computes per-doc hit count and post-redaction length
# JVM-side (regexp_count / regexp_replace — no Python in the hot path),
# then a per-source hash aggregate; integers end-to-end so the audit is
# bit-exact. Pattern kept to portable regex (\b + alternation) so the
# same spelling runs on Java regex and RE2.
_T19_PAT = r"\b(customer|key|error|stream)\b"


@query(
    "t19_blocklist_redaction",
    f"""
    WITH d AS (
        SELECT source,
               len(regexp_extract_all(text, '{_T19_PAT}')) AS hits,
               length(text) AS chars,
               length(regexp_replace(text, '{_T19_PAT}', '[X]', 'g')) AS red
        FROM documents
    )
    SELECT source,
           COUNT(*) AS n_docs,
           CAST(SUM(CASE WHEN hits > 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS docs_with_hits,
           CAST(SUM(hits) AS BIGINT) AS total_hits,
           CAST(SUM(chars) AS BIGINT) AS total_chars,
           CAST(SUM(red) AS BIGINT) AS redacted_chars
    FROM d GROUP BY source
    """,
)
def t19_blocklist_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    d = docs.select(
        "source",
        F.regexp_count(F.col("text"), F.lit(_T19_PAT)).alias("hits"),
        F.length("text").alias("chars"),
        F.length(F.regexp_replace("text", _T19_PAT, "[X]")).alias("red"),
    )
    return d.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.when(F.col("hits") > 0, 1).otherwise(0))
        .cast("bigint")
        .alias("docs_with_hits"),
        F.sum("hits").cast("bigint").alias("total_hits"),
        F.sum("chars").cast("bigint").alias("total_chars"),
        F.sum("red").cast("bigint").alias("redacted_chars"),
    )


# --------------------------------------------------------------------------
# t20 — winnowing fingerprint selection (Schleimer, Wilkerson, Aiken,
# SIGMOD 2003 — the MOSS algorithm): hash every token 3-gram, slide a
# w=4 window over the hash sequence, and select the RIGHTMOST MINIMAL
# hash of each window. Guarantees: any shared substring of length
# >= w+k-1 tokens yields at least one shared fingerprint, and selection
# density is ~2/(w+1) — the standard position-robust alternative to
# MinHash when match LOCALITY matters (plagiarism spans, license
# boilerplate) rather than whole-doc similarity.
#
# The rightmost-min argmax is ONE window min over an order-embedding
# key: key = h*2^21 + (2^21-1 - pos) packs (hash asc, pos desc) into a
# single BIGINT (h is the first 40 md5 bits, pos < 2^21 — both bounds
# documented, integer-exact in every engine; MOSS itself uses 32-bit
# hashes). min(key) over [CURRENT, w-1 FOLLOWING] per doc is then the
# selected (hash, pos) of the window starting at each position — a
# BOUNDED 4-row frame partitioned by doc_id, never a corpus window.
# Trailing starts beyond n-w+1 are dropped (they'd re-select suffix
# windows); when a doc has fewer than w k-grams the single short window
# keeps winnowing's >= 1-fingerprint guarantee.
_WIN_W = 4  # window size in k-grams
_WIN_PB = 2_097_152  # 2^21 — position packing base


def winnow_selection(docs: DataFrame) -> DataFrame:
    """Winnowing fingerprint selection: ``(doc_id, n_kg, sel_pos,
    sel_h)`` — the distinct rightmost-min (hash, position) picks of
    every w-window over the doc's 3-gram hash sequence (algorithm and
    packing-key argument in the comment above), profiled per doc by
    t20."""
    kgs = docs.select(
        "doc_id",
        (F.size(_tokens()) - 2).cast("bigint").alias("n_kg"),
        F.posexplode(word_ngrams(3)).alias("pos0", "kg"),
    )
    h = F.conv(F.substring(F.md5(F.col("kg")), 1, 10), 16, 10).cast("bigint")
    # enforce the documented packing bound: a position >= 2^21 would
    # borrow from the hash bits and silently corrupt the window min
    # (both engines identically, so the oracle could not catch it) —
    # fail loudly instead
    pos_ok = F.col("pos0") + 1 < _WIN_PB
    key = h * _WIN_PB + (F.lit(_WIN_PB - 1) - (F.col("pos0") + 1))
    keyed = kgs.select(
        "doc_id",
        "n_kg",
        (F.col("pos0") + 1).alias("i"),
        F.when(pos_ok, key)
        .otherwise(
            F.raise_error(
                F.lit(
                    "t20 winnowing: document exceeds 2^21-1 k-grams — "
                    "split it or widen the position packing base"
                )
            ).cast("bigint")
        )
        .alias("key"),
    )
    w = (
        Window.partitionBy("doc_id")
        .orderBy("i")
        .rowsBetween(Window.currentRow, _WIN_W - 1)
    )
    return (
        keyed.withColumn("kmin", F.min("key").over(w))
        .filter(
            F.col("i") <= F.greatest(F.lit(1), F.col("n_kg") - (_WIN_W - 1))
        )
        .select(
            "doc_id",
            "n_kg",
            (F.lit(_WIN_PB - 1) - F.col("kmin") % _WIN_PB).alias("sel_pos"),
            F.expr(f"kmin div {_WIN_PB}").alias("sel_h"),
        )
        .distinct()
    )


def winnow_selection_staged(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Build-once staged winnowing selection (plans/artifacts.py): t20
    consumes the full-corpus fingerprint pick, and at scale a MOSS-style
    system stages exactly this table next to the corpus — per query it
    is a posexplode of every 3-gram plus a sliding-window min, the
    dominant cost of t20."""
    from pm25ml_spark.plans.artifacts import staged_table

    return staged_table(
        spark,
        sf_dir,
        "winnow_sel",
        (_WIN_W, _WIN_PB),
        lambda: winnow_selection(load_table(spark, sf_dir, "documents")),
        inputs=("documents",),
    )


# t20's oracle fragment: the winnowing selection CTE chain (DuckDB
# spelling of winnow_selection).
WINNOW_SEL_CTE = f"""
    tok AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
    kg AS (
        SELECT doc_id, i,
               ('0x' || substr(md5(ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2]),
                               1, 10))::BIGINT AS h,
               len(ts) - 2 AS n_kg
        FROM tok, UNNEST(range(1, len(ts) - 1)) AS u(i)
    ),
    keyed AS (
        SELECT doc_id, i, n_kg,
               h * {_WIN_PB} + ({_WIN_PB - 1} - i) AS key
        FROM kg
    ),
    wmin AS (
        SELECT doc_id, i, n_kg,
               MIN(key) OVER (PARTITION BY doc_id ORDER BY i
                              ROWS BETWEEN CURRENT ROW
                              AND {_WIN_W - 1} FOLLOWING) AS kmin
        FROM keyed
    ),
    sel AS (
        SELECT DISTINCT doc_id, n_kg,
               {_WIN_PB - 1} - (kmin % {_WIN_PB}) AS sel_pos,
               kmin // {_WIN_PB} AS sel_h
        FROM wmin
        WHERE i <= GREATEST(1, n_kg - {_WIN_W - 1})
    )
"""


@query(
    "t20_winnowing_fingerprints",
    f"""
    WITH {WINNOW_SEL_CTE}
    SELECT doc_id,
           MAX(n_kg) AS n_kgrams,
           COUNT(*) AS n_selected,
           COUNT(DISTINCT sel_h) AS n_distinct_fp,
           ROUND(CAST(COUNT(*) AS DOUBLE) / MAX(n_kg), 6) AS density
    FROM sel GROUP BY doc_id
    """,
)
def t20_winnowing_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    sel = winnow_selection_staged(spark, sf_dir)
    return sel.groupBy("doc_id").agg(
        F.max("n_kg").alias("n_kgrams"),
        F.count(F.lit(1)).alias("n_selected"),
        F.countDistinct("sel_h").alias("n_distinct_fp"),
        F.round(
            F.count(F.lit(1)).cast("double") / F.max("n_kg"), 6
        ).alias("density"),
    )


# --------------------------------------------------------------------------
# t23 — corpus length profile in log2 buckets: the doc-length histogram
# every curation dashboard opens with (power-of-two buckets because
# token-length distributions are heavy-tailed). Engine-exact WITHOUT
# floating log: floor(log2(n)) = bitlength(n) − 1, spelled as the
# length of the binary rendering on both sides (Spark `bin()`, DuckDB
# `printf('%b')`) — no libm log2 whose last-ulp rounding could flip a
# floor at bucket boundaries. Share is one exact-integer division per
# bucket row.
@query(
    "t23_doclen_histogram",
    """
    WITH d AS (
        SELECT length(printf('%b', len(string_split(text, ' ')))) - 1
                   AS bucket,
               len(string_split(text, ' ')) AS n_tokens
        FROM documents
    ),
    tot AS (SELECT COUNT(*) AS total FROM d)
    SELECT bucket,
           COUNT(*) AS n_docs,
           CAST(MIN(n_tokens) AS BIGINT) AS min_tokens,
           CAST(MAX(n_tokens) AS BIGINT) AS max_tokens,
           CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
           CAST(COUNT(*) AS DOUBLE) / (SELECT total FROM tot) AS share
    FROM d
    GROUP BY bucket
    """,
)
def t23_doclen_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    n = F.size(_tokens()).cast("long")
    d = docs.select(
        (F.length(F.bin(n)) - 1).cast("long").alias("bucket"),
        n.alias("n_tokens"),
    )
    tot = F.broadcast(d.agg(F.count(F.lit(1)).alias("total")))
    return (
        d.groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("n_tokens").alias("min_tokens"),
            F.max("n_tokens").alias("max_tokens"),
            F.sum("n_tokens").alias("total_tokens"),
        )
        .join(tot)
        .select(
            "bucket",
            "n_docs",
            "min_tokens",
            "max_tokens",
            "total_tokens",
            (F.col("n_docs").cast("double") / F.col("total")).alias("share"),
        )
    )
