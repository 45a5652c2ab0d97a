"""Deduplication plans over `documents` (beyond-reference LLM-pipeline ops).

Exact, normalized, n-gram-Jaccard, MinHash+LSH, and SimHash dedup — each
wraps an operator from ``pm25ml_spark.operators.dedup``. Oracles recompute
the same md5-derived signatures in DuckDB SQL, so even the hash-based
operators are value-checked, not just row-counted. The MinHash plan's
oracle is the exact-Jaccard pair set: LSH candidates are exact-verified, so
the outputs agree unless LSH *misses* a pair (probability ≈ (1-t^r)^b ≈
2e-4 at t=0.9, → 0 as t→1 where real dups live).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pm25ml_spark.catalog import load_table
from pm25ml_spark.functions.columns import md5_long
from pm25ml_spark.operators import dedup as D
from pm25ml_spark.plans.registry import query

# Shared oracle fragment: distinct 3-gram shingles per doc.
_SHINGLES_CTE = """
    toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
    sh_raw AS (
        SELECT doc_id,
               UNNEST(list_transform(range(1, len(t) - 1),
                                     i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS s
        FROM toks
    ),
    sh AS (SELECT DISTINCT doc_id, s FROM sh_raw),
    counts AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id)
"""

_JACCARD_PAIRS = """
    pairs AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               ca.n_sh AS na, cb.n_sh AS nb, COUNT(*) AS shared
        FROM sh a
        JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
        JOIN counts ca ON ca.doc_id = a.doc_id
        JOIN counts cb ON cb.doc_id = b.doc_id
        GROUP BY 1, 2, 3, 4
    )
"""


@query(
    "dd01_exact_dedup",
    """
    SELECT md5(text) AS h, MIN(doc_id) AS keep_id, COUNT(*) AS n_copies
    FROM documents GROUP BY md5(text)
    """,
)
def dd01_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return D.exact_dedup_groups(docs)


@query(
    "dd02_normalized_dedup",
    """
    SELECT md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS h,
           MIN(doc_id) AS keep_id, COUNT(*) AS n_copies
    FROM documents
    GROUP BY 1
    """,
)
def dd02_normalized_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return D.normalized_dedup_groups(docs)


@query(
    "dd03_jaccard_pairs",
    f"""
    WITH {_SHINGLES_CTE}, {_JACCARD_PAIRS}
    SELECT doc_a, doc_b, shared,
           CAST(shared AS DOUBLE) / (na + nb - shared) AS jaccard
    FROM pairs
    WHERE shared * 5 >= 3 * (na + nb - shared)
    """,
)
def dd03_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # served from the build-once staged artifact (plans/dup_graph.py):
    # the first pair consumer in a session pays the shingle join, every
    # other (dd08/dd11/cp09/gr01-gr06) reads the staged parquet
    from pm25ml_spark.plans.dup_graph import dup_edges

    return dup_edges(spark, sf_dir)


@query(
    "dd04_minhash_lsh_pairs",
    f"""
    WITH {_SHINGLES_CTE}, {_JACCARD_PAIRS}
    SELECT doc_a, doc_b,
           CAST(shared AS DOUBLE) / (na + nb - shared) AS jaccard
    FROM pairs
    WHERE shared * 10 >= 9 * (na + nb - shared)
    """,
)
def dd04_minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return D.minhash_dedup_pairs(docs, t_num=9, t_den=10)


@query(
    "dd06_embedding_neardup",
    """
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           ROUND(
             list_sum(list_transform(range(1, len(a.v) + 1), i -> a.v[i] * b.v[i]))
             / (sqrt(list_sum(list_transform(a.v, x -> x * x)))
                * sqrt(list_sum(list_transform(b.v, x -> x * x)))), 6) AS score
    FROM e a JOIN e b ON a.vec_id < b.vec_id
    WHERE ROUND(
             list_sum(list_transform(range(1, len(a.v) + 1), i -> a.v[i] * b.v[i]))
             / (sqrt(list_sum(list_transform(a.v, x -> x * x)))
                * sqrt(list_sum(list_transform(b.v, x -> x * x)))), 6) >= 0.45
    """,
)
def dd06_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    # threshold 0.45 (not the production 0.99 default): the synthetic
    # corpus has no pairs above cos 0.61, and an empty result would make
    # the oracle check vacuous — 0.45 yields a real verified pair set.
    from pm25ml_spark.operators.similarity import cosine_neardup_pairs

    emb = load_table(spark, sf_dir, "embeddings")
    return cosine_neardup_pairs(emb, threshold=0.45)


@query(
    "dd05_simhash",
    """
    WITH tok AS (
        SELECT DISTINCT doc_id, UNNEST(string_split(text, ' ')) AS t FROM documents
    ),
    h AS (
        SELECT doc_id, ('0x' || substr(md5(t), 1, 15))::BIGINT AS hv FROM tok
    ),
    bits AS (
        SELECT doc_id, j,
               SUM(CASE WHEN (hv >> j) & 1 = 1 THEN 1 ELSE -1 END) AS score
        FROM (SELECT doc_id, hv, UNNEST(range(0, 60)) AS j FROM h)
        GROUP BY doc_id, j
    )
    SELECT doc_id,
           CAST(SUM(CASE WHEN score > 0 THEN 1::BIGINT << j ELSE 0 END)
                AS BIGINT) AS simhash
    FROM bits GROUP BY doc_id
    """,
)
def dd05_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return D.simhash(docs)


_SIMHASH_CTE = """
    tok AS (
        SELECT DISTINCT doc_id, UNNEST(string_split(text, ' ')) AS t FROM documents
    ),
    hh AS (
        SELECT doc_id, ('0x' || substr(md5(t), 1, 15))::BIGINT AS hv FROM tok
    ),
    bits AS (
        SELECT doc_id, j,
               SUM(CASE WHEN (hv >> j) & 1 = 1 THEN 1 ELSE -1 END) AS score
        FROM (SELECT doc_id, hv, UNNEST(range(0, 60)) AS j FROM hh)
        GROUP BY doc_id, j
    ),
    sig AS (
        SELECT doc_id,
               SUM(CASE WHEN score > 0 THEN 1::BIGINT << j ELSE 0 END) AS simhash
        FROM bits GROUP BY doc_id
    )
"""


@query(
    "dd07_simhash_pairs",
    f"""
    WITH {_SIMHASH_CTE}
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
    FROM sig a JOIN sig b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
    """,
)
def dd07_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # pigeonhole-banded candidates + exact hamming verify; the oracle is
    # the brute-force pair set because banding is lossless at ≤ 3 bits.
    docs = load_table(spark, sf_dir, "documents")
    return D.simhash_pairs(docs, max_hamming=3)


@query(
    "dd08_dup_clusters",
    f"""
    WITH RECURSIVE {_SHINGLES_CTE}, {_JACCARD_PAIRS},
    qual AS (
        SELECT doc_a, doc_b FROM pairs
        WHERE shared * 5 >= 3 * (na + nb - shared)
    ),
    e AS (
        SELECT doc_a AS a, doc_b AS b FROM qual
        UNION SELECT doc_b, doc_a FROM qual
    ),
    reach(a, b) AS (
        SELECT a, a FROM (SELECT DISTINCT a FROM e)
        UNION
        SELECT r.a, e.b FROM reach r JOIN e ON r.b = e.a
    ),
    comp AS (SELECT a AS doc_id, MIN(b) AS cluster_id FROM reach GROUP BY a),
    sizes AS (SELECT cluster_id, COUNT(*) AS cluster_size FROM comp GROUP BY cluster_id)
    SELECT doc_id, cluster_id, cluster_size,
           CASE WHEN doc_id = cluster_id THEN 1 ELSE 0 END AS is_keeper
    FROM comp JOIN sizes USING (cluster_id)
    """,
)
def dd08_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    # pairs (dd03's exact Jaccard graph) -> connected components ->
    # duplicate clusters with keep-lowest-id policy. The oracle computes
    # the same clusters with a recursive-CTE transitive closure.
    from pm25ml_spark.operators.components import dedup_clusters
    from pm25ml_spark.plans.dup_graph import dup_edges

    pairs = dup_edges(spark, sf_dir)
    return dedup_clusters(pairs)


@query(
    "cp01_corpus_curation",
    f"""
    WITH RECURSIVE
    quality AS (
        SELECT doc_id, text, len(string_split(text, ' ')) AS n_tokens
        FROM documents
        WHERE len(string_split(text, ' ')) >= 10
    ),
    exact_keep AS (
        SELECT MIN(doc_id) AS doc_id FROM quality GROUP BY md5(text)
    ),
    survivors AS (
        SELECT q.doc_id, q.text, q.n_tokens FROM quality q
        JOIN exact_keep USING (doc_id)
    ),
    toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM survivors),
    sh_raw AS (
        SELECT doc_id,
               UNNEST(list_transform(range(1, len(t) - 1),
                                     i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS s
        FROM toks
    ),
    sh AS (SELECT DISTINCT doc_id, s FROM sh_raw),
    counts AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
    pairs AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               ca.n_sh AS na, cb.n_sh AS nb, COUNT(*) AS shared
        FROM sh a
        JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
        JOIN counts ca ON ca.doc_id = a.doc_id
        JOIN counts cb ON cb.doc_id = b.doc_id
        GROUP BY 1, 2, 3, 4
    ),
    qual_pairs AS (
        SELECT doc_a, doc_b FROM pairs
        WHERE shared * 5 >= 3 * (na + nb - shared)
    ),
    e AS (
        SELECT doc_a AS a, doc_b AS b FROM qual_pairs
        UNION SELECT doc_b, doc_a FROM qual_pairs
    ),
    reach(a, b) AS (
        SELECT a, a FROM (SELECT DISTINCT a FROM e)
        UNION
        SELECT r.a, e.b FROM reach r JOIN e ON r.b = e.a
    ),
    comp AS (SELECT a AS doc_id, MIN(b) AS cluster_id FROM reach GROUP BY a),
    dropped AS (SELECT doc_id FROM comp WHERE doc_id <> cluster_id),
    curated AS (
        SELECT s.doc_id, s.n_tokens FROM survivors s
        WHERE s.doc_id NOT IN (SELECT doc_id FROM dropped)
    )
    SELECT COUNT(*) AS n_docs, CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
           MIN(doc_id) AS min_doc_id, MAX(doc_id) AS max_doc_id
    FROM curated
    """,
)
def cp01_corpus_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The LLM-corpus curation pipeline as ONE composed plan: quality
    filter → exact dedup (keep lowest id) → near-dup clustering over the
    survivors (prefix-filtered Jaccard + connected components) → drop
    cluster non-keepers → corpus stats. Every stage is one of the
    catalog's own operators; the oracle recomputes the identical chain in
    SQL (recursive CTE for the clustering).

    The near-dup stage reads the STAGED edge artifact restricted to
    surviving endpoints (two semi joins) instead of re-running the
    shingle join over survivors: pairwise Jaccard between two docs does
    not depend on any other doc, so dup-pairs-among-survivors is exactly
    the survivor-filtered subset of the corpus pair list — the same
    build-once topology the gr family uses."""
    from pm25ml_spark.operators.components import dedup_clusters
    from pm25ml_spark.plans.dup_graph import dup_edges

    docs = load_table(spark, sf_dir, "documents")
    quality = docs.withColumn(
        "n_tokens", F.size(F.split("text", " "))
    ).filter(F.col("n_tokens") >= 10)
    exact_keep = (
        quality.groupBy(F.md5("text").alias("h"))
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id")
    )
    survivors = quality.join(exact_keep, "doc_id").persist()
    surv_ids = survivors.select("doc_id")
    pairs = (
        dup_edges(spark, sf_dir)
        .join(
            surv_ids.withColumnRenamed("doc_id", "doc_a"),
            "doc_a",
            "left_semi",
        )
        .join(
            surv_ids.withColumnRenamed("doc_id", "doc_b"),
            "doc_b",
            "left_semi",
        )
    )
    dropped = (
        dedup_clusters(pairs)
        .filter(F.col("is_keeper") == 0)
        .select("doc_id")
    )
    curated = survivors.join(dropped, "doc_id", "left_anti")
    return curated.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("total_tokens"),
        F.min("doc_id").alias("min_doc_id"),
        F.max("doc_id").alias("max_doc_id"),
    )


# --------------------------------------------------------------------------
# dd09 — edit-distance near-dup pairs via blocking: candidate pairs share
# (lang, 8-char prefix) — an equi-join key, so generation is a shuffle
# hash join, never a cross join — then exact Levenshtein over the 32-char
# prefix verifies. Integer distances, integer threshold: bit-exact across
# engines. The blocking key is the knob that keeps the candidate set
# near-linear at scale (tighten to 12/16 chars as the corpus grows).
@query(
    "dd09_editdist_pairs",
    """
    WITH d AS (
        SELECT doc_id, lang,
               substr(text, 1, 8) AS blk, substr(text, 1, 32) AS prefix
        FROM documents
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           levenshtein(a.prefix, b.prefix) AS dist
    FROM d a
    JOIN d b ON a.lang = b.lang AND a.blk = b.blk AND a.doc_id < b.doc_id
    WHERE levenshtein(a.prefix, b.prefix) <= 8
    """,
)
def dd09_editdist_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        "lang",
        F.substring("text", 1, 8).alias("blk"),
        F.substring("text", 1, 32).alias("prefix"),
    )
    a = docs.alias("a")
    b = docs.alias("b")
    return (
        a.join(
            b,
            (F.col("a.lang") == F.col("b.lang"))
            & (F.col("a.blk") == F.col("b.blk"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.levenshtein(F.col("a.prefix"), F.col("b.prefix"))
            .cast("long")
            .alias("dist"),
        )
        .filter(F.col("dist") <= 8)
    )


# --------------------------------------------------------------------------
# dd10 — cross-document repeated spans (boilerplate / exact substring
# dedup at sub-document granularity). Span length 3 only because the
# synthetic vocabulary is tiny; real corpora use 10-50 token spans with
# the identical plan (one explode + one digest groupBy).
@query(
    "dd10_repeated_spans",
    """
    WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
    chunks AS (
        SELECT doc_id,
               UNNEST(list_transform(
                   range(0, CAST(floor(len(t) / 3) AS INT)),
                   i -> array_to_string(t[i*3+1 : i*3+3], ' '))) AS span
        FROM toks
    )
    SELECT md5(span) AS span_hash,
           COUNT(DISTINCT doc_id) AS n_docs,
           MIN(doc_id) AS first_doc
    FROM chunks
    GROUP BY md5(span)
    HAVING COUNT(DISTINCT doc_id) >= 2
    """,
)
def dd10_repeated_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return D.repeated_spans(docs, span_tokens=3, min_docs=2)


# --------------------------------------------------------------------------
# cp02 — n-gram test-set decontamination: treat one source as the held-out
# benchmark and flag every other document sharing an n-gram with it.
# Bigrams only because the synthetic vocabulary is tiny; real pipelines
# run n=8-13 with the identical broadcast-join plan.
@query(
    "cp02_decontamination",
    """
    WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
    grams AS (
        SELECT doc_id,
               UNNEST(list_transform(range(1, len(t)),
                                     i -> t[i] || ' ' || t[i+1])) AS gram
        FROM toks
    ),
    bench AS (
        SELECT DISTINCT gram FROM grams
        JOIN documents USING (doc_id) WHERE source = 'src0'
    ),
    corp AS (
        SELECT g.doc_id, g.gram FROM grams g
        JOIN documents USING (doc_id) WHERE source <> 'src0'
    )
    SELECT doc_id, COUNT(*) AS n_hits, COUNT(DISTINCT gram) AS n_spans
    FROM corp JOIN bench USING (gram)
    GROUP BY doc_id
    """,
)
def cp02_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return D.contamination_hits(
        docs.filter(F.col("source") != "src0"),
        docs.filter(F.col("source") == "src0"),
        n=2,
    )


# cp04 — the SAME decontamination contract through the Bloom-prefilter
# scale path (operators/bloom.py): the benchmark travels as a JVM-built
# m-bit bitset instead of a broadcast string set, and the exact verify
# join probes only Bloom-suspected n-grams (~fpr × corpus + true hits).
# Output is value-identical to cp02 — Bloom has no false negatives and
# the verify join removes every false positive — so it shares cp02's
# oracle verbatim; the driver hash-check therefore proves the fpr-repair
# argument on real data, not just in a unit test.
@query(
    "cp04_decontamination_bloom",
    """
    WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
    grams AS (
        SELECT doc_id,
               UNNEST(list_transform(range(1, len(t)),
                                     i -> t[i] || ' ' || t[i+1])) AS gram
        FROM toks
    ),
    bench AS (
        SELECT DISTINCT gram FROM grams
        JOIN documents USING (doc_id) WHERE source = 'src0'
    ),
    corp AS (
        SELECT g.doc_id, g.gram FROM grams g
        JOIN documents USING (doc_id) WHERE source <> 'src0'
    )
    SELECT doc_id, COUNT(*) AS n_hits, COUNT(DISTINCT gram) AS n_spans
    FROM corp JOIN bench USING (gram)
    GROUP BY doc_id
    """,
)
def cp04_decontamination_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pm25ml_spark.operators.bloom import contamination_hits_bloom

    docs = load_table(spark, sf_dir, "documents")
    return contamination_hits_bloom(
        docs.filter(F.col("source") != "src0"),
        docs.filter(F.col("source") == "src0"),
        n=2,
    )


# --------------------------------------------------------------------------
# cp03 — semantic (embedding-space) dedup, the SemDeDup pattern (Abbas et
# al., 2023): cluster the corpus in embedding space, find near-duplicate
# pairs only WITHIN a cluster, keep one representative per duplicate
# component. The cluster restriction is what makes embedding dedup
# feasible at corpus scale — candidate pairs shrink from n² to
# Σ(cluster²) ≈ n²/k, and the within-cluster join is an equi-join on the
# cluster id, never a cartesian. Composition of the catalog's own
# operators: strided deterministic centroids + broadcast cosine
# assignment, JVM higher-order-function cosine pairs (the dd06
# scoring), size-adaptive connected components (dd08). The oracle
# recomputes the identical chain in SQL (recursive CTE for components).
def _cos_sql_pair(av: str, bv: str) -> str:
    return (
        f"list_sum(list_transform(range(1, len({av}) + 1), "
        f"i -> CAST({av}[i] AS DOUBLE) * CAST({bv}[i] AS DOUBLE))) "
        f"/ (sqrt(list_sum(list_transform({av}, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) "
        f"* sqrt(list_sum(list_transform({bv}, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))))"
    )


@query(
    "cp03_semantic_dedup",
    f"""
    WITH RECURSIVE
    cent AS (
        SELECT vec_id AS cen_id, embedding AS cv FROM embeddings
        WHERE vec_id % 100 = 7
    ),
    e AS (SELECT vec_id, embedding AS v FROM embeddings),
    assign AS (
        SELECT vec_id, cen_id FROM (
            SELECT e.vec_id, cent.cen_id,
                   row_number() OVER (PARTITION BY e.vec_id
                                      ORDER BY ROUND({_cos_sql_pair('v', 'cv')}, 6) DESC,
                                               cen_id) AS r
            FROM e, cent)
        WHERE r = 1
    ),
    pairs AS (
        SELECT ea.vec_id AS pa, eb.vec_id AS pb
        FROM e ea
        JOIN assign aa ON aa.vec_id = ea.vec_id
        JOIN assign ab ON ab.cen_id = aa.cen_id
        JOIN e eb ON eb.vec_id = ab.vec_id AND ea.vec_id < eb.vec_id
        WHERE ROUND({_cos_sql_pair('ea.v', 'eb.v')}, 6) >= 0.45
    ),
    edges AS (SELECT pa AS a, pb AS b FROM pairs
              UNION SELECT pb, pa FROM pairs),
    reach(a, b) AS (
        SELECT a, a FROM (SELECT DISTINCT a FROM edges)
        UNION
        SELECT r.a, e2.b FROM reach r JOIN edges e2 ON r.b = e2.a
    ),
    comp AS (SELECT a AS vec_id, MIN(b) AS cluster_id FROM reach GROUP BY a),
    dropped AS (SELECT vec_id FROM comp WHERE vec_id <> cluster_id)
    SELECT (SELECT COUNT(*) FROM e) AS n_vecs,
           (SELECT COUNT(*) FROM e) - (SELECT COUNT(*) FROM dropped) AS n_kept,
           (SELECT COUNT(*) FROM dropped) AS n_dropped,
           (SELECT COUNT(DISTINCT cluster_id) FROM comp) AS n_dup_clusters
    """,
)
def cp03_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pm25ml_spark.operators.components import dedup_clusters

    emb = load_table(spark, sf_dir, "embeddings")
    e = emb.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )

    def dot(a, b):
        return F.aggregate(
            F.zip_with(a, b, lambda x, y: x * y),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )

    e = e.withColumn("nv", F.sqrt(dot(F.col("v"), F.col("v"))))
    cent = e.filter(F.col("vec_id") % 100 == 7).select(
        F.col("vec_id").alias("cen_id"),
        F.col("v").alias("cv"),
        F.col("nv").alias("ncv"),
    )
    # assign: centroid set is corpus/stride — broadcast, never shuffled.
    # Argmax by (score DESC, cen_id ASC) via max(struct(score, -cen_id)):
    # the broadcast crossJoin is narrow and the hash aggregate is
    # map-side combinable, so each task folds its n_local×k scored rows
    # down to n_local BEFORE the exchange — the shuffle carries n rows,
    # not n×k (round-5 finding: the row_number window here shuffled the
    # whole explosion; test_plan_quality pins the window's absence).
    # At true 100 TB the production variant swaps the strided centroids
    # for a fixed-size trained codebook + mapInPandas assign (zero
    # explosion); this spelling keeps the static SQL oracle.
    score = F.round(
        dot(F.col("v"), F.col("cv")) / (F.col("nv") * F.col("ncv")), 6
    )
    assigned = (
        e.crossJoin(F.broadcast(cent))
        .withColumn("score", score)
        .groupBy("vec_id")
        .agg(
            F.max(
                F.struct(F.col("score"), (-F.col("cen_id")).alias("neg_cen"))
            ).alias("best"),
            # v/nv are constant within a vec_id group: first() is
            # value-deterministic here and avoids a join back to e
            F.first("v").alias("v"),
            F.first("nv").alias("nv"),
        )
        .select("vec_id", "v", "nv", (-F.col("best.neg_cen")).alias("cen_id"))
    )
    # within-cluster pairs: equi-join on cen_id (the SemDeDup candidate
    # restriction); cosine entirely in JVM higher-order functions
    xa = assigned.select(
        F.col("vec_id").alias("pa"), F.col("v").alias("va"),
        F.col("nv").alias("na"), "cen_id",
    )
    xb = assigned.select(
        F.col("vec_id").alias("pb"), F.col("v").alias("vb"),
        F.col("nv").alias("nb"), "cen_id",
    )
    pair_score = F.round(
        dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb")), 6
    )
    pairs = (
        xa.join(xb, "cen_id")
        .filter(F.col("pa") < F.col("pb"))
        .filter(pair_score >= 0.45)
        .select(F.col("pa").alias("doc_a"), F.col("pb").alias("doc_b"))
    )
    comp = dedup_clusters(pairs)
    stats = comp.agg(
        F.coalesce(
            F.sum(1 - F.col("is_keeper")).cast("long"), F.lit(0).cast("long")
        ).alias("n_dropped"),
        F.countDistinct("cluster_id").alias("n_dup_clusters"),
    )
    total = e.agg(F.count(F.lit(1)).alias("n_vecs"))
    return total.crossJoin(stats).select(
        "n_vecs",
        (F.col("n_vecs") - F.col("n_dropped")).alias("n_kept"),
        "n_dropped",
        "n_dup_clusters",
    )


# --------------------------------------------------------------------------
# cp05 — DSIR-style importance resampling (Xie et al. 2023: "Data Selection
# for Language Models via Importance Resampling"). Score every document by
# the log-likelihood ratio of its hashed-bigram features under a TARGET
# distribution (here: the 'en' slice, standing in for "looks like
# high-quality reference text") vs the RAW corpus distribution, both
# add-one-smoothed over B hash buckets; then resample with the
# deterministic acceptance rule keep ⇔ score > ln(u), u a hash-derived
# uniform per doc — i.e. P(keep) = min(1, e^score), true importance
# resampling with no RNG state.
#
# 100 TB shape: both feature distributions are B-sized (bounded) hash
# aggregates broadcast onto the bigram stream; the corpus moves through
# one explode, one broadcast join, one per-doc sum. No global ordering,
# no top-k window — the acceptance rule is per-row, so the plan is fully
# parallel at any scale. Per-bucket weights are 6-dp-rounded and
# decimal-summed per doc for engine-portable values.
_DSIR_B = 1024


@query(
    "cp05_importance_resampling",
    f"""
    WITH tok AS (SELECT doc_id, lang, string_split(text, ' ') AS ts FROM documents),
    bg AS (
        SELECT doc_id,
               ('0x' || substr(md5(ts[i] || ' ' || ts[i + 1]), 1, 15))::BIGINT
                 % {_DSIR_B} AS bucket,
               CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS is_t
        FROM tok, UNNEST(range(1, len(ts))) AS u(i)
    ),
    dist AS (
        SELECT bucket, COUNT(*) AS cr, SUM(is_t) AS ct
        FROM bg GROUP BY bucket
    ),
    tot AS (SELECT COUNT(*) AS n_r, SUM(is_t) AS n_t FROM bg),
    w AS (
        SELECT bucket,
               ROUND(ln((ct + 1.0) / (n_t + {_DSIR_B}))
                     - ln((cr + 1.0) / (n_r + {_DSIR_B})), 6) AS w
        FROM dist CROSS JOIN tot
    ),
    per_doc AS (
        SELECT bg.doc_id, COUNT(*) AS n_bigrams,
               ROUND(CAST(SUM(CAST(w AS DECIMAL(38,6))) AS DOUBLE), 6) AS score
        FROM bg JOIN w USING (bucket)
        GROUP BY bg.doc_id
    )
    SELECT doc_id, n_bigrams, score,
           CASE WHEN score > ln((('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
                                 % 1000000 + 0.5) / 1000000.0)
                THEN 1 ELSE 0 END AS kept
    FROM per_doc
    """,
)
def cp05_importance_resampling(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    bg = docs.select(
        "doc_id",
        F.explode(D.word_ngrams("text", 2)).alias("b"),
        F.when(F.col("lang") == "en", 1).otherwise(0).alias("is_t"),
    ).select(
        "doc_id", (md5_long(F.col("b")) % _DSIR_B).alias("bucket"), "is_t"
    )
    # aggregate ONCE to per-(doc, bucket) counts; every later stage folds
    # out of that table instead of re-exploding (and re-md5-ing) the
    # corpus: dist and the per-doc score both read cdb, totals fold out
    # of dist. One corpus pass trains AND scores.
    cdb = bg.groupBy("doc_id", "bucket", "is_t").agg(
        F.count(F.lit(1)).alias("n")
    )
    dist = cdb.groupBy("bucket").agg(
        F.sum("n").alias("cr"), F.sum(F.col("n") * F.col("is_t")).alias("ct")
    )
    tot = dist.agg(
        F.sum("cr").alias("n_r"), F.sum("ct").alias("n_t")
    )
    w = dist.crossJoin(F.broadcast(tot)).select(
        "bucket",
        F.round(
            F.log((F.col("ct") + 1.0) / (F.col("n_t") + _DSIR_B))
            - F.log((F.col("cr") + 1.0) / (F.col("n_r") + _DSIR_B)),
            6,
        ).alias("w"),
    )
    # n·w in DECIMAL equals the oracle's per-instance decimal sum (exact
    # repeated addition), so scoring on the aggregate is value-identical
    per_doc = (
        cdb.join(F.broadcast(w), "bucket")
        .groupBy("doc_id")
        .agg(
            F.sum("n").alias("n_bigrams"),
            F.round(
                F.sum(
                    F.col("n") * F.col("w").cast("decimal(38,6)")
                ).cast("double"),
                6,
            ).alias("score"),
        )
    )
    u = (
        (md5_long(F.col("doc_id").cast("string")) % 1_000_000 + 0.5)
        / 1_000_000.0
    )
    return per_doc.select(
        "doc_id",
        "n_bigrams",
        "score",
        F.when(F.col("score") > F.log(u), 1).otherwise(0).alias("kept"),
    )


# --------------------------------------------------------------------------
# cp06 — domain mixture reweighting (DoReMi-flavoured, Xie et al. 2023):
# turn per-SOURCE language-model loss into training mixture weights.
# Each source's cross-entropy under the corpus bigram LM (the t12 scoring
# machinery, aggregated per source instead of per doc) is compared to the
# corpus-wide mean; sources with EXCESS loss (hard/unusual domains) get
# up-weighted by a softmax over the excess, temperature 1 — the
# lightweight static analogue of DoReMi's Group-DRO loop, and the shape a
# pipeline uses to pick sampling ratios before a training run.
#
# 100 TB shape: everything after the (bounded) LM tables is two hash
# aggregates — per-source and corpus-total — over the instance stream,
# then arithmetic on n_sources rows. The softmax runs on 6-dp-rounded
# per-source values with decimal sums, so the weights hash-match across
# engines. max-shift for numerical stability is over n_sources rows (a
# broadcast scalar), matching the SQL spelling exactly.
@query(
    "cp06_domain_mixture",
    """
    WITH tok AS (SELECT doc_id, source, string_split(text, ' ') AS ts FROM documents),
    bg AS (
        SELECT doc_id, source, ts[i] AS w1, ts[i] || ' ' || ts[i + 1] AS b
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
        SELECT source,
               CAST(ROUND(ln((cb + 1.0) / (cw + v)) * 1000000) AS BIGINT)
                   AS lnp_micro
        FROM bg JOIN cb USING (b) JOIN cw USING (w1) CROSS JOIN v
    ),
    per_source AS (
        -- 6-dp half-up round of the mean in pure integer micro-units
        -- ((2a + n) div 2n): ROUND(sum/count, 6) on doubles lands on
        -- half-way points of the 6-dp grid and splits engines (t12)
        SELECT source, COUNT(*) AS n_bigrams,
               CAST((2 * -SUM(lnp_micro) + COUNT(*)) // (2 * COUNT(*))
                    AS BIGINT) / 1000000.0 AS ce
        FROM inst GROUP BY source
    ),
    base AS (
        SELECT CAST((2 * -SUM(lnp_micro) + COUNT(*)) // (2 * COUNT(*))
                    AS BIGINT) / 1000000.0 AS ce_corpus
        FROM inst
    ),
    excess AS (
        SELECT source, n_bigrams, ce,
               ROUND(exp(ce - ce_corpus), 6) AS e
        FROM per_source CROSS JOIN base
    ),
    z AS (
        SELECT CAST(SUM(CAST(e AS DECIMAL(38,6))) AS DOUBLE) AS z FROM excess
    )
    SELECT source, n_bigrams, ce,
           ROUND(e / z, 6) AS weight
    FROM excess CROSS JOIN z
    """,
)
def cp06_domain_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    bg = docs.select(
        "doc_id",
        "source",
        F.explode(D.word_ngrams("text", 2)).alias("b"),
    )
    cb = bg.groupBy("b").agg(F.count(F.lit(1)).alias("cb"))
    # prefix counts + vocabulary fold out of the vocabulary-sized cb
    # table (c(w1 ·) = Σ cb by prefix; docs have ≥ 2 tokens so bigram
    # members cover every token) — two corpus scans instead of three,
    # same trained model value-for-value (see t12 for the argument).
    cw = (
        cb.withColumn("w1", F.split("b", " ")[0])
        .groupBy("w1")
        .agg(F.sum("cb").alias("cw"))
    )
    v = cb.select(F.explode(F.split("b", " ")).alias("t")).agg(
        F.count_distinct("t").alias("v")
    )
    # per-(source, bigram) counts first; n·lnp_micro long sums equal the
    # per-instance sums exactly (see t12). Integer micro-units + integer
    # half-up mean rounding, for the same reason as t12: the 6-dp mean of
    # grid values lands ON grid half-way points, where double ROUND
    # splits engines.
    csb = bg.groupBy("source", "b").agg(F.count(F.lit(1)).alias("n"))
    inst = (
        csb.withColumn("w1", F.split("b", " ")[0])
        .join(F.broadcast(cb), "b")
        .join(F.broadcast(cw), "w1")
        .crossJoin(F.broadcast(v))
        .select(
            "source",
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
    dec_ce = (
        F.expr(
            "(2 * -sum(n * lnp_micro) + sum(n)) div (2 * sum(n))"
        )
        / 1_000_000.0
    )
    per_source = inst.groupBy("source").agg(
        F.sum("n").alias("n_bigrams"), dec_ce.alias("ce")
    )
    base = inst.agg(dec_ce.alias("ce_corpus"))
    excess = per_source.crossJoin(F.broadcast(base)).select(
        "source",
        "n_bigrams",
        "ce",
        F.round(F.exp(F.col("ce") - F.col("ce_corpus")), 6).alias("e"),
    )
    z = excess.agg(
        F.sum(F.col("e").cast("decimal(38,6)")).cast("double").alias("z")
    )
    return excess.crossJoin(F.broadcast(z)).select(
        "source",
        "n_bigrams",
        "ce",
        F.round(F.col("e") / F.col("z"), 6).alias("weight"),
    )


# --------------------------------------------------------------------------
# cp07 — composite quality gate (Gopher-style, Rae et al. 2021 §A1):
# combine the lexical-quality signals (t02's length / type-token /
# stopword gates) with the repetition signals (t11) into one keep/drop
# decision, and report the per-source curation summary a pipeline
# operator actually acts on: docs kept, doc-level keep rate, and the
# TOKEN share surviving the gate (what hits the training mix).
# Plan shape: the two signal frames join on doc_id (both already
# partitioned by doc_id from their aggregates); the summary is one
# map-side-combinable groupBy(source) — no broadcast needed, no skew
# (source cardinality is tiny next to docs).


from pm25ml_spark.plans.text import _REP_SQL as _REP_FRAGMENT


@query(
    "cp07_quality_gate",
    f"""
    WITH {_REP_FRAGMENT},
    lex AS (
        SELECT doc_id,
               CASE WHEN n_tokens >= 20
                     AND CAST(n_distinct AS DOUBLE) / n_tokens > 0.3
                     AND CAST(n_stop AS DOUBLE) / n_tokens < 0.5
                    THEN 1 ELSE 0 END AS passes_lexical
        FROM (
            SELECT doc_id,
                   len(string_split(text, ' ')) AS n_tokens,
                   len(list_distinct(string_split(text, ' '))) AS n_distinct,
                   len(list_filter(string_split(text, ' '),
                                   t -> t = 'the' OR t = 'a')) AS n_stop
            FROM documents
        )
    )
    SELECT d.source,
           COUNT(*) AS n_docs,
           CAST(SUM(l.passes_lexical * r.passes_repetition) AS BIGINT)
             AS n_kept,
           CAST(SUM(l.passes_lexical * r.passes_repetition) AS DOUBLE)
             / COUNT(*) AS keep_rate,
           CAST(SUM(r.n_tokens * l.passes_lexical * r.passes_repetition)
                AS DOUBLE) / SUM(r.n_tokens) AS kept_token_share
    FROM documents d
    JOIN rep r ON d.doc_id = r.doc_id
    JOIN lex l ON d.doc_id = l.doc_id
    GROUP BY d.source
    """,
)
def cp07_quality_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pm25ml_spark.plans.text import repetition_signals

    docs = load_table(spark, sf_dir, "documents")
    rep = repetition_signals(docs.select("doc_id", "text"))
    toks = F.split(F.col("text"), " ")
    n_tokens = F.size(toks)
    ttr = F.size(F.array_distinct(toks)).cast("double") / n_tokens
    stop = (
        F.size(F.filter(toks, lambda t: (t == "the") | (t == "a"))).cast(
            "double"
        )
        / n_tokens
    )
    lex = docs.select(
        "doc_id",
        F.when((n_tokens >= 20) & (ttr > 0.3) & (stop < 0.5), 1)
        .otherwise(0)
        .alias("passes_lexical"),
    )
    joined = (
        docs.select("doc_id", "source")
        .join(rep.select("doc_id", "n_tokens", "passes_repetition"), "doc_id")
        .join(lex, "doc_id")
    )
    kept = F.col("passes_lexical") * F.col("passes_repetition")
    return joined.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(kept).cast("bigint").alias("n_kept"),
        (F.sum(kept).cast("double") / F.count(F.lit(1))).alias("keep_rate"),
        (
            F.sum(F.col("n_tokens") * kept).cast("double")
            / F.sum("n_tokens")
        ).alias("kept_token_share"),
    )


# --------------------------------------------------------------------------
# gr01 — PageRank over the near-duplicate graph (graph analytics on the
# dedup family's own edge set): rank documents by duplicate-cluster
# centrality with 3 unrolled power iterations, damping 0.85. Iterative
# graph algorithms are the classic "Spark needs a loop" case — here the
# loop is UNROLLED into pure DataFrame algebra (3 equi-join + aggregate
# rounds over a rank frame keyed by node), so Catalyst sees one DAG and
# there is no driver-side convergence state. Determinism: double sums
# are order-dependent, so each node's incoming contributions are rounded
# to 6 dp and DECIMAL-summed before the damped update, which the oracle
# replicates term-for-term. At 10^9 nodes each iteration is one shuffle
# keyed by node id — the standard distributed PageRank shape.
_PR_D, _PR_ITERS = 0.85, 3


def _pr_oracle() -> str:
    d = _PR_D
    it = f"""
    SELECT e.dst AS doc_id,
           ROUND({(1 - d)!r} / (SELECT n FROM nn)
                 + {d!r} * CAST(SUM(CAST(ROUND(r.rank / deg.deg, 6)
                                          AS DECIMAL(38,6))) AS DOUBLE),
                 6) AS rank
    FROM edges e
    JOIN {{prev}} r ON r.doc_id = e.src
    JOIN deg ON deg.doc_id = e.src
    GROUP BY e.dst
    """
    return f"""
    WITH {_SHINGLES_CTE}, {_JACCARD_PAIRS},
    qual AS (
        SELECT doc_a, doc_b FROM pairs
        WHERE shared * 5 >= 3 * (na + nb - shared)
    ),
    edges AS (
        SELECT doc_a AS src, doc_b AS dst FROM qual
        UNION ALL SELECT doc_b, doc_a FROM qual
    ),
    deg AS (SELECT src AS doc_id, COUNT(*) AS deg FROM edges GROUP BY src),
    nn AS (SELECT COUNT(*) AS n FROM deg),
    r0 AS (
        SELECT doc_id, ROUND(1.0 / (SELECT n FROM nn), 6) AS rank FROM deg
    ),
    r1 AS ({it.format(prev="r0")}),
    r2 AS ({it.format(prev="r1")}),
    r3 AS ({it.format(prev="r2")})
    SELECT doc_id, rank FROM r3
    """


@query("gr01_dupgraph_pagerank", _pr_oracle())
def gr01_dupgraph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pm25ml_spark.plans.dup_graph import dup_edges_symmetric

    # staged-artifact read (build-once, plans/dup_graph.py); persisted
    # because every PageRank iteration joins against the edge set
    edges = dup_edges_symmetric(spark, sf_dir).persist()
    deg = edges.groupBy(F.col("src").alias("doc_id")).agg(
        F.count(F.lit(1)).alias("deg")
    )
    nn = deg.agg(F.count(F.lit(1)).alias("n"))
    # deg rides INSIDE the rank frame (doc_id-keyed equi-join, co-
    # partitioned with the groupBy output) — never broadcast: at 10^9
    # nodes a broadcast deg table would kill the driver long before the
    # per-iteration shuffle mattered. Each iteration is then exactly one
    # shuffle keyed by node id (edge join + regroup), plus a cheap
    # co-partitioned deg re-attach on non-final iterations.
    ranks = deg.crossJoin(F.broadcast(nn)).select(
        "doc_id", F.round(F.lit(1.0) / F.col("n"), 6).alias("rank"), "deg"
    )
    for i in range(_PR_ITERS):
        contrib = edges.join(
            ranks.withColumnRenamed("doc_id", "src"), "src"
        ).select(
            F.col("dst").alias("doc_id"),
            F.round(F.col("rank") / F.col("deg"), 6).alias("c"),
        )
        agg = (
            contrib.groupBy("doc_id")
            .agg(
                F.sum(F.col("c").cast("decimal(38,6)"))
                .cast("double")
                .alias("s")
            )
            .crossJoin(F.broadcast(nn))
            .select(
                "doc_id",
                F.round(
                    (1 - _PR_D) / F.col("n") + _PR_D * F.col("s"), 6
                ).alias("rank"),
            )
        )
        ranks = agg if i == _PR_ITERS - 1 else agg.join(deg, "doc_id")
    return ranks


# --------------------------------------------------------------------------
# gr02 — triangle counting on the duplicate graph (per-node triangle
# membership). Triangles in a near-dup graph expose CLUSTERS the pairwise
# threshold alone can't: a doc in many triangles sits in a dense plagiarism
# /boilerplate clique, not a chance collision. The plan is the classic
# degree-oriented algorithm: orient every undirected edge from the
# (degree, id)-SMALLER endpoint to the larger, enumerate wedges from each
# source's oriented out-edges, and close them against the oriented edge
# list — two equi-joins, O(m^1.5) wedges total, immune to high-degree hubs
# (a hub's edges mostly point INTO it, so it sources few wedges). The
# oracle enumerates each triangle once via a < b < c id-ordering —
# different orientation, same triangle set, hash-identical counts.


@query(
    "gr02_dupgraph_triangles",
    f"""
    WITH {_SHINGLES_CTE}, {_JACCARD_PAIRS},
    qual AS (
        SELECT doc_a, doc_b FROM pairs
        WHERE shared * 5 >= 3 * (na + nb - shared)
    ),
    tri AS (
        SELECT q1.doc_a AS a, q1.doc_b AS b, q2.doc_b AS c
        FROM qual q1
        JOIN qual q2 ON q2.doc_a = q1.doc_b
        JOIN qual q3 ON q3.doc_a = q1.doc_a AND q3.doc_b = q2.doc_b
    )
    SELECT node, CAST(COUNT(*) AS BIGINT) AS n_triangles
    FROM (
        SELECT a AS node FROM tri
        UNION ALL SELECT b FROM tri
        UNION ALL SELECT c FROM tri
    )
    GROUP BY node
    """,
)
def gr02_dupgraph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pm25ml_spark.plans.dup_graph import dup_edges

    # staged-artifact read; still persisted because deg / e1 / e2 /
    # closing reference the pair list six times downstream
    pairs = dup_edges(spark, sf_dir).select("doc_a", "doc_b").persist()
    # degree over both endpoints of the undirected pair list
    deg = (
        pairs.select(F.col("doc_a").alias("node"))
        .unionAll(pairs.select(F.col("doc_b").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    e = (
        pairs.join(
            deg.select(
                F.col("node").alias("doc_a"), F.col("deg").alias("da")
            ),
            "doc_a",
        )
        .join(
            deg.select(
                F.col("node").alias("doc_b"), F.col("deg").alias("db")
            ),
            "doc_b",
        )
    )
    ka = F.struct(F.col("da").alias("d"), F.col("doc_a").alias("i"))
    kb = F.struct(F.col("db").alias("d"), F.col("doc_b").alias("i"))
    oriented = e.select(
        F.when(ka < kb, F.col("doc_a")).otherwise(F.col("doc_b")).alias("src"),
        F.when(ka < kb, F.col("doc_b")).otherwise(F.col("doc_a")).alias("dst"),
        F.when(ka < kb, F.col("db")).otherwise(F.col("da")).alias("dst_deg"),
    ).persist()
    e1, e2 = oriented.alias("e1"), oriented.alias("e2")
    k1 = F.struct(F.col("e1.dst_deg").alias("d"), F.col("e1.dst").alias("i"))
    k2 = F.struct(F.col("e2.dst_deg").alias("d"), F.col("e2.dst").alias("i"))
    wedges = e1.join(
        e2, (F.col("e1.src") == F.col("e2.src")) & (k1 < k2)
    ).select(
        F.col("e1.src").alias("a"),
        F.col("e1.dst").alias("b"),
        F.col("e2.dst").alias("c"),
    )
    closing = oriented.select(
        F.col("src").alias("b"), F.col("dst").alias("c")
    )
    tri = wedges.join(closing, ["b", "c"])
    nodes = (
        tri.select(F.col("a").alias("node"))
        .unionAll(tri.select(F.col("b").alias("node")))
        .unionAll(tri.select(F.col("c").alias("node")))
    )
    return nodes.groupBy("node").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_triangles")
    )


# --------------------------------------------------------------------------
# cp08 — contamination SCORING (the GPT-3 appendix-C recipe, Brown et al.
# 2020): unlike cp02 (flag any hit) or cp04 (Bloom membership), score
# EVERY corpus document by the fraction of its distinct 3-grams that also
# occur in the benchmark source, and band it clean / questionable / dirty.
# The benchmark gram set is eval-suite-sized → distinct + broadcast; the
# corpus explodes once and aggregates keyed by doc_id — zero corpus-side
# wide shuffle beyond the per-doc groupBy, same scale shape as cp02.
_CP08_DIRTY = 0.5


@query(
    "cp08_contamination_score",
    f"""
    WITH tok AS (
        SELECT doc_id, source, string_split(text, ' ') AS t FROM documents
    ),
    g AS (
        SELECT doc_id, source,
               UNNEST(list_transform(range(1, len(t) - 1),
                                     i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS s
        FROM tok
    ),
    gd AS (SELECT DISTINCT doc_id, source, s FROM g),
    bench AS (SELECT DISTINCT s FROM gd WHERE source = 'src0'),
    corpus AS (SELECT doc_id, s FROM gd WHERE source <> 'src0')
    SELECT c.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_grams,
           CAST(SUM(CASE WHEN b.s IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_hit,
           ROUND(CAST(SUM(CASE WHEN b.s IS NOT NULL THEN 1 ELSE 0 END)
                      AS DOUBLE) / COUNT(*), 6) AS overlap_frac,
           CASE
             WHEN CAST(SUM(CASE WHEN b.s IS NOT NULL THEN 1 ELSE 0 END)
                       AS DOUBLE) / COUNT(*) >= {_CP08_DIRTY!r} THEN 'dirty'
             WHEN SUM(CASE WHEN b.s IS NOT NULL THEN 1 ELSE 0 END) > 0
               THEN 'questionable'
             ELSE 'clean'
           END AS label
    FROM corpus c LEFT JOIN bench b ON c.s = b.s
    GROUP BY c.doc_id
    """,
)
def cp08_contamination_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    grams = D.word_ngrams("text", 3)
    bench = (
        docs.filter(F.col("source") == "src0")
        .select(F.explode(grams).alias("s"))
        .distinct()
    )
    corpus = (
        docs.filter(F.col("source") != "src0")
        .select("doc_id", F.explode(grams).alias("s"))
        .distinct()
    )
    hit = F.when(F.col("b").isNotNull(), 1).otherwise(0)
    scored = (
        corpus.join(
            F.broadcast(bench.select(F.col("s"), F.lit(1).alias("b"))),
            "s",
            "left",
        )
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_grams"),
            F.sum(hit).cast("bigint").alias("n_hit"),
        )
    )
    frac = F.col("n_hit").cast("double") / F.col("n_grams")
    label = (
        F.when(frac >= _CP08_DIRTY, "dirty")
        .when(F.col("n_hit") > 0, "questionable")
        .otherwise("clean")
    )
    return scored.select(
        "doc_id",
        "n_grams",
        "n_hit",
        F.round(frac, 6).alias("overlap_frac"),
        label.alias("label"),
    )


# --------------------------------------------------------------------------
# gr03 — bounded k-core peel on the duplicate graph: R rounds of
# "remove nodes with degree < k, recompute" (k=2, R=3 — enough to
# converge on near-dup graphs, whose cores are shallow; the operator is
# defined as the R-round peel so both engines compute the identical
# partial fixpoint). k-cores separate DENSE duplication communities
# (template farms, mirror networks) from incidental pairwise overlaps —
# the graph-side quality gate after dd08's components. Each round is
# one degree aggregate + two node-keyed semi joins: everything shuffles
# on node id, nothing node-sized is ever broadcast or collected.
_KCORE_K, _KCORE_ROUNDS = 2, 3


def _kcore_oracle() -> str:
    k = _KCORE_K
    rounds = ""
    prev = "e0"
    for i in range(1, _KCORE_ROUNDS + 1):
        rounds += f"""
    d{i} AS (SELECT src, COUNT(*) AS c FROM {prev} GROUP BY src),
    keep{i} AS (SELECT src FROM d{i} WHERE c >= {k}),
    e{i} AS (
        SELECT e.src, e.dst FROM {prev} e
        JOIN keep{i} ka ON e.src = ka.src
        JOIN keep{i} kb ON e.dst = kb.src
    ),"""
        prev = f"e{i}"
    return f"""
    WITH {_SHINGLES_CTE}, {_JACCARD_PAIRS},
    qual AS (
        SELECT doc_a, doc_b FROM pairs
        WHERE shared * 5 >= 3 * (na + nb - shared)
    ),
    e0 AS (
        SELECT doc_a AS src, doc_b AS dst FROM qual
        UNION ALL SELECT doc_b, doc_a FROM qual
    ),{rounds}
    final AS (SELECT src AS doc_id, COUNT(*) AS degree
              FROM {prev} GROUP BY src)
    SELECT doc_id, degree FROM final
    """


@query("gr03_kcore_members", _kcore_oracle())
def gr03_kcore_members(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pm25ml_spark.plans.dup_graph import dup_edges_symmetric

    # staged-artifact read; persisted because each peel round feeds the
    # next degree aggregate and two semi joins
    edges = dup_edges_symmetric(spark, sf_dir).persist()
    for _ in range(_KCORE_ROUNDS):
        deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("c"))
        keep = deg.filter(F.col("c") >= _KCORE_K).select("src")
        # each round's edge set feeds BOTH the next degree aggregate and
        # the next semi joins — persist per round or the lineage
        # re-evaluates every earlier round 2× per reference
        edges = (
            edges.join(keep, "src", "left_semi")
            .join(
                keep.withColumnRenamed("src", "dst"), "dst", "left_semi"
            )
            .persist()
        )
    return edges.groupBy(F.col("src").alias("doc_id")).agg(
        F.count(F.lit(1)).alias("degree")
    )


# --------------------------------------------------------------------------
# cp09 — soft dedup (down-WEIGHT duplicates instead of dropping them —
# the SlimPajama/Doremi-style alternative when duplicates carry signal):
# every doc weighs 1/|its duplicate cluster| (singletons 1), and each
# source reports its raw count, effective (deduplicated) mass, and the
# inflation ratio raw/effective — the number a mixture designer feeds
# back into sampling temperatures. Reuses dd08's component machinery;
# docs outside the pair graph join as cluster_size 1 via coalesce.
@query(
    "cp09_soft_dedup_weights",
    f"""
    WITH RECURSIVE {_SHINGLES_CTE}, {_JACCARD_PAIRS},
    qual AS (
        SELECT doc_a, doc_b FROM pairs
        WHERE shared * 5 >= 3 * (na + nb - shared)
    ),
    e AS (
        SELECT doc_a AS a, doc_b AS b FROM qual
        UNION SELECT doc_b, doc_a FROM qual
    ),
    reach(a, b) AS (
        SELECT a, a FROM (SELECT DISTINCT a FROM e)
        UNION
        SELECT r.a, e.b FROM reach r JOIN e ON r.b = e.a
    ),
    comp AS (SELECT a AS doc_id, MIN(b) AS cluster_id FROM reach GROUP BY a),
    sizes AS (SELECT cluster_id, COUNT(*) AS cluster_size
              FROM comp GROUP BY cluster_id),
    weighted AS (
        SELECT d.source,
               1.0 / CAST(COALESCE(s.cluster_size, 1) AS DOUBLE) AS w
        FROM documents d
        LEFT JOIN comp c ON c.doc_id = d.doc_id
        LEFT JOIN sizes s USING (cluster_id)
    )
    SELECT source, COUNT(*) AS n_docs,
           ROUND(CAST(SUM(CAST(w AS DECIMAL(38,6))) AS DOUBLE), 6)
             AS effective_docs,
           ROUND(CAST(COUNT(*) AS DOUBLE)
                 / CAST(SUM(CAST(w AS DECIMAL(38,6))) AS DOUBLE), 6)
             AS inflation
    FROM weighted GROUP BY source
    """,
)
def cp09_soft_dedup_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pm25ml_spark.operators.components import dedup_clusters
    from pm25ml_spark.plans.dup_graph import dup_edges

    docs = load_table(spark, sf_dir, "documents")
    pairs = dup_edges(spark, sf_dir)
    clusters = dedup_clusters(pairs).select("doc_id", "cluster_size")
    w = F.lit(1.0) / F.coalesce(
        F.col("cluster_size"), F.lit(1)
    ).cast("double")
    weighted = (
        docs.select("doc_id", "source")
        .join(clusters, "doc_id", "left")
        .select("source", w.alias("w"))
    )
    eff = F.sum(F.col("w").cast("decimal(38,6)")).cast("double")
    return weighted.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(eff, 6).alias("effective_docs"),
        F.round(F.count(F.lit(1)).cast("double") / eff, 6).alias(
            "inflation"
        ),
    )


# --------------------------------------------------------------------------
# dd11 — canonical-document selection (the dedup pipeline's END step):
# within every near-dup cluster keep the HIGHEST-QUALITY member (most
# tokens, ties to the lowest doc_id) instead of dd08/cp01's
# lowest-id-wins policy — the difference between "drop arbitrary
# duplicates" and "keep the best copy", which is what production corpus
# curation actually ships. Only true clusters (size >= 2) are reported,
# with the token mass the selection keeps vs drops. The per-cluster
# argmax is a window PARTITIONED by cluster_id — frames are
# cluster-sized (bounded by the dup-graph's component sizes), never
# corpus-sized.
@query(
    "dd11_canonical_selection",
    f"""
    WITH RECURSIVE {_SHINGLES_CTE}, {_JACCARD_PAIRS},
    qual AS (
        SELECT doc_a, doc_b FROM pairs
        WHERE shared * 5 >= 3 * (na + nb - shared)
    ),
    e AS (
        SELECT doc_a AS a, doc_b AS b FROM qual
        UNION SELECT doc_b, doc_a FROM qual
    ),
    reach(a, b) AS (
        SELECT a, a FROM (SELECT DISTINCT a FROM e)
        UNION
        SELECT r.a, e.b FROM reach r JOIN e ON r.b = e.a
    ),
    comp AS (SELECT a AS doc_id, MIN(b) AS cluster_id FROM reach GROUP BY a),
    membered AS (
        SELECT c.cluster_id, c.doc_id,
               len(string_split(d.text, ' ')) AS n_tokens,
               ROW_NUMBER() OVER (PARTITION BY c.cluster_id
                                  ORDER BY len(string_split(d.text, ' ')) DESC,
                                           c.doc_id) AS rk
        FROM comp c JOIN documents d USING (doc_id)
    )
    SELECT cluster_id,
           MIN(CASE WHEN rk = 1 THEN doc_id END) AS canonical_doc,
           COUNT(*) AS n_members,
           CAST(SUM(n_tokens) AS BIGINT) AS tokens_total,
           CAST(SUM(CASE WHEN rk = 1 THEN 0 ELSE n_tokens END) AS BIGINT)
             AS tokens_dropped
    FROM membered
    GROUP BY cluster_id
    HAVING COUNT(*) >= 2
    """,
)
def dd11_canonical_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from pm25ml_spark.operators.components import dedup_clusters
    from pm25ml_spark.plans.dup_graph import dup_edges

    docs = load_table(spark, sf_dir, "documents")
    pairs = dup_edges(spark, sf_dir)
    members = dedup_clusters(pairs).select("doc_id", "cluster_id")
    toks = docs.select(
        "doc_id",
        F.size(F.split("text", " ")).cast("long").alias("n_tokens"),
    )
    w = Window.partitionBy("cluster_id").orderBy(
        F.desc("n_tokens"), F.asc("doc_id")
    )
    ranked = members.join(toks, "doc_id").withColumn(
        "rk", F.row_number().over(w)
    )
    return (
        ranked.groupBy("cluster_id")
        .agg(
            F.min(F.when(F.col("rk") == 1, F.col("doc_id"))).alias(
                "canonical_doc"
            ),
            F.count(F.lit(1)).alias("n_members"),
            F.sum("n_tokens").cast("bigint").alias("tokens_total"),
            F.sum(F.when(F.col("rk") == 1, 0).otherwise(F.col("n_tokens")))
            .cast("bigint")
            .alias("tokens_dropped"),
        )
        .filter(F.col("n_members") >= 2)
    )


# --------------------------------------------------------------------------
# gr04 — multi-source BFS hop distance on the duplicate graph (bounded
# to 3 rounds, the diameter that matters for near-dup neighborhoods):
# how far is every node from the graph's 3 highest-degree "template
# hubs"? A node 1-2 hops from a boilerplate hub is near-certainly
# templated content even when its own pairwise similarity was below the
# dedup threshold — the transitive evidence dd08's components collapse
# away. Each round is one edge join + one min-aggregate, all keyed by
# node id; seeds are picked with the salt-lane exact top-k (never a
# global sort), and nothing node-sized is broadcast or collected.
_BFS_ROUNDS, _BFS_SEEDS = 3, 3


def _bfs_oracle() -> str:
    rounds = ""
    prev = "d0"
    for i in range(1, _BFS_ROUNDS + 1):
        rounds += f"""
    f{i} AS (
        SELECT e.dst AS doc_id, p.hops + 1 AS hops
        FROM {prev} p JOIN e ON e.src = p.doc_id
    ),
    d{i} AS (
        SELECT doc_id, MIN(hops) AS hops
        FROM (SELECT * FROM {prev} UNION ALL SELECT * FROM f{i})
        GROUP BY doc_id
    ),"""
        prev = f"d{i}"
    return f"""
    WITH {_SHINGLES_CTE}, {_JACCARD_PAIRS},
    qual AS (
        SELECT doc_a, doc_b FROM pairs
        WHERE shared * 5 >= 3 * (na + nb - shared)
    ),
    e AS (
        SELECT doc_a AS src, doc_b AS dst FROM qual
        UNION ALL SELECT doc_b, doc_a FROM qual
    ),
    deg AS (SELECT src AS doc_id, COUNT(*) AS degree FROM e GROUP BY src),
    seeds AS (
        SELECT doc_id FROM deg
        ORDER BY degree DESC, doc_id LIMIT {_BFS_SEEDS}
    ),
    d0 AS (SELECT doc_id, 0 AS hops FROM seeds),{rounds}
    final AS (SELECT doc_id, CAST(hops AS BIGINT) AS hops FROM {prev})
    SELECT doc_id, hops FROM final
    """


@query("gr04_bfs_hops", _bfs_oracle())
def gr04_bfs_hops(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pm25ml_spark.operators.sampling import global_topk

    from pm25ml_spark.plans.dup_graph import dup_edges_symmetric

    # staged-artifact read; persisted because the edge set feeds the
    # degree aggregate plus one join per BFS round
    edges = dup_edges_symmetric(spark, sf_dir).persist()
    deg = edges.groupBy(F.col("src").alias("doc_id")).agg(
        F.count(F.lit(1)).alias("degree")
    )
    seeds = global_topk(
        deg, [F.desc("degree"), F.asc("doc_id")], _BFS_SEEDS, "doc_id"
    ).select("doc_id")
    dist = seeds.select("doc_id", F.lit(0).cast("bigint").alias("hops"))
    for _ in range(_BFS_ROUNDS):
        # dist feeds BOTH the frontier join and the union — persist per
        # round or the lineage (and the seed top-k subplan inside it)
        # re-evaluates 2^rounds times
        dist = dist.persist()
        frontier = edges.join(
            dist.withColumnRenamed("doc_id", "src"), "src"
        ).select(
            F.col("dst").alias("doc_id"),
            (F.col("hops") + 1).alias("hops"),
        )
        dist = (
            dist.unionAll(frontier)
            .groupBy("doc_id")
            .agg(F.min("hops").alias("hops"))
        )
    return dist


# --------------------------------------------------------------------------
# dd12 — directed containment pairs (C(A→B) = |A∩B|/|A| ≥ 0.8): the
# asymmetric near-dup relation resemblance misses — a short doc embedded
# in a longer one scores high containment but low Jaccard (quote
# farms, boilerplate wrappers, partial mirrors). Prefix filter on the
# CONTAINED side only (the probe side cannot prune); exact verification
# with integer threshold arithmetic. Oracle: brute-force shingle
# self-join.
@query(
    "dd12_containment_pairs",
    f"""
    WITH {_SHINGLES_CTE},
    pairs AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               ca.n_sh AS na, COUNT(*) AS shared
        FROM sh a
        JOIN sh b ON a.s = b.s AND a.doc_id != b.doc_id
        JOIN counts ca ON ca.doc_id = a.doc_id
        GROUP BY 1, 2, 3
    )
    SELECT doc_a, doc_b, shared, na,
           CAST(shared AS DOUBLE) / na AS containment
    FROM pairs WHERE shared * 5 >= 4 * na
    """,
)
def dd12_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return D.containment_pairs(docs, n=3, t_num=4, t_den=5)


# --------------------------------------------------------------------------
# gr05 — degree assortativity of the near-duplicate graph (Newman 2002:
# the Pearson correlation of endpoint degrees over directed edges).
# Positive assortativity means boilerplate hubs link to other hubs
# (template families); negative means hub-and-spoke mirror clusters —
# a one-number diagnostic of the dup graph's shape that decides whether
# component-based or centrality-based canonicalization will work.
# Plan shape: the qualified Jaccard pairs (same edge set as gr01-gr04)
# doubled into directed edges, degree attached via TWO node-keyed
# equi-joins (deg is node-sized — NEVER broadcast, the gr01 lesson),
# then ONE map-side-combinable aggregate of integer sufficient stats
# (degrees are exact BIGINTs, so every sum is exact; the final Pearson
# formula is a fixed chain of IEEE ops over those integers, identical
# in both engines, rounded 6 dp). At 10^9 nodes: two shuffles keyed by
# node id + one scalar aggregate — no corpus-sized anything on the
# driver. Sums need decimal widening around 10^9 edges x 10^6 max-degree;
# documented, not hit at any bench sf.
def _gr05_oracle() -> str:
    return f"""
    WITH {_SHINGLES_CTE}, {_JACCARD_PAIRS},
    qual AS (
        SELECT doc_a, doc_b FROM pairs
        WHERE shared * 5 >= 3 * (na + nb - shared)
    ),
    edges AS (
        SELECT doc_a AS src, doc_b AS dst FROM qual
        UNION ALL SELECT doc_b, doc_a FROM qual
    ),
    deg AS (SELECT src AS doc_id, COUNT(*) AS deg FROM edges GROUP BY src),
    e AS (
        SELECT ds.deg AS dx, dd.deg AS dy
        FROM edges
        JOIN deg ds ON ds.doc_id = edges.src
        JOIN deg dd ON dd.doc_id = edges.dst
    ),
    s AS (
        SELECT COUNT(*) AS m,
               SUM(dx) AS sx, SUM(dy) AS sy,
               SUM(dx * dx) AS sxx, SUM(dy * dy) AS syy,
               SUM(dx * dy) AS sxy
        FROM e
    )
    SELECT (SELECT COUNT(*) FROM deg) AS n_nodes,
           CAST(m // 2 AS BIGINT) AS n_edges,
           (SELECT MAX(deg) FROM deg) AS max_deg,
           ROUND(CAST(m AS DOUBLE) / (SELECT COUNT(*) FROM deg), 6)
             AS mean_deg,
           ROUND(CAST(m * sxy - sx * sy AS DOUBLE)
                 / (SQRT(CAST(m * sxx - sx * sx AS DOUBLE))
                    * SQRT(CAST(m * syy - sy * sy AS DOUBLE))), 6)
             AS assortativity
    FROM s
    """


@query("gr05_degree_assortativity", _gr05_oracle())
def gr05_degree_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pm25ml_spark.plans.dup_graph import dup_edges_symmetric

    # staged-artifact read; persisted: degree aggregate + two re-joins
    edges = dup_edges_symmetric(spark, sf_dir).persist()
    deg = edges.groupBy(F.col("src").alias("doc_id")).agg(
        F.count(F.lit(1)).cast("bigint").alias("deg")
    ).persist()
    e = (
        edges.join(
            deg.select(F.col("doc_id").alias("src"), F.col("deg").alias("dx")),
            "src",
        )
        .join(
            deg.select(F.col("doc_id").alias("dst"), F.col("deg").alias("dy")),
            "dst",
        )
        .select("dx", "dy")
    )
    s = e.agg(
        F.count(F.lit(1)).alias("m"),
        F.sum("dx").alias("sx"),
        F.sum("dy").alias("sy"),
        F.sum(F.col("dx") * F.col("dx")).alias("sxx"),
        F.sum(F.col("dy") * F.col("dy")).alias("syy"),
        F.sum(F.col("dx") * F.col("dy")).alias("sxy"),
    )
    summary = deg.agg(
        F.count(F.lit(1)).alias("n_nodes"),
        F.max("deg").alias("max_deg"),
    )
    m, sx, sy = F.col("m"), F.col("sx"), F.col("sy")
    sxx, syy, sxy = F.col("sxx"), F.col("syy"), F.col("sxy")
    # nullif guards: a regular graph (every qualified pair isolated —
    # all degrees equal) has zero degree variance, and an empty edge
    # set has n_nodes = 0. DuckDB yields NULL for 0/0 double division;
    # Spark 4 runs ANSI mode and would THROW — nullif makes both NULL.
    den = F.sqrt((m * sxx - sx * sx).cast("double")) * F.sqrt(
        (m * syy - sy * sy).cast("double")
    )
    return s.crossJoin(F.broadcast(summary)).select(
        "n_nodes",
        (m / 2).cast("bigint").alias("n_edges"),
        "max_deg",
        F.round(
            m.cast("double") / F.nullif(F.col("n_nodes"), F.lit(0)), 6
        ).alias("mean_deg"),
        F.round(
            (m * sxy - sx * sy).cast("double")
            / F.nullif(den, F.lit(0.0)),
            6,
        ).alias("assortativity"),
    )


# --------------------------------------------------------------------------
# gr06 — degree distribution of the duplicate graph, read from the
# BUILD-ONCE staged edge artifact (plans/dup_graph.py): the catalog pin
# for the build-once-analyze-many topology. The histogram itself is the
# corpus-health panel's headline chart (how heavy is the boilerplate
# tail), but the point of the entry is the lifecycle: this plan never
# touches `documents` — it is two scans of the staged parquet + two
# map-side-combinable aggregates, which is exactly what every gr-family
# analysis costs at 100 TB once the pair build is a pipeline stage
# instead of a per-query subplan. Oracle recomputes the edge list
# brute-force, so the artifact's content is value-checked end-to-end.
def _gr06_oracle() -> str:
    return f"""
    WITH {_SHINGLES_CTE}, {_JACCARD_PAIRS},
    qual AS (
        SELECT doc_a, doc_b FROM pairs
        WHERE shared * 5 >= 3 * (na + nb - shared)
    ),
    edges AS (
        SELECT doc_a AS src, doc_b AS dst FROM qual
        UNION ALL SELECT doc_b, doc_a FROM qual
    ),
    deg AS (SELECT src, COUNT(*) AS degree FROM edges GROUP BY src)
    SELECT degree, COUNT(*) AS n_nodes FROM deg GROUP BY degree
    """


@query("gr06_dupgraph_degree_hist", _gr06_oracle())
def gr06_dupgraph_degree_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pm25ml_spark.plans.dup_graph import dup_edges_symmetric

    edges = dup_edges_symmetric(spark, sf_dir)
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("degree"))
    return deg.groupBy("degree").agg(F.count(F.lit(1)).alias("n_nodes"))


# --------------------------------------------------------------------------
# dd13 — winnowing-fingerprint near-dup pairs: docs sharing >= 2
# selected MOSS fingerprints (plans/text.winnow_selection). This is the
# LOCALIZED complement to MinHash whole-doc similarity — a shared
# fingerprint certifies a shared token run, so two docs that merely
# reuse a license header or boilerplate paragraph pair up here while
# staying far apart on Jaccard. Scale shape: fingerprints with document
# frequency > _DD13_DF_CAP are dropped FIRST (MOSS's own noise rule —
# ubiquitous boilerplate certifies nothing), which caps per-fingerprint
# join fan-out at df_cap^2/2 pairs; the pair build is then a pure
# sel_h-keyed equi-join (no cartesian, pinned), linear in corpus size
# times a bounded constant.
_DD13_DF_CAP = 50
_DD13_MIN_SHARED = 2


def _dd13_oracle() -> str:
    from pm25ml_spark.plans.text import WINNOW_SEL_CTE

    return f"""
    WITH {WINNOW_SEL_CTE},
    fp AS (SELECT DISTINCT doc_id, sel_h FROM sel),
    df AS (SELECT sel_h, COUNT(*) AS df FROM fp GROUP BY sel_h),
    rare AS (
        SELECT fp.doc_id, fp.sel_h
        FROM fp JOIN df USING (sel_h)
        WHERE df.df <= {_DD13_DF_CAP}
    ),
    pairs AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               COUNT(*) AS shared_fp
        FROM rare a
        JOIN rare b ON a.sel_h = b.sel_h AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    )
    SELECT doc_a, doc_b, shared_fp
    FROM pairs WHERE shared_fp >= {_DD13_MIN_SHARED}
    """


@query("dd13_winnowing_pairs", _dd13_oracle())
def dd13_winnowing_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pm25ml_spark.plans.text import winnow_selection_staged

    fp = winnow_selection_staged(spark, sf_dir).select(
        "doc_id", "sel_h"
    ).distinct()
    df_counts = fp.groupBy("sel_h").agg(F.count(F.lit(1)).alias("df"))
    rare = fp.join(
        df_counts.filter(F.col("df") <= _DD13_DF_CAP).select("sel_h"),
        "sel_h",
    )
    pairs = (
        rare.alias("a")
        .join(
            rare.alias("b"),
            (F.col("a.sel_h") == F.col("b.sel_h"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
        )
        .agg(F.count(F.lit(1)).alias("shared_fp"))
    )
    return pairs.filter(F.col("shared_fp") >= _DD13_MIN_SHARED)


# --------------------------------------------------------------------------
# dd14 — sorted-neighborhood blocking (Hernandez-Stolfo merge/purge):
# sort the corpus by a normalized key and emit every pair within a
# w-row neighborhood of the sorted order. The classic record-linkage
# blocking dual to hash blocking (dd09) and banding (dd04/dd07): docs
# with near-identical PREFIXES pair up even when no hash bucket or
# band agrees, and total candidates are bounded by w·n BY CONSTRUCTION
# (never a quadratic blow-up, skew-immune — a million identical keys
# still emit exactly w pairs each). Spark-first shape: the global sort
# position comes from operators.prefix.ordered_prefix_sum (row-pure
# range buckets + broadcast offsets — no corpus-wide window, no global
# sort), and the neighborhood is an EQUI-join on rank+j for j in 1..w,
# so the whole operator is two narrow jobs plus one rank-keyed join.
_DD14_W = 3


@query(
    "dd14_sorted_neighborhood",
    f"""
    WITH keyed AS (
        SELECT doc_id,
               substr(regexp_replace(lower(coalesce(text, '')),
                                     '[^a-z0-9 ]', '', 'g'),
                      1, 32) AS sort_key
        FROM documents
    ),
    r AS (
        SELECT doc_id, sort_key,
               row_number() OVER (ORDER BY sort_key, doc_id) AS rn
        FROM keyed
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(b.rn - a.rn AS BIGINT) AS gap,
           CAST(a.sort_key = b.sort_key AS BOOLEAN) AS key_match
    FROM r a JOIN r b ON b.rn BETWEEN a.rn + 1 AND a.rn + {_DD14_W}
    """,
)
def dd14_sorted_neighborhood(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pm25ml_spark.operators.prefix import ordered_prefix_sum

    # coalesce: NULL text must key identically in both engines (Spark
    # buckets NULLs first, DuckDB's default ORDER BY puts them last)
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.substring(
            F.regexp_replace(
                F.lower(F.coalesce(F.col("text"), F.lit(""))),
                "[^a-z0-9 ]",
                "",
            ),
            1,
            32,
        ).alias("sort_key"),
    )
    ranked = ordered_prefix_sum(
        docs.withColumn("__one", F.lit(1)),
        ["sort_key", "doc_id"],
        "__one",
        "rn",
    ).select("doc_id", "sort_key", "rn")
    # persisted: both join sides read the same two-job ranking
    ranked = ranked.persist()
    left = ranked.select(
        F.col("doc_id").alias("doc_a"),
        F.col("sort_key").alias("key_a"),
        F.explode(
            F.array(*[F.col("rn") + F.lit(j) for j in range(1, _DD14_W + 1)])
        ).alias("rn_b"),
        (F.col("rn")).alias("rn_a"),
    )
    right = ranked.select(
        F.col("doc_id").alias("doc_b"),
        F.col("sort_key").alias("key_b"),
        F.col("rn").alias("rn_b"),
    )
    return left.join(right, "rn_b").select(
        "doc_a",
        "doc_b",
        (F.col("rn_b") - F.col("rn_a")).cast("bigint").alias("gap"),
        (F.col("key_a") == F.col("key_b")).alias("key_match"),
    )


# --------------------------------------------------------------------------
# gr07 — ego network of the duplicate graph's lowest-id node, served by
# a STATS-PRUNED point lookup on the staged edge artifact: the seed is
# one tiny aggregate (min doc_a — column-pruned scan of the artifact),
# and the neighbor fetch opens ONLY the files whose recorded doc_a
# range covers the seed (TxTable.read_pruned over the artifact's
# range-partitioned layout — per-file min/max are tight by
# construction). This is the 100 TB point-lookup shape: investigating
# one document's duplicate neighborhood must not scan the corpus-scale
# edge list, and with range layout + stats it provably doesn't
# (tests/test_dup_graph.py pins files_opened < files_total). The seed
# is the graph's minimum doc id, so it only ever appears on the doc_a
# side (pairs are doc_a < doc_b) — one pruned read covers the whole
# ego. Oracle recomputes seed + neighborhood brute-force.
def _gr07_oracle() -> str:
    return f"""
    WITH {_SHINGLES_CTE}, {_JACCARD_PAIRS},
    qual AS (
        SELECT doc_a, doc_b, shared,
               CAST(shared AS DOUBLE) / (na + nb - shared) AS jaccard
        FROM pairs
        WHERE shared * 5 >= 3 * (na + nb - shared)
    ),
    seed AS (SELECT MIN(doc_a) AS s FROM qual)
    SELECT q.doc_b AS neighbor, q.shared, q.jaccard
    FROM qual q, seed WHERE q.doc_a = seed.s
    """


@query("gr07_ego_network", _gr07_oracle())
def gr07_ego_network(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pm25ml_spark.plans.dup_graph import dup_edges, dup_edges_pruned

    edges = dup_edges(spark, sf_dir)  # ensures the artifact is staged
    seed_row = edges.agg(F.min("doc_a").alias("s")).collect()[0]
    if seed_row.s is None:  # empty graph: empty frame, right schema
        return edges.select(
            F.col("doc_b").alias("neighbor"), "shared", "jaccard"
        ).filter(F.lit(False))
    ego = dup_edges_pruned(spark, sf_dir, seed_row.s, seed_row.s)
    return ego.select(F.col("doc_b").alias("neighbor"), "shared", "jaccard")


# --------------------------------------------------------------------------
# dd15 — incremental ingest dedup (batch-vs-corpus): which docs of an
# incoming slice near-duplicate the EXISTING corpus? The shape every
# continuously-crawling pipeline runs per ingest batch — and the one
# the self-join family can't express efficiently: a small batch must
# probe a 100 TB corpus at O(batch × collisions), never O(corpus²).
# operators/dedup.jaccard_pairs_between does the asymmetric
# prefix-filtered join (one UNION-wide shingle frequency order keeps
# the ppjoin guarantee across the two sides; new×new and corpus×corpus
# candidates are never generated; the batch side broadcasts). The
# incoming slice is modeled as doc_id % 10 = 7 — a deterministic ~10%
# sample the oracle reproduces exactly. Output: per flagged batch doc,
# how many corpus near-dups and the tightest one.
@query(
    "dd15_incremental_dedup",
    f"""
    WITH {_SHINGLES_CTE},
    pairs AS (
        SELECT a.doc_id AS new_id, b.doc_id AS corpus_id,
               ca.n_sh AS na, cb.n_sh AS nb, COUNT(*) AS shared
        FROM sh a
        JOIN sh b ON a.s = b.s
        JOIN counts ca ON ca.doc_id = a.doc_id
        JOIN counts cb ON cb.doc_id = b.doc_id
        WHERE a.doc_id % 10 = 7 AND b.doc_id % 10 <> 7
        GROUP BY 1, 2, 3, 4
    ),
    q AS (
        SELECT new_id,
               CAST(shared AS DOUBLE) / (na + nb - shared) AS j
        FROM pairs WHERE shared * 5 >= 3 * (na + nb - shared)
    )
    SELECT new_id AS doc_id,
           COUNT(*) AS n_corpus_dups,
           MAX(j) AS max_jaccard
    FROM q GROUP BY new_id
    """,
)
def dd15_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    batch = docs.filter(F.col("doc_id") % 10 == 7)
    corpus = docs.filter(F.col("doc_id") % 10 != 7)
    pairs = D.jaccard_pairs_between(batch, corpus, n=3, t_num=3, t_den=5)
    return pairs.groupBy(F.col("new_id").alias("doc_id")).agg(
        F.count(F.lit(1)).alias("n_corpus_dups"),
        F.max("jaccard").alias("max_jaccard"),
    )


# --------------------------------------------------------------------------
# gr08 — the incrementally-MAINTAINED duplicate-pair graph: the artifact
# lifecycle dd15 computes one step of, now MULTI-BATCH. The staged edge
# table bootstraps from the pre-batch corpus (commit 1), then each
# ingest batch (doc_id % 10 == 5, then == 9, in arrival order) appends
# ONLY its delta — batch-vs-EXISTING cross pairs via the asymmetric
# prefix-filtered probe over a TIME-TRAVEL read of the incrementally-
# maintained shingle store (earlier batches are probed too, no text
# ever re-shingled), plus batch-internal pairs. Spark reads the
# maintained artifact; the oracle recomputes the FULL-corpus pair list
# brute-force from raw text, so the equality "incremental maintenance
# ≡ from-scratch rebuild" is exactly what the driver hash-checks.
# Lifecycle pins (commit count, time travel to pre-refresh snapshots,
# BUILD_COUNTS) live in tests/test_dup_graph.py. Reference analogue:
# the staged-artifact refresh lifecycle of
# combiners/data_artifact.py:10-44.
@query(
    "gr08_incremental_edges",
    f"""
    WITH {_SHINGLES_CTE}, {_JACCARD_PAIRS}
    SELECT doc_a, doc_b, shared,
           CAST(shared AS DOUBLE) / (na + nb - shared) AS jaccard
    FROM pairs
    WHERE shared * 5 >= 3 * (na + nb - shared)
    """,
)
def gr08_incremental_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pm25ml_spark.plans.dup_graph import dup_edges_incremental

    return dup_edges_incremental(spark, sf_dir, n=3, t_num=3, t_den=5).select(
        "doc_a", "doc_b", "shared", "jaccard"
    )


# --------------------------------------------------------------------------
# gr09 — per-ingest-batch dup summary, verifying the incremental
# artifact's PROVENANCE itself: each edge commit is tagged with the
# batch that produced it, and because the exact pair set partitions
# over arrival order, the tag must equal GREATEST(arrival(doc_a),
# arrival(doc_b)) — which the oracle recomputes from raw text with a
# CASE classification. A wrong delta (a pair missed at arrival and
# picked up later, or recomputed corpus work leaking into a batch
# commit) shifts a count between groups and breaks the hash. This is
# the per-ingest monitoring readout a production dedup pipeline
# actually watches ("how duplicated was today's crawl against the
# corpus?").
@query(
    "gr09_ingest_batch_summary",
    f"""
    WITH {_SHINGLES_CTE}, {_JACCARD_PAIRS},
    qual AS (
        SELECT doc_a, doc_b,
               CAST(shared AS DOUBLE) / (na + nb - shared) AS jaccard
        FROM pairs
        WHERE shared * 5 >= 3 * (na + nb - shared)
    )
    SELECT GREATEST(
             CASE doc_a % 10 WHEN 5 THEN 1 WHEN 9 THEN 2 ELSE 0 END,
             CASE doc_b % 10 WHEN 5 THEN 1 WHEN 9 THEN 2 ELSE 0 END
           ) AS src_batch,
           COUNT(*) AS n_edges,
           MAX(jaccard) AS max_jaccard
    FROM qual
    GROUP BY 1
    """,
)
def gr09_ingest_batch_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pm25ml_spark.plans.dup_graph import dup_edges_incremental

    edges = dup_edges_incremental(spark, sf_dir, n=3, t_num=3, t_den=5)
    return edges.groupBy(F.col("src_batch").cast("int").alias("src_batch")).agg(
        F.count(F.lit(1)).alias("n_edges"),
        F.max("jaccard").alias("max_jaccard"),
    )
