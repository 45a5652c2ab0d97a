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
    # other (cp01/dd08/dd11/cp09) reads the staged parquet
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
