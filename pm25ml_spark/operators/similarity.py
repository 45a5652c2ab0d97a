"""Exact embedding-cosine near-duplicate pairs over `array<float>` columns.

One kernel, :func:`cosine_neardup_pairs`: every pair of vectors whose
cosine, rounded to 6 dp, reaches a threshold, found by a blocked
all-pairs matmul that runs on the executors.

Determinism contract: scores are rounded to 6 dp and compared against the
threshold in Spark, with the same formula as the DuckDB oracle, so the
emitted pair set is reproducible across engines; the 1e-13-level float
divergence sits ~7 orders of magnitude below the rounding step.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def cosine_neardup_pairs(
    embeddings: DataFrame,
    threshold: float = 0.99,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_blocks: int = 8,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (id_a < id_b, score ≥ t).

    Exact all-pairs is O(n²·d); the naive spelling (cross join + per-pair
    ``zip_with``/``aggregate``) evaluates an interpreted higher-order
    expression n² times and dominates the whole bench suite. Instead this
    runs a distributed **block nested-loop**: rows hash into ``n_blocks``
    blocks, every unordered block pair (bi ≤ bj) becomes one
    ``applyInPandas`` group, and each group scores its |bi|×|bj| tile with
    one float64 BLAS matmul — the O(n²·d) flops run vectorized in C, and
    the tiles parallelize across executors (no driver collect, no
    broadcast of the corpus). Each row is replicated n_blocks+1 times by
    the block-pair join; at fixed tile size the replication factor is
    O(√tasks), the standard all-pairs shuffle bound.

    Rounding/threshold semantics stay engine-portable: the kernel emits
    raw float64 scores with a conservative pre-filter (threshold − 1e-6,
    i.e. wider than the half-ulp of the 6-dp rounding), and the exact
    ``round(score, 6) ≥ threshold`` cut happens in Spark, identical to the
    DuckDB oracle's formula.
    """
    import pandas as pd

    spark = embeddings.sparkSession
    e = embeddings.select(
        F.col(id_col).alias("_id"),
        F.col(vec_col).alias("_v"),
        F.pmod(F.xxhash64(F.col(id_col)), F.lit(n_blocks)).cast("int").alias("_blk"),
    )
    block_pairs = spark.createDataFrame(
        [(i, j) for i in range(n_blocks) for j in range(i, n_blocks)],
        "bi int, bj int",
    )
    # ONE scan of the (possibly expensive) embeddings subtree: an
    # OR-condition broadcast join against the 36-row pair table replaces
    # the two-join union, which would execute the whole upstream twice.
    joined = e.join(
        F.broadcast(block_pairs),
        (e["_blk"] == block_pairs["bi"]) | (e["_blk"] == block_pairs["bj"]),
    )
    sides = (
        F.when(F.col("bi") == F.col("bj"), F.array(F.lit(0), F.lit(1)))
        .when(F.col("_blk") == F.col("bi"), F.array(F.lit(0)))
        .otherwise(F.array(F.lit(1)))
    )
    tagged = joined.select(
        "bi", "bj", F.explode(sides).alias("_side"), "_id", "_v"
    )

    prefilter = threshold - 1e-6

    def score_tile(key, pdf):
        import numpy as np

        bi, bj = key
        lrows = pdf[pdf["_side"] == 0]
        rrows = pdf[pdf["_side"] == 1]
        empty = pd.DataFrame({"id_a": [], "id_b": [], "raw": []})
        if lrows.empty or rrows.empty:
            return empty
        ida = lrows["_id"].to_numpy()
        idb = rrows["_id"].to_numpy()
        A = np.array(lrows["_v"].tolist(), dtype=np.float64)
        B = np.array(rrows["_v"].tolist(), dtype=np.float64)
        S = (A @ B.T) / np.outer(
            np.sqrt((A * A).sum(axis=1)), np.sqrt((B * B).sum(axis=1))
        )
        hit = S >= prefilter
        if bi == bj:
            # same-block tile holds every row on both sides: keep the
            # strict upper triangle so each unordered pair emits once
            hit &= ida[:, None] < idb[None, :]
        ii, jj = np.nonzero(hit)
        if not ii.size:
            return empty
        lo = np.minimum(ida[ii], idb[jj])
        hi = np.maximum(ida[ii], idb[jj])
        return pd.DataFrame({"id_a": lo, "id_b": hi, "raw": S[ii, jj]})

    scored = tagged.groupBy("bi", "bj").applyInPandas(
        score_tile, "id_a long, id_b long, raw double"
    )
    return (
        scored.withColumn("score", F.round(F.col("raw"), 6))
        .filter(F.col("score") >= threshold)
        .select("id_a", "id_b", "score")
    )
