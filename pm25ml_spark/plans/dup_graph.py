"""Build-once duplicate-pair edge list.

dd03, cp01, dd08, cp09 and dd11 all start from the same exact
n-gram-Jaccard pair list of the corpus. Recomputing the corpus-wide
shingle join per query is the wrong shape, so ``dup_edges`` stages it
ONCE per (session, corpus, params) through ``plans/artifacts.staged_table``
(the reference stages intermediate artifacts the same way —
``combiners/data_artifact.py:10-44``): the first caller in a session
materializes ``operators.dedup.jaccard_pairs`` into a transaction-log
table under a process-local temp dir, and every later caller gets a
parquet scan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from pm25ml_spark.catalog import load_table
from pm25ml_spark.plans.artifacts import staged_table


def dup_edges(
    spark: SparkSession,
    sf_dir: str,
    n: int = 3,
    t_num: int = 3,
    t_den: int = 5,
) -> DataFrame:
    """The staged duplicate-pair edge list for ``sf_dir``'s documents.

    Columns: ``(doc_a, doc_b, shared, jaccard)`` with ``doc_a < doc_b``
    — exactly :func:`pm25ml_spark.operators.dedup.jaccard_pairs`, built
    once per (session, corpus, params) and served from the staged table
    afterwards (``plans/artifacts.staged_table``).
    """
    from pm25ml_spark.operators import dedup as D

    def build() -> DataFrame:
        docs = load_table(spark, sf_dir, "documents")
        return D.jaccard_pairs(docs, n=n, t_num=t_num, t_den=t_den)

    return staged_table(
        spark,
        sf_dir,
        "dup_edges",
        (n, t_num, t_den),
        build,
        # key the stage to the corpus's content version: an in-place
        # mutation of documents.parquet triggers a rebuild, never a
        # stale artifact served for the rest of the session
        inputs=("documents",),
    )
