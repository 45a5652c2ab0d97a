"""pm25ml_spark — a PySpark-native analytics engine.

A ground-up rebuild of the query and data-processing capabilities of the
``energyandcleanair/pm25ml`` reference pipeline (see ``SURVEY.md``), expressed
idiomatically on Spark DataFrames / Spark SQL so every operator distributes:

- ``session``    — tuned SparkSession factory (AQE, Arrow, UTC).
- ``catalog``    — typed loaders for the benchmark/test parquet tables.
- ``storage``    — hive-path artifact store + declared-schema validation
                   (the reference's idempotency backbone, SURVEY §4.3).
- ``operators``  — combine / recombine / features / sampling / interpolation /
                   dedup / similarity / asof / nn-join building blocks.
- ``functions``  — scalar + exact-arithmetic + text + vector column functions.
- ``plans``      — the query catalog: every operator from SURVEY §2 as a
                   (spark_fn, oracle_sql) pair runnable against the testdata.
- ``streaming``  — Structured Streaming variants of the batch operators.
- ``ml``         — the imputer: group-aware CV folds, a single-node booster
                   fitted on the collected sample, distributed predict.
"""

__version__ = "0.1.0"
