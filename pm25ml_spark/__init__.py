"""pm25ml_spark — a PySpark-native analytics engine.

A ground-up rebuild of the query and data-processing capabilities of the
``energyandcleanair/pm25ml`` reference pipeline (see ``SURVEY.md``), expressed
idiomatically on Spark DataFrames / Spark SQL so every operator distributes:

- ``session``    — tuned SparkSession factory (AQE, Arrow, UTC).
- ``catalog``    — typed loaders for the benchmark/test parquet tables.
- ``pipeline``   — ``Pm25Pipeline``: the seven stages of one month's run.
- ``sources``    — granule readers and raster writers, plus
                   ``sources/archive``: the hive-path stage store with
                   declared-schema validation (the reference's
                   idempotency backbone, SURVEY §4.3).
- ``operators``  — combine / features / interpolation / sampling / asof /
                   nn-join / interval-join / quantiles building blocks.
- ``functions``  — engine-portable column expressions (``columns``) and
                   exact-arithmetic aggregates (``exact``).
- ``plans``      — the query catalog: every operator from SURVEY §2 as a
                   (spark_fn, oracle_sql) pair runnable against the testdata.
- ``ml``         — the imputer: group-aware CV folds, a single-node booster
                   fitted on the collected sample, distributed predict.
"""

__version__ = "0.1.0"
