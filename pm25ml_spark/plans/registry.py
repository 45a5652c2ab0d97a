"""Query catalog registry.

Every operator claimed in SURVEY §2 registers here as a named query:

- a Spark builder  ``fn(spark, sf_dir) -> DataFrame``
- optionally a DuckDB oracle SQL string computing the same result over the
  same parquet tables (pre-registered views: region nation customer supplier
  part orders lineitem events documents embeddings).

The verification driver hash-compares the two at sf=0.01; queries with no
oracle get a weaker rows-only check (reserved for genuinely
non-SQL-expressible operators).

Determinism contract for every registered query:
- stable output ordering is NOT required (driver sorts), but output VALUES
  must be engine-deterministic — use ``functions.exact`` decimal-sum helpers
  for any float aggregate, and break window-order ties with a unique key.
- every computed column is aliased identically in the Spark plan and the SQL.
- NEVER ``ROUND(grid_value / small_int, 6)`` on doubles: a 1e-6-grid
  numerator over a small integer denominator lands ON 6-dp half-way points
  with probability ~1/(2n), where Spark's exact-decimal HALF_UP and
  DuckDB's float-scaled round disagree (an sf0.1 parity-sweep finding).
  Round such means in integer micro-units instead: ``(2a + n) div (2n)``
  with ``a = sum of round(x*1e6) longs``. Ratios of two LARGE grid sums
  (rates, shares) are fine — their quotients are not structurally
  grid-aligned.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLES: dict[str, str] = {}


def query(name: str, oracle: str | None = None):
    """Decorator registering a query plan and its optional DuckDB oracle."""

    def deco(fn: Callable[[SparkSession, str], DataFrame]):
        if name in QUERIES:
            # a silent overwrite would shrink the bench + correctness
            # suite with no error — coverage loss must be loud
            raise ValueError(f"duplicate query name {name!r}")
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco


def load_all_plans() -> None:
    """Import every plan module so its @query decorators run.

    The catalog keeps pure registration order — hermetic and independent
    of any result artifacts at the repo root. Coverage rotation for the
    external correctness driver (which samples a prefix of the catalog)
    is applied explicitly in the driver-facing entry point
    (``__spark_entry__.sample_order``), never by mutating this registry,
    so bench ordering and every other consumer see a stable catalog.
    """
    import pm25ml_spark.plans.relational  # noqa: F401
    import pm25ml_spark.plans.windows  # noqa: F401
    import pm25ml_spark.plans.domain  # noqa: F401
    import pm25ml_spark.plans.raster  # noqa: F401
