"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs each
``queries()[name]`` at sf=0.01 and compares it against the matching
``oracle_sql()[name]`` via DuckDB (row-count + schema + order-insensitive
value-hash → CORRECTNESS_r{N}.json).

All plans live in ``pm25ml_spark.plans`` (one module per operator family,
registered via the @query decorator); this file only adapts them to the
driver's calling convention.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0.

    Uses the pricing-summary plan (scan → pushed filter → hash aggregate
    with exact decimal sums), the engine's spine query.
    """
    from pm25ml_spark.plans.registry import QUERIES, load_all_plans

    load_all_plans()
    return QUERIES["q01_pricing_summary"](spark, "/root/testdata/sf0.001")


# Queries whose latest green is KNOWN-suspect (e.g. flagged flaky by a
# round verdict) are treated as never-verified by ``sample_order`` so they
# lead the next sample; remove entries once re-verified green.
FORCE_NEXT = frozenset({
    # r14: a09 shares one split-sampling pass across its two
    # quantile calls (fold-derived MAD splits, literal median frame).
    "a09_mad_outliers",
})


def sample_order(names: list[str]) -> list[str]:
    """Explicit coverage rotation for the driver's prefix sample.

    The external correctness driver verifies the FIRST ~50 entries of the
    dict this module returns; with 94+ registered queries a fixed order
    would leave the same tail permanently unverified. The rotation lives
    HERE (the driver-facing adapter), not in the registry, so the catalog
    itself stays in hermetic registration order for every other consumer.

    Policy — STALENESS ordering over the union of every committed
    ``CORRECTNESS_r{N}.json`` (deterministic given the repo state):
    queries sort by the round they were last verified GREEN, ascending
    (ties broken by registration order). Consequences:

    * A query red or errored in its latest check keeps its old
      ``last_green`` round, so it re-enters the sample immediately.
    * A brand-new query has ``last_green = 0`` and leads the very next
      sample.
    * A green query sampled this round moves to the back; greens past
      the prefix keep aging until they bubble into it — so with sample
      size S and catalog size N, every query is re-verified at least
      once every ``ceil(N / S)`` rounds (the information-theoretic
      floor; = 2 rounds up to N = 2S = 100, degrading gracefully
      beyond). The policy never needs to know the driver's exact S.
    """
    import json
    import re
    from pathlib import Path

    root = Path(__file__).resolve().parent
    rounds: dict[int, dict] = {}
    for p in root.glob("CORRECTNESS_r*.json"):
        m = re.search(r"r(\d+)", p.name)
        rnd = int(m.group(1)) if m else 0
        try:
            data = json.loads(p.read_text())
        except (OSError, ValueError):
            continue
        if isinstance(data, dict) and rnd > 0:
            rounds[rnd] = data
    if not rounds:
        return list(names)

    def green_in(res) -> bool:
        if not isinstance(res, dict):
            return False
        if res.get("hash_match") is None:  # rows-only check
            return res.get("rows_match") is True
        return res.get("hash_match") is True

    last_green = {n: 0 for n in names}
    for rnd in sorted(rounds):
        for n in names:
            if green_in(rounds[rnd].get(n)):
                last_green[n] = rnd

    reg_pos = {n: i for i, n in enumerate(names)}
    return sorted(
        names,
        key=lambda n: (0 if n in FORCE_NEXT else last_green[n], reg_pos[n]),
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    from pm25ml_spark.plans.registry import QUERIES, load_all_plans

    load_all_plans()
    return {n: QUERIES[n] for n in sample_order(list(QUERIES))}


def oracle_sql() -> dict[str, str]:
    """DuckDB-equivalent SQL for every hash-checkable query."""
    from pm25ml_spark.plans.registry import ORACLES, QUERIES, load_all_plans

    load_all_plans()
    order = sample_order(list(QUERIES))
    return {n: ORACLES[n] for n in order if n in ORACLES}
