"""Every registered query with an oracle must match DuckDB exactly.

This mirrors the verification driver's CORRECTNESS gate (row count +
schema + value hash at sf0.01) locally at sf0.001 for fast iteration.
"""

from __future__ import annotations

import pytest

from pm25ml_spark.plans.registry import ORACLES, QUERIES, load_all_plans
from tests.oracle_compare import assert_match, run_oracle

load_all_plans()


@pytest.mark.parametrize("name", sorted(ORACLES))
def test_oracle_parity(spark, sf_dir, name):
    sdf = QUERIES[name](spark, sf_dir)
    odf = run_oracle(ORACLES[name], sf_dir)
    assert_match(sdf, odf, name)


def test_every_query_has_an_oracle():
    assert set(QUERIES) == set(ORACLES)
