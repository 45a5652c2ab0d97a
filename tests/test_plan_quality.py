"""Physical-plan assertions — the scale contract, enforced in CI.

A plan that passes row-count checks but scans every column, shuffles
needlessly, or sort-merge-joins a dimension table is wrong at 100 TB even
if correct at sf0.001. These tests pin the properties that matter:
predicate pushdown into the parquet scan, column pruning, broadcast joins
for dimensions, and exchange reuse across window frames.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from pm25ml_spark.plans.registry import QUERIES, load_all_plans

load_all_plans()


def physical_plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_q06_filters_pushed_to_scan(spark, sf_dir):
    df = QUERIES["q06_forecast_revenue"](spark, sf_dir)
    plan = physical_plan(df)
    assert "PushedFilters: [" in plan
    # the range predicates must reach the parquet reader
    assert "IsNotNull(l_shipdate)" in plan or "GreaterThanOrEqual(l_shipdate" in plan


def test_q01_column_pruning(spark, sf_dir):
    df = QUERIES["q01_pricing_summary"](spark, sf_dir)
    plan = physical_plan(df)
    # ReadSchema must not include columns the query never touches
    read_schema = plan.split("ReadSchema:", 1)[1].split("\n", 1)[0]
    assert "l_orderkey" not in read_schema
    assert "l_partkey" not in read_schema
    assert "l_quantity" in read_schema


def test_q02_dimensions_broadcast(spark, sf_dir):
    df = QUERIES["q02_region_revenue"](spark, sf_dir)
    plan = physical_plan(df)
    assert plan.count("BroadcastHashJoin") >= 2  # nation and region
    assert "SortMergeJoin" not in plan or plan.count("SortMergeJoin") <= 1


def test_q14_part_broadcast_no_smj(spark, sf_dir):
    df = QUERIES["q14_promo_share"](spark, sf_dir)
    plan = physical_plan(df)
    assert "BroadcastHashJoin" in plan


def test_w01_single_exchange_for_both_frames(spark, sf_dir):
    """Both rolling frames share one (user_id, ts) sort/partition — the
    plan must not shuffle twice."""
    df = QUERIES["w01_rolling_means"](spark, sf_dir)
    plan = physical_plan(df)
    n_exchanges = plan.count("Exchange hashpartitioning(user_id")
    assert n_exchanges == 1, plan[:2000]


def test_whole_stage_codegen_on_agg_path(spark, sf_dir):
    df = QUERIES["q01_pricing_summary"](spark, sf_dir)
    df.collect()  # AQE finalizes THIS dataframe's plan on execution
    plan = physical_plan(df)
    assert "isFinalPlan=true" in plan
    # "*(N)" prefixes mark WholeStageCodegen stages in the compact form
    assert "*(1)" in plan and "*(2)" in plan
    # partial aggregation (map-side combine) before the exchange
    assert "partial_sum" in plan


@pytest.mark.parametrize("name", ["q09_user_day_scaffold", "d03_feature_chain"])
def test_scaffold_day_side_broadcast(spark, sf_dir, name):
    """The day scaffold (≤ a few thousand rows) must be the broadcast side
    of the cross join, never a shuffled one."""
    df = QUERIES[name](spark, sf_dir)
    plan = physical_plan(df)
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


def test_d05_regex_projection_prunes_scan(spark, sf_dir):
    """Regex projection resolves driver-side, so Catalyst must prune the
    events scan to the columns the projected families need."""
    df = QUERIES["d05_regex_projection"](spark, sf_dir)
    plan = physical_plan(df)
    read_schema = plan.split("ReadSchema:", 1)[1].split("\n", 1)[0]
    assert "user_id" in read_schema
    # payload columns never touched by the projected families
    assert "props" not in read_schema and "event_id" not in read_schema


def test_m01_fold_map_broadcasts(spark, sf_dir):
    """The fold map is distinct-group-sized: its join back onto the full
    frame must broadcast, never shuffle the corpus."""
    df = QUERIES["m01_group_folds"](spark, sf_dir)
    assert "BroadcastHashJoin" in physical_plan(df)


def test_iv01_interval_join_no_cartesian(spark, sf_dir):
    """The interval join must be a bucketed equi-join with the range
    predicate residual — the cartesian/BNL plan it exists to avoid."""
    df = QUERIES["iv01_session_error_overlap"](spark, sf_dir)
    plan = physical_plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_w08_decimation_has_no_single_partition_window(spark, sf_dir):
    """W7's catalog query must run the partitioned exact form: a global
    Window.orderBy here would funnel the whole input through one task."""
    df = QUERIES["w08_decimate_100"](spark, sf_dir)
    plan = physical_plan(df)
    # every window must be the per-__bucket local rank (parallel), never
    # a global orderBy frame
    import re

    specs = re.findall(r"windowspecdefinition\([^)]*", plan)
    assert specs, "expected the per-bucket local rank window"
    for spec in specs:
        assert "__bucket" in spec, f"unpartitioned window in w08: {spec}"
    # row-pure bucket exchange, not repartitionByRange (whose per-job
    # boundary resample caused the r6 w08 red)
    assert "hashpartitioning(__bucket" in plan
    assert "rangepartitioning" not in plan.lower()


# ---- catalog-wide unpartitioned-window audit ------------------------------
#
# An unpartitioned WindowExec funnels its whole input through ONE task — a
# corpus-cardinality frame there is the single worst scale bug a plan can
# hide (a round-6 finding). This audit walks the physical plan of
# EVERY catalog query and fails on any unpartitioned WindowExec unless the
# query is allowlisted with a bounded-input justification, turning the
# bench-tail "No Partition Defined for Window" warnings into signal.

# query -> (max allowed unpartitioned WindowExec nodes, why it's bounded)
_BOUNDED_GLOBAL_WINDOWS = {
    # final top-k over ≤ k·salts lane survivors (two-level prune)
    "a04_weighted_sample": (1, "A-ES final top-k over ≤ k·64 lane survivors"),
    # dimension-sized frames
    "w13_cumulative_unique_users": (1, "day-keyed aggregate (calendar-bounded)"),
    "m01_group_folds": (1, "dense_rank over DISTINCT group keys (dimension)"),
    "m06_lift_table": (3, "cumulative gain over the 10 decile rows + r9 in-plan bucket offsets (≤ num_buckets rows; 2 window nodes per prefix sum after exchange reuse)"),
    "m04_roc_auc": (1, "bucket-offset running sum over ≤ num_buckets rows"),
    # r9: ordered_prefix_sum computes bucket offsets IN-PLAN — the
    # exclusive running sum over the ≤ num_buckets per-bucket totals is
    # an unpartitioned window over a bounded (≤ 32-row) frame, replacing
    # the former driver-side totals collect (one fewer job per prefix
    # sum). One window per prefix sum in the plan.
    "w08_decimate_100": (1, "bucket-offset running sum over ≤ num_buckets rows"),
    "m10_ks_drift": (2, "two composed prefix sums, each ≤ num_buckets offset rows"),
}


def _walk_physical(node):
    yield node
    if node.getClass().getSimpleName() == "AdaptiveSparkPlanExec":
        # initialPlan (post-EnsureRequirements), NOT inputPlan: the
        # pre-preparation tree hides exchanges, so audits that count
        # Exchange-adjacent structure would see a truncated plan.
        # WindowExec/CartesianProductExec exist in both, but walk the
        # fuller tree so future audits inherit the right basis.
        yield from _walk_physical(node.initialPlan())
        return
    it = node.children().iterator()
    while it.hasNext():
        yield from _walk_physical(it.next())


@pytest.fixture(scope="module")
def catalog_plan_census(spark, sf_dir):
    """Per-query physical-plan node counts for the catalog-wide audits,
    built ONCE and shared by the two audits below. Some plans run Spark
    jobs while they are built: the exact-quantile queries (a06, a09,
    a10) and the prefix-sum and decimation queries (m04, m10, w08)
    sample their range splits, and k02 collects its grid. On a 4-vCPU
    host at sf0.001, the walk over the 88 queries the catalog then had
    took 56 s of fixture setup when this file ran alone (the whole file
    98 s) and 20 s inside a full suite run."""
    census = {}
    for name, fn in QUERIES.items():
        cart = unpart = 0
        for n in _walk_physical(
            fn(spark, sf_dir)._jdf.queryExecution().executedPlan()
        ):
            simple = n.getClass().getSimpleName()
            if simple == "CartesianProductExec":
                cart += 1
            elif simple == "WindowExec" and n.partitionSpec().size() == 0:
                unpart += 1
        census[name] = {"cartesians": cart, "unpart_windows": unpart}
    return census


def test_no_unbounded_unpartitioned_windows_anywhere(catalog_plan_census):
    # a stale entry would silently exempt a later query reusing its name
    stale = set(_BOUNDED_GLOBAL_WINDOWS) - set(QUERIES)
    assert not stale, f"allowlisted queries not in the catalog: {stale}"
    offenders = {}
    for name, counts in catalog_plan_census.items():
        allowed = _BOUNDED_GLOBAL_WINDOWS.get(name, (0, ""))[0]
        if counts["unpart_windows"] > allowed:
            offenders[name] = counts["unpart_windows"]
    assert not offenders, (
        f"unpartitioned WindowExec over a potentially unbounded frame in: "
        f"{offenders} — either repartition the window, apply the "
        f"global_topk two-level prune, or allowlist with a bounded-input "
        f"justification"
    )


def test_m03_a08_single_aggregate_with_partial(spark, sf_dir):
    """The sufficient-statistics aggregates must be ONE hash aggregate
    with map-side combine (partial_count/partial_sum before the single
    exchange) — the shuffle carries |groups| rows, not the input."""
    for name in ("m03_ols_by_flag", "a08_group_moments"):
        df = QUERIES[name](spark, sf_dir)
        plan = physical_plan(df)
        assert plan.count("Exchange") == 1, name
        assert "partial_sum" in plan or "partial_count" in plan, name
        assert "SortMergeJoin" not in plan and "Window" not in plan, name


def test_q22_scalar_threshold_broadcast_anti_join(spark, sf_dir):
    """Q22 shape: the 1-row scalar threshold joins via broadcast (never a
    shuffled NLJ) and the "never ordered" test is a broadcast/shuffled
    ANTI join, not a cartesian."""
    df = QUERIES["q22_sales_opportunity"](spark, sf_dir)
    plan = physical_plan(df)
    assert "BroadcastNestedLoopJoin" in plan
    assert "LeftAnti" in plan
    assert "CartesianProduct" not in plan


def test_k03_idw_is_bucketed_equi_join(spark, sf_dir):
    """IDW candidates come from the 3x3 cell equi-join — never a
    cartesian or a broadcast nested loop over the source table."""
    df = QUERIES["k03_idw_regrid"](spark, sf_dir)
    plan = physical_plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_d07_forward_asof_is_single_shuffle_union_window(spark, sf_dir):
    """The forward as-of must stay the union+window shape: no range
    join, no cartesian — one Window over the key partitioning."""
    df = QUERIES["d07_next_purchase_asof"](spark, sf_dir)
    plan = physical_plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert plan.count("Window") >= 1
    assert "Union" in plan


def test_m04_auc_has_no_unpartitioned_window(spark, sf_dir):
    """The rank-sum AUC must get its cum-counts from the bucketed
    prefix-sum operator — no global WindowExec, so the plan survives an
    unbounded score domain."""
    df = QUERIES["m04_roc_auc"](spark, sf_dir)
    plan = physical_plan(df)
    import re

    specs = re.findall(r"windowspecdefinition\([^)]*", plan)
    assert specs, "expected the per-bucket local prefix-sum window"
    for spec in specs:
        assert "__bucket" in spec, f"unpartitioned window in m04 plan: {spec}"


def test_d09_stack_feeds_hash_aggregates(spark, sf_dir):
    """The full stacked frame (|rows| x |columns|) must meet HASH
    aggregates only: a combined countDistinct + string min/max agg
    degenerates into a (column, value)-keyed SortAggregate sorting the
    whole stacked frame serially per input split (measured 30 s vs
    ~4 s at sf0.1). String min/max (immutable agg buffer — never
    hash-able) is allowed only downstream of the hash-distinct, where
    the sort touches |distinct| rows. Structural check: every
    Generate(stack) node's direct consumer is a HashAggregate."""
    import re

    df = QUERIES["d09_column_profile"](spark, sf_dir)
    lines = physical_plan(df).splitlines()

    def indent(ln):
        return len(ln) - len(ln.lstrip(" +-:*"))

    gen_rows = [i for i, ln in enumerate(lines) if "Generate stack" in ln]
    assert gen_rows, "stack/Generate node not found"
    for i in gen_rows:
        # walk up the ancestor chain (strictly decreasing indentation)
        # past row-narrow pass-throughs to the first aggregate node
        cur = indent(lines[i])
        agg = None
        for ln in reversed(lines[:i]):
            if indent(ln) >= cur:
                continue
            cur = indent(ln)
            node = re.sub(r"^[\s+\-:*]*", "", ln)
            if "Aggregate" in node:
                agg = node
                break
            assert node.startswith(("Filter", "Project", "ColumnarToRow")), (
                f"unexpected node between stack and its aggregate: {node!r}"
            )
        assert agg is not None and agg.startswith("HashAggregate"), (
            f"stacked frame meets {agg!r}, not a HashAggregate"
        )


def test_a10_weighted_median_is_window_free(spark, sf_dir):
    """The whole point of the bucketed weighted median: NO window sort
    anywhere — the oracle's cumulative-weight window is replaced by
    range buckets + a single-bucket kernel."""
    df = QUERIES["a10_weighted_median_price"](spark, sf_dir)
    assert "WindowExec" not in physical_plan(df)


def test_d10_join_runs_on_salted_key(spark, sf_dir):
    """The hot-key join must actually execute on the composite
    (event_type, __salt) key — if the salt column were dropped before
    the join the query would still be CORRECT (the oracle is the plain
    join) while silently losing the skew spread."""
    df = QUERIES["d10_salted_hot_join"](spark, sf_dir)
    assert "__salt" in physical_plan(df)


def test_q24_dims_broadcast_no_cartesian(spark, sf_dir):
    """Q7 shape: every dimension side broadcasts; the only shuffle join
    is lineitem ⋈ orders on orderkey; the disjunctive cross-nation
    predicate must never degrade to a cartesian."""
    df = QUERIES["q24_volume_shipping"](spark, sf_dir)
    plan = physical_plan(df)
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan
    assert plan.count("BroadcastHashJoin") >= 4  # supp, cust, n1, n2


def test_q25_dims_broadcast_no_cartesian(spark, sf_dir):
    df = QUERIES["q25_market_share"](spark, sf_dir)
    plan = physical_plan(df)
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan
    assert plan.count("BroadcastHashJoin") >= 3  # part, cust-in-region, supp


def test_q26_threshold_broadcast_no_extra_shuffle(spark, sf_dir):
    """Q17 shape: the per-part threshold frame must broadcast back onto
    the fact scan (decorrelated correlated-subquery plan)."""
    df = QUERIES["q26_small_qty_revenue"](spark, sf_dir)
    plan = physical_plan(df)
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


# ---- catalog-wide no-CartesianProduct audit --------------------------------
#
# Per-query no-cartesian pins exist for the pair-emitting families above;
# this audit extends the guarantee to EVERY catalog query: a
# CartesianProduct anywhere means a blocking/banding/broadcast strategy
# silently degraded (e.g. a join condition stopped being an equi-join
# after a refactor) — at corpus scale that's a |n|² explosion. Scalar
# one-row cross joins compile to BroadcastNestedLoopJoin with a 1-row
# build side, which is fine and NOT flagged by this audit; only true
# CartesianProductExec nodes fail.
def test_no_cartesian_product_anywhere(catalog_plan_census):
    offenders = {
        name: counts["cartesians"]
        for name, counts in catalog_plan_census.items()
        if counts["cartesians"]
    }
    assert not offenders, (
        f"CartesianProduct in: {offenders} — a join lost its equi-key or "
        f"a broadcast hint was dropped; restore the blocked/banded/"
        f"broadcast strategy"
    )


def test_w23_rank_filter_becomes_window_group_limit(spark, sf_dir):
    """The rank<=k filter must compile to the two-phase WindowGroupLimit
    (a Partial limit keeping a k-row heap per map partition BEFORE the
    exchange, plus the Final after): the shuffle then carries <= k rows
    per (group, input partition) instead of every purchase. Losing this
    rewrite (e.g. by materializing rk before filtering) silently turns
    a top-k query back into a full-corpus shuffle."""
    df = QUERIES["w23_top3_per_user"](spark, sf_dir)
    nodes = [
        n.getClass().getSimpleName()
        for n in _walk_physical(
            df._jdf.queryExecution().executedPlan()
        )
    ]
    n_wgl = sum(1 for s in nodes if s == "WindowGroupLimitExec")
    assert n_wgl == 2, (
        f"expected Partial+Final WindowGroupLimitExec, got {n_wgl} in {nodes}"
    )


def test_plan_census_is_fresh():
    """PLAN_CENSUS.json must cover the whole current catalog — a new
    @query without a census walk means the 0-cartesian / allowlisted-
    window audit silently excludes it (the r8 gap: 4 queries added
    after the last census run). Regenerate with
    `python tools/plan_census.py`."""
    import json
    import pathlib

    census_path = (
        pathlib.Path(__file__).resolve().parents[1] / "PLAN_CENSUS.json"
    )
    doc = json.loads(census_path.read_text())
    missing = sorted(set(QUERIES) - set(doc["queries"]))
    assert doc["n_queries"] == len(QUERIES) and not missing, (
        f"census covers {doc['n_queries']}/{len(QUERIES)} queries; "
        f"missing: {missing[:10]} — rerun tools/plan_census.py"
    )
    errs = {
        n: c["error"] for n, c in doc["queries"].items() if "error" in c
    }
    assert not errs, f"census walk errored on: {errs}"


def test_wide_granule_reader_plan_has_no_exchange_or_cache(spark):
    """Ingest decodes each date's granules straight into complete wide
    rows: no shuffle (pivot, scaffold join, repartition) and no cached
    relation sit between the manifest scan and the writer."""
    import numpy as np
    import pandas as pd

    from pm25ml_spark.sources.raster import RasterGranule, read_granules_wide

    grid_pdf = pd.DataFrame(
        {"grid_id": np.arange(9, dtype=np.int64), "lon": 70.0, "lat": 20.0}
    )
    granules = [
        RasterGranule(f"fake://m2/{v}/{d}.nc", f"2023-01-{d:02d}", v)
        for d in range(1, 8)
        for v in ("aot", "t2m")
    ]
    plan = physical_plan(read_granules_wide(spark, granules, grid_pdf))
    assert "MapInPandas" in plan
    assert "Exchange" not in plan, plan
    assert "InMemoryRelation" not in plan, plan
