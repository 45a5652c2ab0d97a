"""Catalog-wide physical-plan census — the quantitative face of the
plan-quality story.

For every registered query, walk the executed (AQE-resolved initial)
physical plan and count the operators that matter at 100 TB:

* ``exchanges``          — shuffle Exchange nodes (each is a full
                           network materialization of its input)
* ``broadcasts``         — BroadcastExchange nodes (dimension sides)
* ``windows`` / ``unpartitioned_windows`` — WindowExec nodes and the
                           subset with an empty partitionSpec (single
                           task funnels; audited against an allowlist
                           in tests/test_plan_quality.py)
* ``cartesians``         — CartesianProductExec (must be zero; audited)
* ``python_stages``      — Arrow-batched Python kernels (MapInPandas /
                           FlatMapGroupsInPandas / ArrowEval); the
                           sanctioned non-JVM sites
* ``codegen_spans``      — WholeStageCodegen regions (bigger spans =
                           more of the query fused into generated JVM
                           loops)

Writes PLAN_CENSUS.json: per-query counts + catalog totals. Some
queries run Spark jobs while their plan is built; their census reflects
the final returned frame's plan.

Usage: python tools/plan_census.py [--sf-dir /root/testdata/sf0.001]
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def walk(node):
    yield node
    if node.getClass().getSimpleName() == "AdaptiveSparkPlanExec":
        # initialPlan = after EnsureRequirements/CollapseCodegenStages
        # (exchanges and codegen spans exist); inputPlan would be the
        # pre-preparation tree WITHOUT exchanges — counting on it
        # silently reports 0 shuffles for every AQE plan
        yield from walk(node.initialPlan())
        return
    it = node.children().iterator()
    while it.hasNext():
        yield from walk(it.next())


def census(df) -> dict:
    counts = {
        "exchanges": 0,
        "broadcasts": 0,
        "windows": 0,
        "unpartitioned_windows": 0,
        "cartesians": 0,
        "python_stages": 0,
        "codegen_spans": 0,
    }
    for n in walk(df._jdf.queryExecution().executedPlan()):
        s = n.getClass().getSimpleName()
        if s == "ShuffleExchangeExec":
            counts["exchanges"] += 1
        elif s == "BroadcastExchangeExec":
            counts["broadcasts"] += 1
        elif s == "WindowExec":
            counts["windows"] += 1
            if n.partitionSpec().size() == 0:
                counts["unpartitioned_windows"] += 1
        elif s == "CartesianProductExec":
            counts["cartesians"] += 1
        elif "Python" in s or "InPandas" in s:
            counts["python_stages"] += 1
        elif s == "WholeStageCodegenExec":
            counts["codegen_spans"] += 1
    return counts


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.001")
    ap.add_argument("--out", default="PLAN_CENSUS.json")
    args = ap.parse_args()

    os.environ.setdefault("SPARK_GRAFT_CPUS", "8")
    os.environ.setdefault("SPARK_GRAFT_SHUFFLE", "8")

    from pm25ml_spark.plans.registry import QUERIES, load_all_plans
    from pm25ml_spark.session import get_spark

    load_all_plans()
    spark = get_spark("plan-census")

    per_query: dict[str, dict] = {}
    totals: dict[str, int] = {}
    for i, (name, fn) in enumerate(sorted(QUERIES.items()), 1):
        try:
            c = census(fn(spark, args.sf_dir))
        except Exception as exc:  # census must not abort on one query
            c = {"error": f"{type(exc).__name__}: {exc}"[:200]}
        per_query[name] = c
        for k, v in c.items():
            if isinstance(v, int):
                totals[k] = totals.get(k, 0) + v
        print(f"[{i}/{len(QUERIES)}] {name}: {c}")

    out = {
        "sf_dir": args.sf_dir,
        "n_queries": len(per_query),
        "totals": totals,
        "queries": per_query,
    }
    with open(args.out, "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
    print(f"\ntotals: {totals} -> {args.out}")
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
