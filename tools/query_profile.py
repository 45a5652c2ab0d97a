"""Per-query job-count / wall-time profiler (guide §1: measure first).

For each named query (or a default hot list): run once untimed-ish, then
run again with a job group and report wall seconds + number of Spark
jobs + per-job [duration, #tasks] — the fixed-cost census that tells us
whether a slow catalog entry is slow because of DATA or because of the
NUMBER of driver round-trips (collect/count/approxQuantile/commit jobs).

Usage: python tools/query_profile.py [query ...]
"""

from __future__ import annotations

import json
import os
import sys
import time


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    from pm25ml_spark.plans.registry import QUERIES, load_all_plans
    from pm25ml_spark.session import get_spark

    load_all_plans()
    spark = get_spark("pm25ml_spark-profile")
    sc = spark.sparkContext

    names = sys.argv[1:] or [
        "a09_mad_outliers",
        "a10_weighted_median_price",
        "a06_exact_quantiles",
        "m10_ks_drift",
    ]

    # Warm up the session (JIT, worker pool) once.
    QUERIES["q01_pricing_summary"](spark, sf_dir).collect()
    from pyspark.sql import functions as F

    warm = spark.range(64).withColumn("g", F.col("id") % 32)
    warm.groupBy("g").applyInPandas(lambda p: p, "id long, g long").count()

    out = {}
    for name in names:
        spark.catalog.clearCache()
        # pass 1: untimed warm (parquet footers etc.)
        QUERIES[name](spark, sf_dir).write.format("noop").mode(
            "overwrite"
        ).save()
        spark.catalog.clearCache()
        group = f"prof_{name}"
        sc.setJobGroup(group, name)
        t0 = time.perf_counter()
        QUERIES[name](spark, sf_dir).write.format("noop").mode(
            "overwrite"
        ).save()
        wall = time.perf_counter() - t0
        sc.setJobGroup(None, None)
        st = sc.statusTracker()
        jids = sorted(st.getJobIdsForGroup(group))
        jobs = []
        for j in jids:
            info = st.getJobInfo(j)
            n_stages = len(info.stageIds) if info else -1
            n_tasks = 0
            for sid in info.stageIds if info else []:
                si = st.getStageInfo(sid)
                if si:
                    n_tasks += si.numTasks
            jobs.append({"job": j, "stages": n_stages, "tasks": n_tasks})
        out[name] = {
            "wall_sec": round(wall, 3),
            "n_jobs": len(jids),
            "jobs": jobs,
        }
        print(
            f"{name:40s} {wall:7.2f}s  jobs={len(jids):3d} "
            f"tasks={sum(j['tasks'] for j in jobs)}",
            file=sys.stderr,
        )
    print(json.dumps(out, indent=1))


if __name__ == "__main__":
    main()
