"""Dump .explain('formatted') for named queries to files.

Usage: python tools/explain_dump.py OUTDIR SUFFIX query [query ...]
Writes OUTDIR/<query>_<SUFFIX>.txt for each query.

Some queries run Spark jobs while their plan is built (k02 collects its
grid, the exact-quantile and prefix-sum queries sample their range
splits); the dumped plan is the final returned frame's physical plan.
"""

from __future__ import annotations

import os
import sys


def main() -> None:
    outdir, suffix = sys.argv[1], sys.argv[2]
    names = sys.argv[3:]
    os.makedirs(outdir, exist_ok=True)
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    from pm25ml_spark.plans.registry import QUERIES, load_all_plans
    from pm25ml_spark.session import get_spark

    load_all_plans()
    spark = get_spark("pm25ml_spark-explain")
    for name in names:
        df = QUERIES[name](spark, sf_dir)
        txt = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        with open(os.path.join(outdir, f"{name}_{suffix}.txt"), "w") as f:
            f.write(txt)
        print(f"wrote {name}_{suffix}.txt", file=sys.stderr)


if __name__ == "__main__":
    main()
