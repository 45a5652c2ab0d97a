"""Three-point growth-exponent fit for the heavy-hitter queries — the
round-9 verdict ask: a single small→big ratio cannot distinguish
sublinear from quadratic-with-small-constant, so the slowest queries
get a THIRD point (a sharded-replication sf, see ``gen_scaled_sf.py``)
and a least-squares log-log fit of ``t = c·sf^e``.

Reading ``e``: fixed per-query overhead (job scheduling, Python worker
round-trips, parquet footers)
biases the fitted exponent DOWN at these tiny local sfs, so e is an
upper-level sanity gate, not a precise complexity measure: e < 1.2
means "no superlinear blow-up is hiding under the constant"; anything
above gets a named plan read.

Selection: the top-N slowest queries from BENCH_FULL.json plus the
verdict's named heavy set. Timing is bench-identical (noop sink, warm
session, min of two passes, clearCache between queries).

Writes SCALING_EXPONENT.json and rewrites the block between the
``<!-- scaling-exponent`` markers in SCALING.md.

Usage: python tools/scaling_exponent.py
       [--dirs /root/testdata/sf0.01 /root/testdata/sf0.1 /tmp/pm25ml_scaled/sf0.3]
       [--top 15] [--max-exponent 1.2]
"""

from __future__ import annotations

import argparse
import json
import math
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

_MARK_A = "<!-- scaling-exponent:start (generated by tools/scaling_exponent.py) -->"
_MARK_B = "<!-- scaling-exponent:end -->"

# the r9 verdict's named heavy hitters — always measured
_MANDATORY = ["a09", "a10"]


def _sf_of(path: str) -> float:
    return float(path.rstrip("/").split("sf")[-1])


def _fit_exponent(sfs: list[float], ts: list[float]) -> float:
    xs = [math.log(s) for s in sfs]
    ys = [math.log(t) for t in ts]
    n = len(xs)
    mx, my = sum(xs) / n, sum(ys) / n
    num = sum((x - mx) * (y - my) for x, y in zip(xs, ys))
    den = sum((x - mx) ** 2 for x in xs)
    return num / den


def main() -> int:
    here = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    ap = argparse.ArgumentParser()
    ap.add_argument(
        "--dirs",
        nargs="+",
        default=[
            "/root/testdata/sf0.01",
            "/root/testdata/sf0.1",
            "/tmp/pm25ml_scaled/sf0.3",
        ],
    )
    ap.add_argument("--top", type=int, default=15)
    ap.add_argument("--max-exponent", type=float, default=1.2)
    args = ap.parse_args()

    with open(os.path.join(here, "BENCH_FULL.json")) as f:
        bench = json.load(f)
    slowest = sorted(
        bench["queries"], key=lambda n: -bench["queries"][n]
    )[: args.top]
    tags = {n.split("_", 1)[0]: n for n in bench["queries"]}
    wanted = dict.fromkeys(
        slowest + [tags[t] for t in _MANDATORY if t in tags]
    )

    os.environ.setdefault("SPARK_GRAFT_CPUS", "32")
    from pm25ml_spark.plans.registry import QUERIES, load_all_plans
    from pm25ml_spark.session import get_spark

    load_all_plans()
    spark = get_spark("pm25ml_spark-scaling-exponent")
    QUERIES["q01_pricing_summary"](spark, args.dirs[0]).collect()  # warm

    sfs = [_sf_of(d) for d in args.dirs]
    results: dict[str, dict] = {}
    for name in wanted:
        if name not in QUERIES:
            continue
        ts = []
        for d in args.dirs:
            best = None
            for _pass in range(2):
                t0 = time.perf_counter()
                df = QUERIES[name](spark, d)
                df.write.format("noop").mode("overwrite").save()
                el = time.perf_counter() - t0
                best = el if best is None else min(best, el)
                spark.catalog.clearCache()
            ts.append(round(best, 4))
        e = _fit_exponent(sfs, ts)
        results[name] = {
            "times_sec": dict(zip(map(str, sfs), ts)),
            "exponent": round(e, 3),
            "flagged": e > args.max_exponent,
        }
        print(f"{name}: {ts} -> e={e:.3f}", file=sys.stderr)

    doc = {
        "sfs": sfs,
        "max_exponent": args.max_exponent,
        "queries": results,
        "flagged": sorted(n for n, r in results.items() if r["flagged"]),
    }
    with open(os.path.join(here, "SCALING_EXPONENT.json"), "w") as f:
        json.dump(doc, f, indent=1, sort_keys=True)

    lines = [
        _MARK_A,
        "",
        f"Three-point growth exponents (sf {', '.join(map(str, sfs))}; "
        "sharded-replication third point via `tools/gen_scaled_sf.py`; "
        "bench-identical timing, min of two passes). `e` is the "
        "least-squares log-log slope of `t = c*sf^e`; local fixed "
        "overhead biases it DOWN, so the gate is `e < "
        f"{args.max_exponent}` — no superlinear growth hiding under the "
        "constant.",
        "",
        "| query | " + " | ".join(f"t@sf{s}" for s in sfs) + " | e | ok |",
        "|---|" + "---|" * (len(sfs) + 2),
    ]
    for n in sorted(results):
        r = results[n]
        ts = [r["times_sec"][str(s)] for s in sfs]
        lines.append(
            f"| {n} | "
            + " | ".join(f"{t:.2f}" for t in ts)
            + f" | {r['exponent']:.2f} | {'FLAG' if r['flagged'] else 'yes'} |"
        )
    lines += ["", _MARK_B]
    block = "\n".join(lines)
    scaling_md = os.path.join(here, "SCALING.md")
    with open(scaling_md) as f:
        md = f.read()
    if _MARK_A in md:
        md = re.sub(
            re.escape(_MARK_A) + r".*?" + re.escape(_MARK_B),
            block,
            md,
            flags=re.S,
        )
    else:
        md = md.rstrip() + "\n\n## Three-point growth exponents\n\n" + block + "\n"
    with open(scaling_md, "w") as f:
        f.write(md)
    print(json.dumps({"flagged": doc["flagged"], "n": len(results)}))
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
