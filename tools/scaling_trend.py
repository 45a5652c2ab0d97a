"""Two-point per-query scaling trend — the cheap local proxy for the
100× question the single-sf bench can't answer.

Times every catalog query bench-style (noop sink, warm session, min of
two passes) at a SMALL sf and compares against the committed
``BENCH_FULL.json`` timings at the benched sf (default sf0.1, 10× the
small point). With data growing ``G`` times, a scale-linear plan grows
≤ ~G in wall time (usually much less locally, where fixed per-query
overhead — job scheduling, Python worker reuse, parquet footers —
dominates small-sf runs); anything growing ≫ G is superlinear and gets
flagged for a plan read. Fixed-cost queries (generated-input codec
queries) are expected to sit near ratio 1.

Writes a markdown table + flag list between the ``<!-- scaling-trend``
markers in SCALING.md and a machine copy to SCALING_TREND.json.

Usage: python tools/scaling_trend.py [--small-dir /root/testdata/sf0.01]
       [--flag-factor 1.5]   # flag when ratio > flag_factor * G
"""

from __future__ import annotations

import argparse
import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

_MARK_A = "<!-- scaling-trend:start (generated by tools/scaling_trend.py) -->"
_MARK_B = "<!-- scaling-trend:end -->"


def _sf_of(path: str) -> float:
    try:
        return float(path.rstrip("/").split("sf")[-1])
    except ValueError:
        return 0.0


def main() -> int:
    here = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    ap = argparse.ArgumentParser()
    ap.add_argument("--small-dir", default="/root/testdata/sf0.01")
    ap.add_argument("--flag-factor", type=float, default=1.5)
    ap.add_argument(
        "--bench-full", default=os.path.join(here, "BENCH_FULL.json")
    )
    args = ap.parse_args()

    with open(args.bench_full) as f:
        bench = json.load(f)
    big_times: dict[str, float] = bench["queries"]
    sf_big, sf_small = float(bench["sf"]), _sf_of(args.small_dir)
    growth = sf_big / sf_small if sf_small else float("nan")

    os.environ.setdefault("SPARK_GRAFT_CPUS", "32")
    from pm25ml_spark.plans.registry import QUERIES, load_all_plans
    from pm25ml_spark.session import get_spark

    load_all_plans()
    spark = get_spark("scaling-trend")
    # warm-up (mirrors bench.py): JVM, parquet footers, Python workers
    QUERIES[sorted(QUERIES)[0]](spark, args.small_dir).write.format(
        "noop"
    ).mode("overwrite").save()

    small: dict[str, float] = {}
    for _pass in range(2):
        for name in sorted(QUERIES):
            t0 = time.perf_counter()
            try:
                df = QUERIES[name](spark, args.small_dir)
                df.write.format("noop").mode("overwrite").save()
                el = time.perf_counter() - t0
                small[name] = min(small.get(name, el), el)
            except Exception:
                small.pop(name, None)
            spark.catalog.clearCache()
        print(f"pass {_pass + 1}: {len(small)} queries timed", flush=True)

    rows = []
    for name in sorted(QUERIES):
        if name not in small or name not in big_times:
            continue
        ts, tb = small[name], big_times[name]
        rows.append((name, ts, tb, tb / ts if ts > 0 else float("inf")))
    flagged = [
        r for r in rows if r[3] > args.flag_factor * growth and r[2] > 1.0
    ]
    flagged.sort(key=lambda r: -r[3])

    lines = [
        _MARK_A,
        "",
        f"### Two-point scaling trend (sf{sf_small:g} → sf{sf_big:g}, "
        f"{growth:g}× data)",
        "",
        f"Bench-style noop-sink timings; ratio > {args.flag_factor:g}×"
        f"{growth:g} = {args.flag_factor * growth:g} with t(sf{sf_big:g}) "
        "> 1 s is flagged as superlinear-suspect. Fixed-cost queries "
        "(generated-input codec queries like k06) are expected near "
        "ratio 1; tiny-time ratios are noise-dominated.",
        "",
    ]
    if flagged:
        lines.append(
            f"**FLAGGED ({len(flagged)})** — growing faster than "
            f"{args.flag_factor:g}× the data growth:"
        )
        lines.append("")
        lines.append("| query | t_small (s) | t_big (s) | ratio |")
        lines.append("|---|---|---|---|")
        for n, ts, tb, r in flagged:
            lines.append(f"| {n} | {ts:.2f} | {tb:.2f} | {r:.1f}× |")
    else:
        lines.append(
            "**No query grows faster than "
            f"{args.flag_factor:g}× the data growth.**"
        )
    lines += [
        "",
        "<details><summary>Full per-query table</summary>",
        "",
        "| query | t_small (s) | t_big (s) | ratio |",
        "|---|---|---|---|",
    ]
    for n, ts, tb, r in sorted(rows, key=lambda r: -r[3]):
        lines.append(f"| {n} | {ts:.2f} | {tb:.2f} | {r:.1f}× |")
    lines += ["", "</details>", "", _MARK_B]
    block = "\n".join(lines)

    scaling_md = os.path.join(here, "SCALING.md")
    with open(scaling_md) as f:
        doc = f.read()
    if _MARK_A in doc:
        doc = re.sub(
            re.escape(_MARK_A) + r".*?" + re.escape(_MARK_B),
            block,
            doc,
            flags=re.S,
        )
    else:
        doc = doc.rstrip() + "\n\n\n" + block + "\n"
    with open(scaling_md, "w") as f:
        f.write(doc)

    with open(os.path.join(here, "SCALING_TREND.json"), "w") as f:
        json.dump(
            {
                "sf_small": sf_small,
                "sf_big": sf_big,
                "growth": growth,
                "flag_factor": args.flag_factor,
                "flagged": [r[0] for r in flagged],
                "queries": {
                    n: {"t_small": round(ts, 4), "t_big": round(tb, 4),
                        "ratio": round(r, 3)}
                    for n, ts, tb, r in rows
                },
            },
            f,
            indent=1,
            sort_keys=True,
        )
    print(
        f"{len(rows)} queries, {len(flagged)} flagged -> SCALING.md + "
        "SCALING_TREND.json"
    )
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
