"""Generate a scaled-up benchmark dataset by SHARDED REPLICATION of an
existing sf dir — the third scaling point the two-point trend cannot
provide (a single ratio cannot distinguish sublinear from
quadratic-with-small-constant; three points fit an exponent).

Scaling model: ``factor`` independent shards, each a full copy of the
base sf with a DISJOINT key space (every join/entity key offset by
``shard * 10_000_000``, far above any base key). This is exactly how a
real corpus grows — new independent data, not re-observations of the
old — so per-query work should scale the way production ingest would:

- fact tables (orders/lineitem/events/customer/supplier/part) replicate
  with consistently-offset foreign keys, so join fan-outs per key are
  UNCHANGED and only table cardinality grows;
- dimension tables (region/nation) stay fixed, as TPC-H scaling does;
- ``documents`` text is token-suffixed per shard (``_s<shard>``), so
  shards share NO n-grams: vocabulary and n-gram tables grow linearly
  (replicating identical text would instead make every shard a copy of
  the first — a different workload);
- ``embeddings`` replicate with offset vec_ids (perf probe only — the
  ANN operators' cost is driven by cardinality, not vector values).

Key offsets are multiples of 10^7, which is ≡ 0 mod every modulo the
catalog uses for deterministic sampling (% 10 batches, % 50 query sets,
% 100 centroid strides), so each shard contributes the same workload
FRACTIONS as the base — the scaled run answers "same pipeline, N× the
data", nothing else.

Usage:
    python tools/gen_scaled_sf.py [--base /root/testdata/sf0.1]
        [--factor 3] [--out /tmp/pm25ml_scaled/sf0.3]
"""

from __future__ import annotations

import argparse
import os

import duckdb

_OFF = 10_000_000

# per-table key columns to offset per shard
_KEYED = {
    "customer": ["c_custkey"],
    "supplier": ["s_suppkey"],
    "part": ["p_partkey"],
    "orders": ["o_orderkey", "o_custkey"],
    "lineitem": ["l_orderkey", "l_partkey", "l_suppkey"],
    "events": ["event_id", "user_id"],
    "embeddings": ["vec_id"],
}
_FIXED = ["region", "nation"]  # dimensions: constant under scaling


def _shard_select(con, table: str, base: str, shard: int) -> str:
    src = f"read_parquet('{base}/{table}.parquet')"
    cols = [c[0] for c in con.execute(f"DESCRIBE SELECT * FROM {src}").fetchall()]
    off = shard * _OFF
    if table == "documents":
        if shard == 0:
            return f"SELECT * FROM {src}"
        # disjoint shingle space per shard: suffix every token; n_chars
        # re-derived so the metadata stays consistent with the text
        exprs = []
        for c in cols:
            if c == "doc_id":
                exprs.append(f"doc_id + {off} AS doc_id")
            elif c == "text":
                exprs.append(
                    r"regexp_replace(text, '(\S+)', "
                    rf"'\1_s{shard}', 'g') AS text"
                )
            elif c == "n_chars":
                exprs.append(
                    r"length(regexp_replace(text, '(\S+)', "
                    rf"'\1_s{shard}', 'g')) AS n_chars"
                )
            else:
                exprs.append(c)
        return f"SELECT {', '.join(exprs)} FROM {src}"
    keyed = set(_KEYED.get(table, []))
    exprs = [f"{c} + {off} AS {c}" if c in keyed and shard else c for c in cols]
    return f"SELECT {', '.join(exprs)} FROM {src}"


def generate(base: str, factor: int, out: str) -> None:
    os.makedirs(out, exist_ok=True)
    con = duckdb.connect()
    for table in _FIXED:
        con.execute(
            f"COPY (SELECT * FROM read_parquet('{base}/{table}.parquet')) "
            f"TO '{out}/{table}.parquet' (FORMAT PARQUET)"
        )
    for table in list(_KEYED) + ["documents"]:
        union = " UNION ALL ".join(
            _shard_select(con, table, base, s) for s in range(factor)
        )
        con.execute(
            f"COPY ({union}) TO '{out}/{table}.parquet' (FORMAT PARQUET)"
        )
        n = con.execute(
            f"SELECT count(*) FROM read_parquet('{out}/{table}.parquet')"
        ).fetchone()[0]
        print(f"{table}: {n} rows")


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--base", default="/root/testdata/sf0.1")
    ap.add_argument("--factor", type=int, default=3)
    ap.add_argument("--out", default="/tmp/pm25ml_scaled/sf0.3")
    args = ap.parse_args()
    generate(args.base, args.factor, args.out)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
