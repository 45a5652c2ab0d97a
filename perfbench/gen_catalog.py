"""Seeded generator of the analyst catalog the ``query_mix`` workload reads.

Writes every table of the repository's catalog (``pm25ml_spark.catalog``)
as one parquet file with that catalog's schema. The tables the benchmark's
queries read (``events``, ``embeddings``, ``orders``), and ``customer`` and
``supplier``, get the row counts of the sf0.1 catalog at ``scale=1.0``; the
others are small placeholders. Values sit on a
cents grid (two decimals), as in that catalog, so every query's fixed-point
arithmetic stays exactly comparable with its DuckDB oracle.

``events`` doubles as a cell-day table: ``user_id`` plays the grid cell and
the day of ``ts`` the date, over ``days`` days. The lattice size
(users × days) is what ``cell_days_per_s`` counts for this workload.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

_EVENT_TYPES = np.array(["click", "error", "purchase", "signup", "view"])
_SEGMENTS = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
_PRIORITIES = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
_STATUSES = np.array(["F", "O", "P"])
_US_PER_DAY = 86_400 * 1_000_000
_EPOCH_2024 = np.datetime64("2024-01-01T00:00:00", "us")
_EPOCH_1995 = np.datetime64("1995-01-01T00:00:00", "us")


def catalog_shape(scale: float, days: int = 30) -> dict[str, int]:
    """Row counts (and the user × day lattice) for one scale."""
    return {
        "events": max(300, round(100_000 * scale)),
        "users": max(16, round(1_500 * scale)),
        "days": days,
        "embeddings": max(100, round(2_000 * scale)),
        "customer": max(50, round(15_000 * scale)),
        "supplier": max(10, round(1_000 * scale)),
        "orders": max(200, round(150_000 * scale)),
    }


def _cents(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return rng.integers(round(lo * 100), round(hi * 100), n) / 100.0


def write_catalog(out_dir: str, seed: int, scale: float, days: int = 30) -> dict[str, int]:
    """Write the tables under ``out_dir``; returns :func:`catalog_shape`."""
    shape = catalog_shape(scale, days)
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)

    n = shape["events"]
    offsets = np.sort(rng.integers(0, days * _US_PER_DAY, n))
    # every user owns at least one event, so the user × day lattice is
    # exactly users × days whatever the seed
    users = rng.integers(0, shape["users"], n)
    users[: shape["users"]] = rng.permutation(shape["users"])
    types = _EVENT_TYPES[rng.integers(0, 5, n)]
    # at most one purchase per user-day: per-day purchase means then sit
    # on the cents grid, and d06's 6-dp rounding of per-user means over
    # them never meets an exact half-way tie, where Spark's and DuckDB's
    # rounding disagree in the last digit
    purchase = np.flatnonzero(types == "purchase")
    cell_day = users[purchase] * days + offsets[purchase] // _US_PER_DAY
    first = np.zeros(len(purchase), dtype=bool)
    first[np.unique(cell_day, return_index=True)[1]] = True
    types[purchase[~first]] = "view"
    tables = {
        "events": pa.table(
            {
                "event_id": pa.array(np.arange(n, dtype=np.int64)),
                "ts": pa.array(_EPOCH_2024 + offsets.astype("timedelta64[us]")),
                "user_id": pa.array(users.astype(np.int64)),
                "event_type": pa.array(types),
                "value": pa.array(np.round(rng.gamma(2.0, 50.0, n), 2)),
                "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
            }
        )
    }

    n = shape["embeddings"]
    emb = rng.normal(0.0, 0.125, (n, 64)).astype(np.float32)
    tables["embeddings"] = pa.table(
        {
            "vec_id": pa.array(np.arange(n, dtype=np.int64)),
            "embedding": pa.array(list(emb), type=pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, n).astype(np.int32)),
        }
    )

    n = shape["customer"]
    tables["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(n, dtype=np.int64)),
            "c_name": pa.array([f"Customer#{k:09d}" for k in range(n)]),
            "c_nationkey": pa.array(rng.integers(0, 25, n).astype(np.int32)),
            "c_acctbal": pa.array(_cents(rng, -999.99, 9999.99, n)),
            "c_mktsegment": pa.array(_SEGMENTS[rng.integers(0, 5, n)]),
        }
    )

    n = shape["supplier"]
    tables["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(n, dtype=np.int64)),
            "s_name": pa.array([f"Supplier#{k:09d}" for k in range(n)]),
            "s_nationkey": pa.array(rng.integers(0, 25, n).astype(np.int32)),
            "s_acctbal": pa.array(_cents(rng, -999.99, 9999.99, n)),
        }
    )

    n = shape["orders"]
    order_days = rng.integers(0, 2_405, n).astype("timedelta64[D]")
    tables["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n, dtype=np.int64)),
            "o_custkey": pa.array(rng.integers(0, shape["customer"], n).astype(np.int64)),
            "o_orderstatus": pa.array(_STATUSES[rng.integers(0, 3, n)]),
            "o_totalprice": pa.array(_cents(rng, 1_000.0, 500_000.0, n)),
            "o_orderdate": pa.array(_EPOCH_1995 + order_days.astype("timedelta64[us]")),
            "o_orderpriority": pa.array(_PRIORITIES[rng.integers(0, 5, n)]),
        }
    )

    # the oracle registers a view over every catalog table, so the tables
    # no benchmark query reads are written too, small
    tables["region"] = pa.table(
        {
            "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
            "r_name": pa.array(["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]),
        }
    )
    tables["nation"] = pa.table(
        {
            "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
            "n_name": pa.array([f"NATION{k:02d}" for k in range(25)]),
            "n_regionkey": pa.array((np.arange(25) % 5).astype(np.int32)),
        }
    )
    n = 100
    tables["part"] = pa.table(
        {
            "p_partkey": pa.array(np.arange(n, dtype=np.int64)),
            "p_name": pa.array([f"part {k}" for k in range(n)]),
            "p_brand": pa.array([f"Brand#{k % 5 + 1}{k % 4 + 1}" for k in range(n)]),
            "p_type": pa.array(["STANDARD POLISHED TIN"] * n),
            "p_size": pa.array((np.arange(n) % 50 + 1).astype(np.int32)),
            "p_retailprice": pa.array(_cents(rng, 900.0, 2_000.0, n)),
        }
    )
    tables["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(np.arange(n, dtype=np.int64)),
            "l_partkey": pa.array(np.arange(n, dtype=np.int64)),
            "l_suppkey": pa.array(np.arange(n, dtype=np.int64) % shape["supplier"]),
            "l_linenumber": pa.array(np.ones(n, dtype=np.int32)),
            "l_quantity": pa.array(np.ones(n)),
            "l_extendedprice": pa.array(_cents(rng, 900.0, 2_000.0, n)),
            "l_discount": pa.array(np.zeros(n)),
            "l_tax": pa.array(np.zeros(n)),
            "l_returnflag": pa.array(["N"] * n),
            "l_linestatus": pa.array(["O"] * n),
            "l_shipdate": pa.array(_EPOCH_1995 + np.arange(n).astype("timedelta64[D]").astype("timedelta64[us]")),
        }
    )
    tables["documents"] = pa.table(
        {
            "doc_id": pa.array(np.arange(n, dtype=np.int64)),
            "text": pa.array([f"document {k}" for k in range(n)]),
            "lang": pa.array(["en"] * n),
            "source": pa.array(["web"] * n),
            "n_chars": pa.array(np.array([len(f"document {k}") for k in range(n)], dtype=np.int64)),
        }
    )

    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return shape
