"""The bench stdout line is a driver contract: ONE JSON object parsed
from the last 2000 captured chars. These tests pin the degradation
ladder that keeps it inside the window as the catalog grows — no Spark
needed."""

from __future__ import annotations

import json

from bench import compact_line


def _compact(n_queries: int) -> dict:
    return {
        "metric": "suite_sec",
        "value": 123.45,
        "unit": "sec",
        "sf": 0.1,
        "queries": {f"q{i:03d}": 1.23 for i in range(n_queries)},
    }


def test_small_catalog_keeps_full_precision_and_stfix():
    line = compact_line(_compact(50))
    d = json.loads(line)
    assert d["queries"]["q000"] == 1.23
    assert len(line) <= 1950


def test_large_catalog_degrades_precision_before_dropping_stfix():
    line = compact_line(_compact(160))
    d = json.loads(line)
    assert len(line) <= 1950
    assert d["queries"]["q000"] == 1.2  # 1-dp fallback


def test_huge_catalog_sheds_precision_before_stfix():
    """Precision goes first (integer seconds; exact numbers live in
    BENCH_FULL.json) — the suite total and every per-query entry
    survive."""
    line = compact_line(_compact(175))
    d = json.loads(line)
    assert len(line) <= 1950
    assert d["queries"]["q000"] == 1  # integer rung engaged
    assert d["value"] == 123.45 and len(d["queries"]) == 175


def test_line_is_single_json_object_with_required_keys():
    d = json.loads(compact_line(_compact(10)))
    assert {"metric", "value", "unit", "sf", "queries"} <= set(d)
