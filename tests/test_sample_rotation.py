"""Invariants of the driver-facing coverage rotation.

The external correctness driver verifies a ~50-query prefix of the dict
``__spark_entry__.queries()`` returns. ``sample_order`` must guarantee:

1. The registry itself is never mutated — catalog iteration order stays
   hermetic registration order (ADVICE r5: no import-time reordering
   keyed on result artifacts).
2. Every query NOT green in the latest CORRECTNESS_r*.json is promoted
   into the next prefix (so no query escapes verification for two
   consecutive rounds, and regressions re-enter the sample immediately).
3. The output is a permutation: same names, no loss, no duplication, and
   queries()/oracle_sql() stay key-aligned.
"""

from __future__ import annotations

import importlib

import __spark_entry__ as entry


def test_registry_order_is_hermetic():
    from pm25ml_spark.plans import registry

    registry.load_all_plans()
    first = list(registry.QUERIES)
    # re-import the plan modules; registration order must not depend on
    # repo-root artifacts or prior loads
    registry.load_all_plans()
    assert list(registry.QUERIES) == first
    assert set(registry.ORACLES) <= set(registry.QUERIES)


def test_sample_order_is_permutation():
    q = entry.queries()
    from pm25ml_spark.plans import registry

    assert set(q) == set(registry.QUERIES)
    assert len(q) == len(registry.QUERIES)
    o = entry.oracle_sql()
    order = list(q)
    assert list(o) == [n for n in order if n in o]


def test_force_next_pins_only_registered_queries():
    """A pin naming a deleted query would silently do nothing; every
    FORCE_NEXT entry must still be in the catalog."""
    from pm25ml_spark.plans import registry

    registry.load_all_plans()
    assert entry.FORCE_NEXT <= set(registry.QUERIES), sorted(
        entry.FORCE_NEXT - set(registry.QUERIES)
    )


def test_not_green_promoted_to_prefix(tmp_path, monkeypatch):
    """Synthetic latest-round file: red + absent names must lead."""
    import json

    names = [f"q{i:02d}" for i in range(72)]
    latest = {n: {"hash_match": True, "rows_match": True} for n in names[:50]}
    latest["q07"] = {"hash_match": False, "rows_match": True}  # regression
    latest["q09"] = {"hash_match": None, "rows_match": False}  # rows-only red
    (tmp_path / "CORRECTNESS_r09.json").write_text(json.dumps(latest))
    # an older round must be ignored in favor of r09
    (tmp_path / "CORRECTNESS_r03.json").write_text(json.dumps({}))

    monkeypatch.setattr(entry, "__file__", str(tmp_path / "e.py"))
    out = entry.sample_order(names)
    due = set(names[50:]) | {"q07", "q09"}
    assert set(out[: len(due)]) == due
    assert sorted(out) == sorted(names)
    # rotation of the green remainder is round-dependent but deterministic
    assert entry.sample_order(names) == out


def test_no_correctness_files_keeps_registration_order(tmp_path, monkeypatch):
    monkeypatch.setattr(entry, "__file__", str(tmp_path / "e.py"))
    names = ["a", "b", "c"]
    assert entry.sample_order(names) == names


def test_rotation_module_reimport_stable():
    importlib.reload(entry)
    q1 = list(entry.queries())
    q2 = list(entry.queries())
    assert q1 == q2


def _simulate(n_queries, sample_size, n_rounds, tmp_path, monkeypatch, red=()):
    """Drive sample_order the way the external driver does: each round
    verify the first ``sample_size`` names, write CORRECTNESS_r{N}.json,
    repeat. Returns {query: [rounds it was sampled]}."""
    import json

    names = [f"x{i:03d}" for i in range(n_queries)]
    monkeypatch.setattr(entry, "__file__", str(tmp_path / "e.py"))
    sampled_at = {n: [] for n in names}
    for rnd in range(1, n_rounds + 1):
        order = entry.sample_order(names)
        assert sorted(order) == sorted(names)  # always a permutation
        batch = order[:sample_size]
        result = {}
        for n in batch:
            sampled_at[n].append(rnd)
            ok = n not in red
            result[n] = {"hash_match": ok, "rows_match": True}
        (tmp_path / f"CORRECTNESS_r{rnd:02d}.json").write_text(
            json.dumps(result)
        )
    return sampled_at


def test_staleness_bound_at_120_queries(tmp_path, monkeypatch):
    """The r6 headroom ask: at >100 queries the old latest-round-only
    policy could starve part of the due set. Staleness ordering must hit
    the information-theoretic floor: every query sampled at least once
    in any ceil(N/S) consecutive rounds."""
    import math

    n, s, rounds = 120, 50, 9
    window = math.ceil(n / s)  # 3
    sampled_at = _simulate(n, s, rounds, tmp_path, monkeypatch)
    for q, hits in sampled_at.items():
        assert hits, f"{q} never sampled in {rounds} rounds"
        seq = [0] + hits + [rounds + 1]
        gaps = [b - a for a, b in zip(seq, seq[1:])]
        assert max(gaps) <= window, f"{q} gap {max(gaps)} > {window}: {hits}"


def test_staleness_bound_at_100_queries_is_two_rounds(tmp_path, monkeypatch):
    sampled_at = _simulate(100, 50, 8, tmp_path, monkeypatch)
    for q, hits in sampled_at.items():
        seq = [0] + hits + [9]
        gaps = [b - a for a, b in zip(seq, seq[1:])]
        assert max(gaps) <= 2, f"{q}: {hits}"


def test_persistent_red_resamples_every_round(tmp_path, monkeypatch):
    """A regression must re-enter the sample immediately and keep being
    re-checked until fixed (its last_green never advances)."""
    sampled_at = _simulate(
        120, 50, 6, tmp_path, monkeypatch, red={"x007"}
    )
    # after its first appearance, x007 is in EVERY subsequent sample
    first = sampled_at["x007"][0]
    assert sampled_at["x007"] == list(range(first, 7))
