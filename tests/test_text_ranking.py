"""Semantic invariants for the ranking/LM-scoring text plans (t10, t12).

Exact values are pinned by the DuckDB oracle in test_oracle_parity; these
tests assert the *semantics* hold independently of the oracle: BM25 top-k
contract and monotone rank order, perplexity = exp(cross-entropy) with the
add-one-smoothing bounds.
"""

from __future__ import annotations

import math

from pm25ml_spark.plans.registry import QUERIES, load_all_plans

load_all_plans()


def test_bm25_topk_contract(spark, sf_dir):
    rows = QUERIES["t10_bm25_top10"](spark, sf_dir).collect()
    assert len(rows) == 10
    by_rk = sorted(rows, key=lambda r: r.rk)
    assert [r.rk for r in by_rk] == list(range(1, 11))
    scores = [r.score for r in by_rk]
    # rank order is by score desc (doc_id tiebreak), every score positive:
    # idf is the Lucene ln(1 + ...) form, so it can never go negative
    assert scores == sorted(scores, reverse=True)
    assert all(s > 0 for s in scores)


def test_bigram_perplexity_bounds(spark, sf_dir):
    rows = QUERIES["t12_bigram_perplexity"](spark, sf_dir).collect()
    assert rows
    for r in rows:
        # perplexity is exp(cross-entropy) (both rounded to 6 dp)
        assert abs(r.perplexity - math.exp(r.cross_entropy)) < 2e-4
        # add-one smoothing keeps every p strictly in (0, 1): H > 0, and
        # H can't exceed ln(cw + V) <= ln(instances + V)
        assert r.cross_entropy > 0
        assert r.n_bigrams >= 1
