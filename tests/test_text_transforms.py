"""Independent (Python-recomputed) checks for the t02/t11/t15/t16/t20 text ops —
a third oracle besides DuckDB: the invariants are re-derived from raw
strings with hashlib/collections, no SQL engine involved."""

from __future__ import annotations

import hashlib
import os
from collections import Counter

from pm25ml_spark.catalog import load_table
from pm25ml_spark.plans.registry import QUERIES, load_all_plans

load_all_plans()

SF = "/root/testdata/sf0.001"


def _h60(s: str) -> int:
    return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)


def test_fim_lens_and_digest_match_python_reimplementation(spark):
    docs = {
        r.doc_id: r.text
        for r in load_table(spark, SF, "documents").collect()
    }
    out = {r.doc_id: r for r in QUERIES["t15_fim_transform"](spark, SF).collect()}
    assert set(out) == set(docs)
    n_applied = 0
    for doc_id, text in docs.items():
        ts = text.split(" ")
        n = len(ts)
        r = out[doc_id]
        assert r.n_tokens == n
        h1, h2 = _h60(f"fim1:{doc_id}"), _h60(f"fim2:{doc_id}")
        applied = h1 % 2 == 0 and n >= 3
        assert r.fim_applied == int(applied)
        if not applied:
            assert (r.prefix_len, r.middle_len, r.suffix_len) == (n, 0, 0)
            assert r.spm_digest == hashlib.md5(text.encode()).hexdigest()
            continue
        n_applied += 1
        a = 1 + h1 % (n - 2)
        b = a + 1 + h2 % max(n - a - 1, 1)
        # cut-point contract: three non-empty spans
        assert 1 <= a < b <= n - 1
        assert (r.prefix_len, r.middle_len, r.suffix_len) == (a, b - a, n - b)
        spm = " ".join(ts[b:]) + "|SEP|" + " ".join(ts[:a]) + "|SEP|" + " ".join(ts[a:b])
        assert r.spm_digest == hashlib.md5(spm.encode()).hexdigest()
        # losslessness: the three spans re-concatenate to the original
        assert " ".join(ts[:a] + ts[a:b] + ts[b:]) == text
    # the hash-rate really splits the corpus ~in half
    assert 0.3 < n_applied / len(docs) < 0.7


def test_repetition_signals_match_python_recount(spark):
    docs = {
        r.doc_id: r.text
        for r in load_table(spark, SF, "documents").collect()
    }
    out = {
        r.doc_id: r
        for r in QUERIES["t11_repetition_signals"](spark, SF).collect()
    }
    n_pass = 0
    for doc_id, text in docs.items():
        ts = text.split(" ")
        n = len(ts)
        bg = Counter(" ".join(ts[i : i + 2]) for i in range(n - 1))
        tg = Counter(" ".join(ts[i : i + 3]) for i in range(n - 2))
        r = out[doc_id]
        assert r.n_tokens == n
        assert r.dup_word_frac == (n - len(set(ts))) / n
        assert r.top_bigram_frac == max(bg.values()) / (n - 1)
        dup3 = sum(c for c in tg.values() if c >= 2)
        assert r.dup_trigram_frac == dup3 / (n - 2)
        n_pass += r.passes_repetition
    # thresholds discriminate: both classes present
    assert 0 < n_pass < len(docs)


def test_quality_gate_consistent_with_signals(spark):
    """t02's ``passes_quality`` gate must equal its thresholds recounted
    in Python on the raw tokens, and t02 and t11 must flag the same doc
    population, so gating on both flags drops no doc by a join miss."""
    docs = {
        r.doc_id: r.text
        for r in load_table(spark, SF, "documents").collect()
    }
    quality = {
        r.doc_id: r
        for r in QUERIES["t02_quality_profile"](spark, SF).collect()
    }
    rep = {
        r.doc_id: r.passes_repetition
        for r in QUERIES["t11_repetition_signals"](spark, SF).collect()
    }
    assert set(quality) == set(rep) == set(docs)
    n_both = 0
    for doc_id, text in docs.items():
        ts = text.split(" ")
        n = len(ts)
        n_stop = sum(1 for t in ts if t in ("the", "a"))
        lex = int(n >= 20 and len(set(ts)) / n > 0.3 and n_stop / n < 0.5)
        r = quality[doc_id]
        assert (r.n_tokens, r.n_distinct) == (n, len(set(ts)))
        assert r.passes_quality == lex
        n_both += lex * rep[doc_id]
    # the combined gate discriminates: some docs pass both, some fail
    assert 0 < n_both < len(docs)


def test_repetition_signals_keep_degenerate_short_docs(spark):
    """Docs with < 3 (or < 2) tokens must stay in the population with
    fractions pinned to 0.0 — a quality gate that silently drops rows
    undercounts every downstream denominator."""
    from pm25ml_spark.plans.text import repetition_signals

    long_distinct = " ".join(f"w{i}" for i in range(40))
    df = spark.createDataFrame(
        [(1, "one"), (2, "two words"), (3, "three tokens here"),
         (4, "a a a a a a a a a a"), (5, long_distinct)],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in repetition_signals(df).collect()}
    assert set(out) == {1, 2, 3, 4, 5}
    assert out[1].top_bigram_frac == 0.0 and out[1].dup_trigram_frac == 0.0
    assert out[2].top_bigram_frac == 1.0 and out[2].dup_trigram_frac == 0.0
    assert out[3].dup_trigram_frac == 0.0
    # tiny docs fail naturally (top-bigram frac is 1/(n-1)-floored high),
    # the pathological repeat doc fails, a long distinct doc passes
    assert out[4].passes_repetition == 0
    assert out[5].passes_repetition == 1
    assert out[5].dup_word_frac == 0.0


def test_t16_short_docs_emit_no_grams(spark, tmp_path):
    """Docs with < 3 tokens must be ABSENT from t16 (the oracle's
    range(1, len-1) emits nothing for them; an ungated Spark
    sequence(1, n-2) would descend and emit null-padded grams)."""
    import shutil

    from pm25ml_spark.catalog import TABLE_NAMES
    from pm25ml_spark.plans.registry import ORACLES, QUERIES
    from tests.conftest import SF_DIR
    from tests.oracle_compare import assert_match, run_oracle

    sf = str(tmp_path / "sf")
    os.makedirs(sf)
    for name in TABLE_NAMES:
        if name != "documents":
            shutil.copy(f"{SF_DIR}/{name}.parquet", f"{sf}/{name}.parquet")
    rows = [
        (1, "alpha beta gamma delta", "en", "web", 22),
        (2, "alpha beta", "en", "web", 10),      # 2 tokens: no grams
        (3, "solo", "en", "web", 4),             # 1 token: no grams
        (4, "alpha beta gamma", "en", "web", 16),
    ]
    import pandas as pd

    # single-file parquet (pyarrow), matching the driver layout — a
    # Spark write would produce a directory DuckDB's pattern misses
    pd.DataFrame(
        rows, columns=["doc_id", "text", "lang", "source", "n_chars"]
    ).to_parquet(f"{sf}/documents.parquet", index=False)
    out = QUERIES["t16_ngram_novelty"](spark, sf)
    ids = {r.doc_id for r in out.collect()}
    assert ids == {1, 4}
    assert_match(out, run_oracle(ORACLES["t16_ngram_novelty"], sf), "t16")


def test_winnowing_shared_span_guarantee(spark):
    """Schleimer et al.'s core guarantee: two docs sharing a token run of
    length >= w + k - 1 (= 4 + 3 - 1 = 6 here) must share at least one
    selected fingerprint; and selection density stays near 2/(w+1)."""
    import tempfile

    from pyspark.sql import functions as F

    shared = "alpha beta gamma delta epsilon zeta"  # 6 tokens
    rows = [
        (1, f"one two three {shared} four five six", "en", "s", 1),
        (2, f"seven eight {shared} nine ten eleven twelve", "en", "s", 1),
        (3, "totally different words with no overlap at all here", "en", "s", 1),
    ]
    with tempfile.TemporaryDirectory() as d:
        spark.createDataFrame(
            rows, "doc_id long, text string, lang string, source string, n_chars long"
        ).write.parquet(os.path.join(d, "documents.parquet"))
        # drive the same selection pipeline the catalog query uses, but
        # keep the per-doc fingerprint SETS to check the intersection
        from pyspark.sql import Window
        from pm25ml_spark.plans.text import (
            _WIN_PB,
            _WIN_W,
            _tokens,
            word_ngrams,
        )

        docs = spark.read.parquet(os.path.join(d, "documents.parquet"))
        kgs = docs.select(
            "doc_id",
            (F.size(_tokens()) - 2).cast("bigint").alias("n_kg"),
            F.posexplode(word_ngrams(3)).alias("pos0", "kg"),
        )
        h = F.conv(F.substring(F.md5(F.col("kg")), 1, 10), 16, 10).cast(
            "bigint"
        )
        keyed = kgs.select(
            "doc_id",
            "n_kg",
            (F.col("pos0") + 1).alias("i"),
            (h * _WIN_PB + (F.lit(_WIN_PB - 1) - (F.col("pos0") + 1))).alias(
                "key"
            ),
        )
        w = (
            Window.partitionBy("doc_id")
            .orderBy("i")
            .rowsBetween(Window.currentRow, _WIN_W - 1)
        )
        sel = (
            keyed.withColumn("kmin", F.min("key").over(w))
            .filter(
                F.col("i")
                <= F.greatest(F.lit(1), F.col("n_kg") - (_WIN_W - 1))
            )
            .select("doc_id", F.expr(f"kmin div {_WIN_PB}").alias("sel_h"))
            .distinct()
            .collect()
        )
    fps: dict[int, set] = {}
    for r in sel:
        fps.setdefault(r.doc_id, set()).add(r.sel_h)
    assert fps[1] & fps[2], "shared 6-token span must share a fingerprint"
    assert not (fps[1] & fps[3] or fps[2] & fps[3])
