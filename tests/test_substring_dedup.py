"""Tests for the round-6 token-shape quality operators: duplicated-substring
removal (Lee et al. 2022-style), unigram-LM scoring, and Gopher repetition
stats — engineered exact cases plus an independent pure-python dual check on
the real testdata."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from taxahfe_spark.operators.textstats import repetition_stats
from taxahfe_spark.tokens import substring_dedup, tokenize, unigram_logprob


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/documents.parquet").cache()


def _seqs(spark, rows):
    return spark.createDataFrame(rows, ["doc_id", "tokens"]).select(
        "doc_id", F.col("tokens").cast("array<int>").alias("tokens")
    )


def test_substring_dedup_engineered(spark):
    # cross-doc dup (1,2): A covers [0,2), B covers [1,3); within-doc dup
    # (7,7) in C at p=0,1 covers [0,3); D is shorter than k; E is unique
    df = _seqs(
        spark,
        [
            ("a", [1, 2, 3, 4, 5]),
            ("b", [9, 1, 2, 8]),
            ("c", [7, 7, 7]),
            ("d", [5]),
            ("e", [10, 11, 12]),
        ],
    )
    out = {
        r["doc_id"]: r
        for r in substring_dedup(df, "tokens", "doc_id", k=2).collect()
    }
    assert out["a"]["tokens_clean"] == [3, 4, 5] and out["a"]["n_removed"] == 2
    assert out["b"]["tokens_clean"] == [9, 8] and out["b"]["n_removed"] == 2
    assert out["c"]["tokens_clean"] == [] and out["c"]["n_removed"] == 3
    assert out["d"]["tokens_clean"] == [5] and out["d"]["n_removed"] == 0
    assert out["e"]["tokens_clean"] == [10, 11, 12]
    assert all(
        r["n_tok_clean"] == len(r["tokens_clean"]) for r in out.values()
    )


def test_substring_dedup_shuffle_fallback_regime(spark, monkeypatch):
    # BROADCAST_MAX_ROWS=0 forces the non-broadcast join branch; results
    # must be identical to the broadcast regime
    from taxahfe_spark import session

    df = _seqs(spark, [("a", [1, 2, 3]), ("b", [1, 2, 4]), ("c", [8, 9, 10])])
    fast = {
        r["doc_id"]: r["tokens_clean"]
        for r in substring_dedup(df, k=2).collect()
    }
    monkeypatch.setattr(session, "BROADCAST_MAX_ROWS", 0)
    slow = {
        r["doc_id"]: r["tokens_clean"]
        for r in substring_dedup(df, k=2).collect()
    }
    assert fast == slow == {"a": [3], "b": [4], "c": [8, 9, 10]}


def _py_substring_dedup(seqs: dict[str, list[int]], k: int):
    """Independent O(n*m) re-derivation, deliberately different shape:
    counts grams as tuples (no hashing), masks per position."""
    from collections import Counter

    grams = Counter(
        tuple(t[p : p + k])
        for t in seqs.values()
        for p in range(len(t) - k + 1)
    )
    out = {}
    for d, t in seqs.items():
        covered = set()
        for p in range(len(t) - k + 1):
            if grams[tuple(t[p : p + k])] > 1:
                covered.update(range(p, p + k))
        out[d] = [x for i, x in enumerate(t) if i not in covered]
    return out


def test_substring_dedup_real_data_vs_python(spark, docs):
    seqs = tokenize(docs, "text", "doc_id")
    got = {
        r["doc_id"]: list(r["tokens_clean"])
        for r in substring_dedup(seqs, k=3).collect()
    }
    ref = _py_substring_dedup(
        {r["doc_id"]: list(r["tokens"]) for r in seqs.collect()}, k=3
    )
    assert got == ref


def test_unigram_logprob_engineered(spark):
    df = _seqs(spark, [("a", [0, 0, 1]), ("b", [1])])
    out = {r["doc_id"]: r for r in unigram_logprob(df).collect()}
    # freq: 0 -> 2, 1 -> 2, total 4; every token logp = ln(0.5)
    assert out["a"]["n_tok"] == 3 and out["b"]["n_tok"] == 1
    assert out["a"]["mean_logp"] == pytest.approx(
        round(math.log(0.5), 6), abs=1e-9
    )
    assert out["b"]["mean_logp"] == out["a"]["mean_logp"]


def test_unigram_logprob_rare_tokens_score_lower(spark, docs):
    seqs = tokenize(docs, "text", "doc_id")
    out = unigram_logprob(seqs).collect()
    assert len(out) == seqs.count()  # every non-empty doc scored
    vals = [r["mean_logp"] for r in out]
    assert all(v < 0 for v in vals)
    # independent spot check on one doc
    rows = {r["doc_id"]: list(r["tokens"]) for r in seqs.collect()}
    from collections import Counter

    freq = Counter(t for toks in rows.values() for t in toks)
    total = sum(freq.values())
    some_id = next(iter(rows))
    exp = sum(math.log(freq[t] / total) for t in rows[some_id]) / len(
        rows[some_id]
    )
    got = {r["doc_id"]: r["mean_logp"] for r in out}[some_id]
    assert got == pytest.approx(round(exp, 6), abs=1e-6)


def test_repetition_stats_engineered(spark):
    df = spark.createDataFrame(
        [(1, "a a a b"), (2, "x"), (3, "   "), (4, "p q p q")],
        ["doc_id", "text"],
    )
    out = {r["doc_id"]: r for r in repetition_stats(df).collect()}
    assert 3 not in out  # zero-word doc dropped
    r1 = out[1]  # words: a a a b; 2-grams: (a a) x2, (a b)
    assert r1["n_words"] == 4
    assert r1["dup_word_frac"] == pytest.approx(0.5)
    assert r1["dup_ngram_frac"] == pytest.approx(round(1 - 2 / 3, 6))
    assert r1["top_ngram_share"] == pytest.approx(round(2 / 3, 6))
    r2 = out[2]  # single word: degenerate whole-sequence gram
    assert r2["n_words"] == 1 and r2["dup_word_frac"] == 0.0
    assert r2["dup_ngram_frac"] == 0.0 and r2["top_ngram_share"] == 1.0
    r4 = out[4]  # p q p q: grams (p q) (q p) (p q)
    assert r4["dup_word_frac"] == pytest.approx(0.5)
    assert r4["top_ngram_share"] == pytest.approx(round(2 / 3, 6))


def test_repetition_stats_real_data_bounds(spark, docs):
    out = repetition_stats(docs, "text", "doc_id").toPandas()
    n_nonempty = docs.filter(
        F.size(
            F.filter(
                F.split(F.lower("text"), r"[^a-z0-9]+"), lambda w: w != ""
            )
        )
        > 0
    ).count()
    assert len(out) == n_nonempty
    for c in ("dup_word_frac", "dup_ngram_frac", "top_ngram_share"):
        assert (out[c] >= 0).all() and (out[c] <= 1).all()
    assert (out["top_ngram_share"] > 0).all()
