"""BPE trainer/encoder vs an INDEPENDENT pure-Python dual implementation
(collections.Counter over pair statistics — deliberately different code
shape from the Spark fold), plus plan-shape and determinism pins."""

from __future__ import annotations

from collections import Counter

import pytest

from taxahfe_spark.operators.bpe import (
    bpe_encode,
    bpe_encode_words,
    bpe_train,
    word_counts,
)


# ---------- independent oracle (no shared code with operators/bpe.py) ----
def oracle_train(word_count_pairs, num_merges, min_pair_count=2):
    vocab = {w: (list(w), c) for w, c in word_count_pairs}
    merges = []
    for _ in range(num_merges):
        stats = Counter()
        for syms, c in vocab.values():
            for i in range(len(syms) - 1):
                stats[(syms[i], syms[i + 1])] += c
        if not stats:
            break
        best = min(stats.items(), key=lambda kv: (-kv[1], kv[0]))
        if best[1] < min_pair_count:
            break
        (a, b), _ = best
        merges.append((a, b))
        for w, (syms, c) in vocab.items():
            ns, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                    ns.append(a + b)
                    i += 2
                else:
                    ns.append(syms[i])
                    i += 1
            vocab[w] = (ns, c)
    return merges, {w: syms for w, (syms, c) in vocab.items()}


CORPUS = [
    (1, "low low low low low lower lower newest newest"),
    (2, "newest newest newest newest widest widest widest"),
    (3, "low lower lowest newest wide wider widest"),
    (4, "the the the the quick brown fox fox fox"),
]


def test_bpe_train_matches_independent_oracle(spark):
    docs = spark.createDataFrame(CORPUS, "doc_id long, text string")
    wc = word_counts(docs)
    pairs = [(r["word"], r["count"]) for r in wc.collect()]
    for n in (1, 5, 12):
        got = bpe_train(wc, num_merges=n)
        want, _ = oracle_train(pairs, n)
        assert got == want, f"num_merges={n}: {got} != {want}"


def test_bpe_greedy_overlap_semantics(spark):
    # 'aaa' with merge (a,a): greedy left-to-right gives [aa, a], and the
    # next round can then learn (aa, a)
    docs = spark.createDataFrame([(1, "aaa aaa aab")], "doc_id long, text string")
    wc = word_counts(docs)
    merges = bpe_train(wc, num_merges=2, min_pair_count=1)
    want, state = oracle_train([("aaa", 2), ("aab", 1)], 2, min_pair_count=1)
    assert merges == want
    enc = {r["word"]: list(r["pieces"])
           for r in bpe_encode_words(wc.select("word").distinct(), merges).collect()}
    assert enc == state


def test_bpe_encode_matches_training_state_and_oracle(spark):
    docs = spark.createDataFrame(CORPUS, "doc_id long, text string")
    wc = word_counts(docs)
    pairs = [(r["word"], r["count"]) for r in wc.collect()]
    merges = bpe_train(wc, num_merges=8)
    _, state = oracle_train(pairs, 8)
    enc = {r["word"]: list(r["pieces"])
           for r in bpe_encode_words(wc.select("word"), merges).collect()}
    assert enc == state
    # piece concatenation reconstructs every word exactly
    assert all("".join(p) == w for w, p in enc.items())


def test_bpe_encode_corpus_order_and_counts(spark):
    docs = spark.createDataFrame(CORPUS, "doc_id long, text string")
    merges = bpe_train(word_counts(docs), num_merges=6)
    out = {r["doc_id"]: r for r in bpe_encode(docs, merges).collect()}
    pairs = [(r["word"], r["count"]) for r in word_counts(docs).collect()]
    _, state = oracle_train(pairs, 6)
    for doc_id, text in CORPUS:
        want = [p for w in text.split() for p in state[w]]
        assert list(out[doc_id]["pieces"]) == want
        assert out[doc_id]["n_pieces"] == len(want)


def test_bpe_min_pair_count_stops_early(spark):
    docs = spark.createDataFrame([(1, "ab cd ef")], "doc_id long, text string")
    merges = bpe_train(word_counts(docs), num_merges=10, min_pair_count=2)
    assert merges == []  # every pair occurs once
    merges = bpe_train(word_counts(docs), num_merges=10, min_pair_count=1)
    assert len(merges) == 3  # each word fuses once, deterministic order
    assert merges == [("a", "b"), ("c", "d"), ("e", "f")]


def test_bpe_train_no_python_in_merge_loop(spark):
    """The merge loop is built-ins only: the symbol frame's plan after two
    merges contains no Python eval."""
    docs = spark.createDataFrame(CORPUS, "doc_id long, text string")
    wc = word_counts(docs)
    from pyspark.sql import functions as F

    from taxahfe_spark.operators.bpe import _char_syms, _merge_fold

    cur = wc.select("count", _char_syms("word").alias("syms"))
    cur = cur.withColumn("syms", _merge_fold(F.col("syms"), "l", "o"))
    plan = cur._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan and "PythonUDF" not in plan


def test_bpe_checkpoint_path_same_result(spark, monkeypatch):
    """The distributed trainer learns the same merges whatever its round
    size and checkpoint spacing."""
    from taxahfe_spark.operators import bpe

    docs = spark.createDataFrame(CORPUS, "doc_id long, text string")
    wc = word_counts(docs)
    monkeypatch.setenv("TAXAHFE_DISTRIBUTED", "1")
    monkeypatch.setattr(bpe, "CHECKPOINT_EVERY", 2)
    monkeypatch.setattr(bpe, "BATCH_MAX", 1)
    a = bpe_train(wc, num_merges=10)
    monkeypatch.setattr(bpe, "CHECKPOINT_EVERY", 100)
    monkeypatch.setattr(bpe, "BATCH_MAX", 64)
    b = bpe_train(wc, num_merges=10)
    assert a == b


def test_bpe_both_paths_match_oracle_200_merges_random_corpus(spark, monkeypatch):
    """r8 trainers must stay EXACTLY the sequential argmax sequence on a
    randomized corpus at depth (VERDICT r7 §2 acceptance): 200 merges,
    Zipfian-ish word frequencies, small alphabet so created symbols collide
    and interact often — for BOTH the driver fast path (incremental heap)
    and the distributed batched loop (TAXAHFE_DISTRIBUTED=1). Rows with a
    null word or count contribute nothing on either path."""
    import random

    rng = random.Random(1234)
    alpha = "abcd"
    vocab = [
        "".join(rng.choice(alpha) for _ in range(rng.randint(1, 8)))
        for _ in range(300)
    ]
    pairs = [(w, rng.randint(1, 50)) for w in sorted(set(vocab))]
    wc = spark.createDataFrame(pairs, "word string, count long")
    want, _ = oracle_train(pairs, 200, min_pair_count=1)
    with_nulls = wc.unionByName(
        spark.createDataFrame([(None, 7), ("abcab", None)], wc.schema)
    )
    for frame in (wc, with_nulls):
        monkeypatch.delenv("TAXAHFE_DISTRIBUTED", raising=False)
        got_driver = bpe_train(frame, num_merges=200, min_pair_count=1)
        assert got_driver == want
        monkeypatch.setenv("TAXAHFE_DISTRIBUTED", "1")
        got_dist = bpe_train(frame, num_merges=200, min_pair_count=1)
        assert got_dist == want


def test_bpe_driver_path_job_count(spark):
    """Below the vocab gate, training runs ZERO Spark jobs per merge (one
    count + one collect total) — the r7 shape ran >= 1 job PER merge
    (VERDICT r7 §2 acceptance: job count <= merges/m + O(1))."""
    import random

    rng = random.Random(9)
    alpha = "abcdefgh"
    vocab = sorted(
        {
            "".join(rng.choice(alpha) for _ in range(rng.randint(2, 10)))
            for _ in range(500)
        }
    )
    pairs = [(w, rng.randint(1, 100)) for w in vocab]
    wc = spark.createDataFrame(pairs, "word string, count long")
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    before = max(tracker.getJobIdsForGroup() or [0])
    merges = bpe_train(wc, num_merges=60, min_pair_count=1)
    after = max(tracker.getJobIdsForGroup() or [0])
    n_jobs = after - before
    assert len(merges) == 60
    assert n_jobs <= 6, (n_jobs, len(merges))  # count + collect (+ AQE subjobs)
    # and parity with the oracle on the same fixture
    want, _ = oracle_train(pairs, 60, min_pair_count=1)
    assert merges == want
