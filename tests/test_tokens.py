"""Tokenized-sequence layer tests: vocab determinism, token order, n_tok
invariant, taxonomy count rollup, point-in-time snapshot correctness."""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

from taxahfe_spark.tokens import (
    build_vocab,
    dedup_sequences,
    point_in_time_token_features,
    token_count_rollup,
    tokenize,
    words,
)

DOCS = [
    (1, "the cat sat on the mat"),
    (2, "the dog sat"),
    (3, "cat dog cat"),
]


@pytest.fixture(scope="module")
def seqs(spark):
    df = spark.createDataFrame(DOCS, ["doc_id", "text"])
    return tokenize(df, "text", "doc_id").cache()


def test_tokenize_order_and_invariant(spark, seqs):
    vocab = {
        r["word"]: r["token_id"]
        for r in build_vocab(words(spark.createDataFrame(DOCS, ["doc_id", "text"]))).collect()
    }
    # vocab must be dense lexicographic: cat dog mat on sat the
    assert vocab == {"cat": 0, "dog": 1, "mat": 2, "on": 3, "sat": 4, "the": 5}
    rows = {r["doc_id"]: r for r in seqs.collect()}
    assert rows[1]["tokens"] == [5, 0, 4, 3, 5, 2]  # order preserved
    assert rows[3]["tokens"] == [0, 1, 0]
    assert rows[1]["n_tok"] == 6
    assert all(r["n_tok"] == len(r["tokens"]) for r in rows.values())


def test_token_count_rollup(spark, seqs):
    tax = spark.createDataFrame(
        [
            (0, "animal|feline|cat"),
            (1, "animal|canine|dog"),
            (2, "object|mat"),
            (3, "misc|on"),
            (4, "verb|sat"),
            (5, "misc|the"),
        ],
        ["token_id", "clade_path"],
    )
    counts = token_count_rollup(seqs, tax)
    got = {
        (r["entity_id"], r["path"]): r["value"] for r in counts.collect()
    }
    assert got[(3, "animal")] == 3.0  # 2 cat + 1 dog
    assert got[(3, "animal|feline|cat")] == 2.0
    assert got[(1, "misc")] == 3.0  # 2 the + 1 on
    assert (2, "object|mat") not in got  # doc 2 has no mat


def test_point_in_time_token_features(spark):
    # token 0's clade CHANGES between snapshots: a leaked join is detectable
    events = spark.createDataFrame(
        [("d1", 10, [0, 0, 1]), ("d1", 100, [0, 1, 1]), ("d2", 5, [0])],
        "doc_id string, ts long, tokens array<int>",
    )
    snaps = spark.createDataFrame(
        [
            (8, 0, "old|zero"), (8, 1, "old|one"),
            (50, 0, "new|zero"), (50, 1, "new|one"),
        ],
        "snapshot_ts long, token_id int, clade_path string",
    )
    got = point_in_time_token_features(events, snaps)
    rows = {(r["doc_id"], r["ts"], r["path"]): r["value"] for r in got.collect()}
    # ts=10 -> snapshot 8 (old), ts=100 -> snapshot 50 (new), ts=5 -> none
    assert rows[("d1", 10, "old")] == 3.0
    assert rows[("d1", 10, "old|zero")] == 2.0
    assert rows[("d1", 100, "new")] == 3.0
    assert ("d1", 100, "old") not in rows
    assert not any(k[0] == "d2" for k in rows)  # no snapshot at ts=5 -> no leak


def test_relative_abundance(spark, seqs):
    tax = spark.createDataFrame(
        [(i, p) for i, p in enumerate(["a|cat", "a|dog", "b|mat", "b|on", "b|sat", "b|the"])],
        ["token_id", "clade_path"],
    )
    rel = token_count_rollup(seqs, tax, relative=True)
    sums = (
        rel.groupBy("entity_id", "level").agg(F.sum("value").alias("s")).collect()
    )
    for r in sums:
        assert r["s"] == pytest.approx(1.0)


def test_build_vocab_prefix_partitioned_matches_global_sort(spark, monkeypatch):
    """Scale-safe vocab ids == global lexicographic enumeration, with no
    single-partition global sort in the plan."""
    import random

    from pyspark.sql import functions as F

    from taxahfe_spark.tokens import build_vocab

    rng = random.Random(7)
    wordset = {
        "".join(rng.choice("abcdefghij0123456789") for _ in range(rng.randint(1, 8)))
        for _ in range(30000)
    }
    words_list = sorted(wordset)
    docs = spark.createDataFrame(
        [(i, list(wordset)[i::64]) for i in range(64)],
        "doc_id int, words array<string>",
    )
    # force the scale path (TAXAHFE_DISTRIBUTED=1) and check id identity +
    # plan shape
    monkeypatch.setenv("TAXAHFE_DISTRIBUTED", "1")
    vocab = build_vocab(docs)
    got = {r["word"]: r["token_id"] for r in vocab.collect()}
    expected = {w: i for i, w in enumerate(words_list)}
    assert got == expected
    # the plan must not contain a single-partition global sort window
    plan = vocab._jdf.queryExecution().executedPlan().toString()
    assert "SinglePartition" not in plan
    # the small-vocab fast path produces the same ids
    monkeypatch.delenv("TAXAHFE_DISTRIBUTED")
    got_small = {
        r["word"]: r["token_id"] for r in build_vocab(docs).collect()
    }
    assert got_small == expected


def test_dedup_sequences_exact_min_id(spark):
    """Min-id keeper per distinct token array; rows with unique sequences
    survive untouched; the full-array phase-2 check means two DIFFERENT
    arrays are never merged (exactness under hash collisions is untestable
    directly, but the array is part of the phase-2 partition key)."""
    df = spark.createDataFrame(
        [
            (5, [1, 2, 3]),
            (2, [1, 2, 3]),   # duplicate of 5 -> min id 2 wins
            (7, [1, 2]),      # prefix, NOT a duplicate
            (9, []),          # empty sequence is a valid dedup key
            (11, []),
            (3, [4]),
        ],
        "doc_id long, tokens array<int>",
    )
    kept = sorted(r["doc_id"] for r in dedup_sequences(df).collect())
    assert kept == [2, 3, 7, 9]
    # idempotent and deterministic
    again = sorted(r["doc_id"] for r in dedup_sequences(df).collect())
    assert again == kept


def test_sample_by_source_deterministic_rates(spark):
    from taxahfe_spark.tokens import sample_by_source

    rows = [(i, f"s{i % 2}") for i in range(100)]
    df = spark.createDataFrame(rows, "doc_id long, source string")
    out = sample_by_source(df, {"s0": 0.2}, seed=3)
    p = out.toPandas()
    assert (p[p.source == "s0"].shape[0]) == 10  # ceil(50 * 0.2)
    assert (p[p.source == "s1"].shape[0]) == 50  # unlisted source kept whole
    p2 = sample_by_source(df, {"s0": 0.2}, seed=3).toPandas()
    assert sorted(p.doc_id) == sorted(p2.doc_id)


def test_pack_sequences_budget_and_positions(spark):
    from taxahfe_spark.tokens import pack_sequences

    rows = [(i, "a", 100) for i in range(10)]  # 10 docs x 100 tokens
    df = spark.createDataFrame(rows, "doc_id long, source string, n_tok int")
    out = pack_sequences(df, budget=250).toPandas().sort_values("doc_id")
    # cum_before: 0,100,...,900 -> bins 0,0,0,1,1,2,2,2,3,3
    assert out["bin"].tolist() == [0, 0, 0, 1, 1, 2, 2, 2, 3, 3]
    assert out.groupby("bin")["bin_pos"].apply(
        lambda s: sorted(s) == list(range(len(s)))
    ).all()


def test_pack_sequences_chunked_identical_and_parallel(spark, monkeypatch):
    """The chunked (scale) path must produce bins IDENTICAL to the global
    window, for string AND numeric ids, and must not run the running sum as
    one single-task per-source window."""
    from taxahfe_spark.tokens import pack_sequences

    rng = __import__("numpy").random.default_rng(5)
    # single source = the worst case for a per-source global window
    # 7-char ids: the 6-char chunk prefix puts 10 docs in each chunk
    rows_s = [(f"d{i:06d}", "crawl", int(rng.integers(10, 400))) for i in range(500)]
    df_s = spark.createDataFrame(rows_s, "doc_id string, source string, n_tok int")
    rows_n = [(int(i), "crawl", int(rng.integers(10, 400))) for i in range(500)]
    df_n = spark.createDataFrame(rows_n, "doc_id long, source string, n_tok int")

    for df in (df_s, df_n):
        monkeypatch.delenv("TAXAHFE_DISTRIBUTED", raising=False)
        glob = (
            pack_sequences(df, budget=1000)
            .toPandas().sort_values("doc_id").reset_index(drop=True)
        )
        monkeypatch.setenv("TAXAHFE_DISTRIBUTED", "1")
        chunked = (
            pack_sequences(df, budget=1000)
            .toPandas().sort_values("doc_id").reset_index(drop=True)
        )
        assert glob["bin"].tolist() == chunked["bin"].tolist()
        assert glob["bin_pos"].tolist() == chunked["bin_pos"].tolist()

    # plan shape: the chunked branch's running-sum window partitions by
    # (source, chunk), never by source alone
    plan = pack_sequences(
        df_s, budget=1000
    )._jdf.queryExecution().executedPlan().toString()
    assert "__chunk" in plan


def test_pack_sequences_numeric_ids_run_no_edge_jobs_below_the_gate(spark, monkeypatch):
    """Below ``DOC_RANK_MAX_ROWS`` the one-task window packs the frame, so
    bigint ids cost no more Spark jobs than string ids: the approxQuantile
    chunk edges are computed on the chunked branch only."""
    from taxahfe_spark.tokens import pack_sequences

    monkeypatch.delenv("TAXAHFE_DISTRIBUTED", raising=False)
    tracker = spark.sparkContext.statusTracker()
    jobs, bins = {}, {}
    for id_type in ("string", "bigint"):
        rows = [
            (i if id_type == "bigint" else f"d{i:06d}", "s", 10 + i % 7)
            for i in range(100)
        ]
        df = spark.createDataFrame(rows, f"doc_id {id_type}, source string, n_tok int")
        before = max(tracker.getJobIdsForGroup() or [0])
        out = pack_sequences(df, budget=50).collect()
        jobs[id_type] = max(tracker.getJobIdsForGroup() or [0]) - before
        bins[id_type] = sorted((r["n_tok"], r["bin"], r["bin_pos"]) for r in out)
    assert jobs["bigint"] <= jobs["string"], jobs
    assert bins["bigint"] == bins["string"]


@pytest.mark.parametrize(
    "null_col", ["source", "doc_id_string", "doc_id_long", "n_tok"]
)
def test_running_total_null_keys(spark, monkeypatch, null_col):
    """Rows with a null group key, a null doc id (string or numeric) or a
    null token count keep their place on the chunked branch: it joins the
    chunk offsets null-safe and sorts a null chunk first, as the one-task
    window orders nulls first. Both branches return the same rows, bins and
    bin positions. The null-id rows are identical, so their tied order
    cannot change the result."""
    from collections import Counter

    from taxahfe_spark.tokens import pack_sequences

    id_type = "bigint" if null_col == "doc_id_long" else "string"
    rows = []
    for i in range(40):
        doc = i if id_type == "bigint" else f"d{i:06d}"
        row = [doc, f"s{i % 3}", 10 + (i * 37) % 290]
        if i % 5 == 0:  # 8 rows
            if null_col == "source":
                row[1] = None
            elif null_col == "n_tok":
                row[2] = None
            else:
                row = [None, "s0", 100]
        rows.append(tuple(row))
    df = spark.createDataFrame(rows, f"doc_id {id_type}, source string, n_tok int")

    monkeypatch.delenv("TAXAHFE_DISTRIBUTED", raising=False)
    one_task = Counter(tuple(r) for r in pack_sequences(df, budget=500).collect())
    monkeypatch.setenv("TAXAHFE_DISTRIBUTED", "1")
    packed = pack_sequences(df, budget=500)
    assert "__chunk" in packed._jdf.queryExecution().executedPlan().toString()
    chunked = Counter(tuple(r) for r in packed.collect())
    assert sum(one_task.values()) == 40
    assert chunked == one_task


def test_broadcast_gates_shuffle_fallback_same_rows(spark, monkeypatch):
    """Every operator gated on session.BROADCAST_MAX_ROWS returns the same
    rows when the gate is 0 (the hash or key set joins through a shuffle)."""
    from taxahfe_spark import session
    from taxahfe_spark.operators.dedup import exact_dedup
    from taxahfe_spark.operators.lm import bigram_logprob
    from taxahfe_spark.tokens import (
        incremental_dedup_sequences,
        unigram_logprob,
    )

    seqs = spark.createDataFrame(
        [(1, [1, 2, 3]), (2, [1, 2, 3]), (3, [4, 2]), (4, [5]), (5, [2, 2, 1])],
        "doc_id long, tokens array<int>",
    )
    corpus = spark.createDataFrame([(9, [4, 2])], "doc_id long, tokens array<int>")
    docs = spark.createDataFrame(
        [(1, "a b"), (2, "A  b"), (3, "c"), (4, "d"), (5, "c ")],
        "doc_id long, text string",
    )
    ops = {
        "dedup_sequences": lambda: dedup_sequences(seqs),
        "incremental_dedup_sequences": lambda: incremental_dedup_sequences(seqs, corpus),
        "unigram_logprob": lambda: unigram_logprob(seqs),
        "bigram_logprob": lambda: bigram_logprob(seqs),
        "exact_dedup": lambda: exact_dedup(docs),
    }

    def run():
        return {name: sorted(map(str, op().collect())) for name, op in ops.items()}

    broadcast = run()
    monkeypatch.setattr(session, "BROADCAST_MAX_ROWS", 0)
    assert run() == broadcast
    assert [len(broadcast[n]) for n in ops] == [4, 3, 5, 5, 3]


def test_temperature_rates_semantics(spark):
    """tau=1 -> natural mix (all rates 1); tau=0 -> equal per-source token
    targets (rate inversely proportional to mass, biggest source most
    downsampled); the most-upweighted source is always kept whole."""
    from taxahfe_spark.tokens import temperature_mix, temperature_rates

    rows = (
        [(i, "big", 100) for i in range(80)]
        + [(1000 + i, "mid", 100) for i in range(16)]
        + [(2000 + i, "small", 100) for i in range(4)]
    )
    df = spark.createDataFrame(rows, "doc_id long, source string, n_tok int")

    nat = temperature_rates(df, tau=1.0)
    assert all(abs(r - 1.0) < 1e-9 for r in nat.values())

    uni = temperature_rates(df, tau=0.0)
    # equal targets: budget = 3 * 4 docs -> keep 4 from every source
    assert abs(uni["small"] - 1.0) < 1e-9
    assert abs(uni["mid"] - 4 / 16) < 1e-9
    assert abs(uni["big"] - 4 / 80) < 1e-9

    mid = temperature_rates(df, tau=0.5)
    assert abs(mid["small"] - 1.0) < 1e-9
    assert uni["big"] < mid["big"] < 1.0

    out = temperature_mix(df, tau=0.0, seed=3)
    counts = {r["source"]: r["n"] for r in out.groupBy("source").agg(
        F.count(F.lit(1)).alias("n")).collect()}
    assert counts == {"big": 4, "mid": 4, "small": 4}
    # determinism: same seed -> same kept ids
    a = sorted(r["doc_id"] for r in out.collect())
    b = sorted(r["doc_id"] for r in temperature_mix(df, tau=0.0, seed=3).collect())
    assert a == b


def test_chunk_sequences_windows_and_tails(spark):
    """Disjoint and overlapping chunking: offsets at k*stride < n_tok, each
    chunk is slice(off, max_len); empty sequences produce no rows; min_len
    drops short tails."""
    from taxahfe_spark.tokens import chunk_sequences

    rows = [
        ("a", list(range(10)), 10),  # 10 toks
        ("b", list(range(3)), 3),    # shorter than max_len
        ("c", [], 0),                # empty: no chunks
    ]
    df = spark.createDataFrame(rows, "doc_id string, tokens array<int>, n_tok int")

    # disjoint: max_len=4, stride=4 -> a: [0..3],[4..7],[8..9]; b: [0..2]
    out = {
        (r["doc_id"], r["chunk_id"]): r
        for r in chunk_sequences(df, max_len=4).collect()
    }
    assert set(out) == {("a", 0), ("a", 1), ("a", 2), ("b", 0)}
    assert out[("a", 2)]["chunk"] == [8, 9]
    assert out[("a", 2)]["chunk_off"] == 8
    assert out[("a", 1)]["chunk"] == [4, 5, 6, 7]
    assert out[("b", 0)]["n_chunk_tok"] == 3

    # overlap: max_len=4, stride=2 -> a offsets 0,2,4,6,8
    ov = {
        r["chunk_off"]: r["chunk"]
        for r in chunk_sequences(df, max_len=4, stride=2)
        .filter("doc_id = 'a'").collect()
    }
    assert sorted(ov) == [0, 2, 4, 6, 8]
    assert ov[2] == [2, 3, 4, 5]
    assert ov[8] == [8, 9]

    # min_len=4 drops the 2-token tail at off 8 and b's 3-token chunk
    kept = chunk_sequences(df, max_len=4, min_len=4).collect()
    assert {(r["doc_id"], r["chunk_id"]) for r in kept} == {("a", 0), ("a", 1)}


def test_incremental_dedup_sequences(spark):
    """Batch self-dedup (min-id per distinct array) plus corpus anti join:
    rows duplicated within the batch collapse, rows already in the corpus
    vanish, fresh content survives."""
    from taxahfe_spark.tokens import incremental_dedup_sequences

    new = spark.createDataFrame(
        [
            ("n1", [1, 2, 3]),
            ("n2", [1, 2, 3]),   # dup within batch -> n1 survives the self-dedup
            ("n3", [4, 5]),      # already in corpus -> dropped
            ("n4", [7, 8, 9]),   # fresh
        ],
        "doc_id string, tokens array<int>",
    )
    corpus = spark.createDataFrame(
        [("c1", [4, 5]), ("c2", [6])], "doc_id string, tokens array<int>"
    )
    got = sorted(r["doc_id"] for r in incremental_dedup_sequences(new, corpus).collect())
    assert got == ["n1", "n4"]


def test_corpus_report_groups_and_dup_frac(spark):
    from taxahfe_spark.tokens import corpus_report

    rows = [
        (1, "the cat sat on the mat", "en", "a"),
        (2, "THE CAT  SAT ON THE MAT  ", "en", "a"),  # dup after normalize
        (3, "something else entirely here", "en", "a"),
        (4, "unique text for group b", "en", "b"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string, source string")
    got = {r["source"]: r for r in corpus_report(df).collect()}
    assert got["a"]["n_docs"] == 3 and got["a"]["n_distinct"] == 2
    assert abs(got["a"]["dup_frac"] - round(1 - 2 / 3, 6)) < 1e-9
    assert got["b"]["n_docs"] == 1 and got["b"]["dup_frac"] == 0.0
    assert 0.0 < got["a"]["mean_quality"] <= 1.0


def test_holdout_split_eval_cut_and_quarantine(spark):
    """Eval membership is the md5-rank cut; any non-eval row sharing
    normalized content with an eval row is quarantined; everything else
    trains. Deterministic in (id, seed)."""
    from taxahfe_spark.tokens import holdout_split

    rows = [(i, f"unique text number {i}") for i in range(40)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r["split"] for r in holdout_split(df, frac=0.1, seed=5).collect()}
    assert sum(1 for s in out.values() if s == "eval") == 4  # ceil(40*0.1)
    assert all(s in ("eval", "train") for s in out.values())  # no dups -> no quarantine

    # plant a duplicate of an eval doc: it must land in quarantine
    ev_id = next(i for i, s in out.items() if s == "eval")
    df2 = df.union(
        spark.createDataFrame([(999, f"unique text number {ev_id}")], df.schema)
    )
    out2 = {r["doc_id"]: r["split"] for r in holdout_split(df2, frac=0.1, seed=5).collect()}
    assert out2[999] in ("quarantine", "eval")
    if out2[999] == "quarantine":
        assert out2[ev_id] == "eval"
    else:  # 999 itself ranked into the eval cut; the original is the leak
        assert out2[ev_id] == "quarantine"
    # determinism
    out3 = {r["doc_id"]: r["split"] for r in holdout_split(df2, frac=0.1, seed=5).collect()}
    assert out2 == out3


def test_holdout_split_shuffle_fallback_matches_broadcast(spark, monkeypatch):
    """ADVICE r6: above session.BROADCAST_MAX_ROWS the eval-hash probe joins
    via shuffle instead of a forced broadcast; the split labels are
    identical either way."""
    from taxahfe_spark import session
    from taxahfe_spark.tokens import holdout_split

    rows = [(i, f"unique text number {i}") for i in range(40)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    a = {r["doc_id"]: r["split"] for r in holdout_split(df, frac=0.1, seed=5).collect()}
    monkeypatch.setattr(session, "BROADCAST_MAX_ROWS", 0)
    b = {
        r["doc_id"]: r["split"]
        for r in holdout_split(df, frac=0.1, seed=5).collect()
    }
    assert a == b


def test_allocate_token_budget_plan(spark):
    """Plan math: natural shares give uniform rate and zero repeats below
    total mass; temperature shares with budget > mass earn full epochs on
    upweighted small sources; expected tokens hit the allocation."""
    from taxahfe_spark.tokens import allocate_token_budget

    rows = (
        [(i, "big", 100) for i in range(90)]
        + [(1000 + i, "small", 100) for i in range(10)]
    )
    df = spark.createDataFrame(rows, "doc_id long, source string, n_tok int")
    # natural shares, half budget: every source rate 0.5, no repeats
    plan = allocate_token_budget(df, budget_tokens=5000)
    assert plan == {"big": (0, 0.5), "small": (0, 0.5)}
    # uniform shares (tau=0): each source gets 5000 tokens; small has only
    # 1000 -> 5 full epochs; big subsamples at 5000/9000
    plan = allocate_token_budget(df, budget_tokens=10000, tau=0.0)
    assert plan["small"] == (5, 0.0)
    fe, rem = plan["big"]
    assert fe == 0 and abs(rem - 5000 / 9000) < 1e-9
    # explicit shares: a source absent from shares gets zero
    plan = allocate_token_budget(df, budget_tokens=900, shares={"big": 1.0})
    assert plan["big"] == (0, 0.1) and plan["small"] == (0, 0.0)


def test_budget_mix_and_epochs(spark):
    from pyspark.sql import functions as F

    from taxahfe_spark.tokens import budget_mix, materialize_epochs

    rows = (
        [(i, "big", 100) for i in range(90)]
        + [(1000 + i, "small", 100) for i in range(10)]
    )
    df = spark.createDataFrame(rows, "doc_id long, source string, n_tok int")
    mixed = budget_mix(df, budget_tokens=10000, tau=0.0, seed=7)
    got = {r["doc_id"]: r["n_repeats"] for r in mixed.collect()}
    assert all(got[1000 + i] == 5 for i in range(10))  # 5 exact epochs
    big = [got[i] for i in range(90)]
    assert set(big) <= {0, 1}
    # hash cut keeps roughly rate * n of the big source (deterministic count)
    kept = sum(big)
    assert 0 < kept < 90
    # determinism in (id, seed)
    again = {r["doc_id"]: r["n_repeats"] for r in budget_mix(
        df, budget_tokens=10000, tau=0.0, seed=7).collect()}
    assert again == got
    # epochs expand exactly n_repeats times, 1-based
    ep = materialize_epochs(mixed)
    cnt = {r["doc_id"]: r["cnt"] for r in
           ep.groupBy("doc_id").agg(F.count(F.lit(1)).alias("cnt")).collect()}
    for d, nrep in got.items():
        assert cnt.get(d, 0) == nrep
    assert ep.filter("epoch < 1").count() == 0
    assert ep.agg(F.max("epoch")).collect()[0][0] == 5


def test_remap_tokens(spark, monkeypatch):
    from taxahfe_spark.tokens import remap_tokens

    rows = [
        (1, [10, 20, 10, 30]),
        (2, [20, 10, 40]),
        (3, [40]),
        (4, []),
    ]
    df = spark.createDataFrame(rows, "doc_id long, tokens array<int>")
    # counts: 10->3, 20->2, 30->1, 40->2; min_count=2 keeps {10,20,40}
    # new ids by ascending old id: 10->1, 20->2, 40->3; 30 -> unk 0
    out = {r["doc_id"]: (list(r["tokens"]), r["n_tok"])
           for r in remap_tokens(df, min_count=2).collect()}
    assert out[1] == ([1, 2, 1, 0], 4)
    assert out[2] == ([2, 1, 3], 3)
    assert out[3] == ([3], 1)
    # empty doc emits no exploded rows -> absent (groupBy over explode)
    assert 4 not in out
    # custom unk id
    out2 = {r["doc_id"]: list(r["tokens"])
            for r in remap_tokens(df, min_count=2, unk_id=-1).collect()}
    assert out2[1] == [1, 2, 1, -1]
    # the chunked ranking (above VOCAB_RANK_MAX_ROWS) assigns the same ids;
    # an old id past 2^16 lands in a second chunk
    wide = df.union(spark.createDataFrame([(5, [70000, 40, 70000])], df.schema))
    monkeypatch.delenv("TAXAHFE_DISTRIBUTED", raising=False)
    one_task = {r["doc_id"]: list(r["tokens"]) for r in remap_tokens(wide).collect()}
    monkeypatch.setenv("TAXAHFE_DISTRIBUTED", "1")
    chunked = {r["doc_id"]: list(r["tokens"]) for r in remap_tokens(wide).collect()}
    assert chunked == one_task
    assert one_task[5] == [4, 3, 4]


def test_cms_token_counts_overestimates_only_and_exact_when_wide(spark):
    from pyspark.sql import functions as F

    from taxahfe_spark.tokens import cms_token_counts

    rows = [(i, [i % 7, (i * 3) % 7, 99]) for i in range(50)]
    df = spark.createDataFrame(rows, "doc_id long, tokens array<int>")
    exact = {
        r["__t"]: r["c"]
        for r in df.select(F.explode("tokens").alias("__t"))
        .groupBy("__t").agg(F.count(F.lit(1)).alias("c")).collect()
    }
    # narrow sketch: CMS property est >= exact for every token
    est = {r["token_id"]: r["est_count"]
           for r in cms_token_counts(df, width=8, depth=3).collect()}
    assert set(est) == set(exact)
    assert all(est[t] >= exact[t] for t in exact)
    # wide sketch: no collisions at 8 distinct tokens -> exact
    est_w = {r["token_id"]: r["est_count"]
             for r in cms_token_counts(df, width=1 << 12, depth=4).collect()}
    assert est_w == exact
    # md5 lane agrees with the property too (oracle lane)
    est_m = {r["token_id"]: r["est_count"]
             for r in cms_token_counts(df, width=64, depth=4, hash_fn="md5").collect()}
    assert all(est_m[t] >= exact[t] for t in exact)


def test_stratified_sample_k_exact_counts_and_determinism(spark):
    from pyspark.sql import functions as F

    from taxahfe_spark.tokens import stratified_sample_k

    rows = [(i, "a" if i < 50 else ("b" if i < 58 else "c")) for i in range(60)]
    df = spark.createDataFrame(rows, "doc_id long, source string")
    out = stratified_sample_k(df, k=10, seed=1)
    cnt = {r["source"]: r["c"] for r in
           out.groupBy("source").agg(F.count(F.lit(1)).alias("c")).collect()}
    # exactly min(k, |stratum|): a has 50 -> 10, b has 8 -> 8, c has 2 -> 2
    assert cnt == {"a": 10, "b": 8, "c": 2}
    a = sorted(r["doc_id"] for r in out.collect())
    b = sorted(r["doc_id"] for r in stratified_sample_k(df, k=10, seed=1).collect())
    assert a == b
    c = sorted(r["doc_id"] for r in stratified_sample_k(df, k=10, seed=2).collect())
    assert a != c  # seed moves the cut
    # layout invariance
    d = sorted(r["doc_id"] for r in
               stratified_sample_k(df.repartition(7), k=10, seed=1).collect())
    assert a == d


def test_pit_stream_matches_array_path(spark):
    """r8: point_in_time_token_features_stream on the exploded stream must
    equal the array path on the assembled sequences — including the
    version-change leak case and rows before the first snapshot — and a
    word-keyed stream (the q_pit_token_features shape) must equal the
    token-id-keyed array path through the word<->token_id bijection."""
    from taxahfe_spark.tokens import point_in_time_token_features_stream

    events = spark.createDataFrame(
        [("d1", 10, [0, 0, 1]), ("d1", 100, [0, 1, 1]), ("d2", 5, [0]),
         ("d3", 60, [1, 1, 0, 1])],
        "doc_id string, ts long, tokens array<int>",
    )
    snaps = spark.createDataFrame(
        [
            (8, 0, "old|zero"), (8, 1, "old|one"),
            (50, 0, "new|zero"), (50, 1, "new|one"),
        ],
        "snapshot_ts long, token_id int, clade_path string",
    )
    expect = {
        (r["doc_id"], r["ts"], r["path"], r["level"]): r["value"]
        for r in point_in_time_token_features(events, snaps).collect()
    }

    tok = events.select("doc_id", "ts", F.explode("tokens").alias("token_id"))
    got = {
        (r["doc_id"], r["ts"], r["path"], r["level"]): r["value"]
        for r in point_in_time_token_features_stream(tok, snaps).collect()
    }
    assert got == expect

    # word-keyed stream: remap token ids to words on both stream and snaps
    word_of = {0: "zero", 1: "one"}
    tok_w = spark.createDataFrame(
        [(r["doc_id"], r["ts"], word_of[r["token_id"]]) for r in tok.collect()],
        "doc_id string, ts long, word string",
    )
    snaps_w = spark.createDataFrame(
        [(r["snapshot_ts"], word_of[r["token_id"]], r["clade_path"])
         for r in snaps.collect()],
        "snapshot_ts long, word string, clade_path string",
    )
    got_w = {
        (r["doc_id"], r["ts"], r["path"], r["level"]): r["value"]
        for r in point_in_time_token_features_stream(
            tok_w, snaps_w, token_col="word"
        ).collect()
    }
    assert got_w == expect
