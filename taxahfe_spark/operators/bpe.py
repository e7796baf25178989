"""Distributed byte-pair-encoding tokenizer training + corpus encoding
(Sennrich et al. 2016), Spark-first.

The classic BPE observation makes this cluster-friendly: training never
needs the corpus — it needs the DISTINCT-WORD COUNT TABLE, which is
vocab-sized (10^6-10^8 rows at web scale) while the corpus is 10^12 rows.
So the plan is:

  1. ONE corpus scan aggregates (word, count)          [corpus-sized shuffle
     of 8-byte-ish keys, map-side combined]
  2. the merge loop iterates on the vocab-sized symbol frame: each step is
     one map-side-combinable pair-count aggregate + a TakeOrdered(1) argmax
     + an in-task fold applying the merge (F.aggregate — pure built-ins,
     whole-stage codegen, NO Python). localCheckpoint every few steps cuts
     the growing expression lineage.
  3. encoding runs the learned merge list over the DISTINCT words only
     (vocab-sized Arrow-vectorized pandas UDF — the sanctioned exception),
     then the corpus is tokenized by a broadcast word->pieces join + the
     tokenize re-assembly idiom. Encode cost is O(vocab) Python +
     O(corpus) JVM join — the 100 TB shape.

Merge-application semantics (pinned, documented): merges apply left-to-
right greedily, one merge pair at a time, IN LEARNED ORDER — exactly the
fold used during training, so train and encode agree by construction (the
pytest independent oracle re-derives both from scratch in pure Python with
a different code shape).

Determinism: argmax tiebreak is (count desc, a asc, b asc); ids/order
never depend on partition layout.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, StringType

from taxahfe_spark.session import driver_side
from taxahfe_spark.tokens import words as _words

# driver trainer budget: distinct words collected once
DRIVER_MAX_WORDS = 2_000_000
# distributed trainer: candidate pairs one round reads (its TakeOrdered
# size), and accepted merges between lineage-truncating local checkpoints
BATCH_MAX = 64
CHECKPOINT_EVERY = 8


def word_counts(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Corpus scan -> (word, count). The only corpus-sized stage in BPE
    training; map-side combine keeps the exchange small."""
    return (
        _words(docs, text_col)
        .select(F.explode("words").alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("count"))
    )


def _char_syms(word_col: str = "word") -> F.Column:
    """word -> array of single characters (in-task projection)."""
    return F.transform(
        F.sequence(F.lit(1), F.length(word_col)),
        lambda i: F.col(word_col).substr(i, F.lit(1)),
    )


def _merge_fold(syms_col, a: str, b: str) -> F.Column:
    """Greedy left-to-right replacement of adjacent (a, b) with a+b via
    F.aggregate — in-task, built-ins only. try_element_at: ANSI-safe on
    the empty accumulator."""
    merged = a + b
    return F.aggregate(
        syms_col,
        F.array().cast("array<string>"),
        lambda acc, s: F.when(
            (F.size(acc) > 0)
            & (F.try_element_at(acc, F.lit(-1)) == F.lit(a))
            & (s == F.lit(b)),
            F.concat(
                F.slice(acc, 1, F.size(acc) - 1), F.array(F.lit(merged))
            ),
        ).otherwise(F.concat(acc, F.array(s))),
    )


def _adjacent_pairs(syms_col: str) -> F.Column:
    return F.when(
        F.size(syms_col) >= 2,
        F.transform(
            F.sequence(F.lit(2), F.size(syms_col)),
            lambda i: F.struct(
                F.element_at(F.col(syms_col), i - 1).alias("a"),
                F.element_at(F.col(syms_col), i).alias("b"),
            ),
        ),
    ).otherwise(F.array().cast("array<struct<a:string,b:string>>"))


def _adjacent_triples(syms_col: str) -> F.Column:
    return F.when(
        F.size(syms_col) >= 3,
        F.transform(
            F.sequence(F.lit(3), F.size(syms_col)),
            lambda i: F.struct(
                F.element_at(F.col(syms_col), i - 2).alias("x"),
                F.element_at(F.col(syms_col), i - 1).alias("a"),
                F.element_at(F.col(syms_col), i).alias("b"),
            ),
        ),
    ).otherwise(F.array().cast("array<struct<x:string,a:string,b:string>>"))


def _train_driver(
    pairs: list[tuple[str, int]], num_merges: int, min_pair_count: int
) -> list[tuple[str, str]]:
    """Classic incremental BPE trainer over a collected (word, count) table:
    lazy-invalidation heap for the argmax, inverted pair->word index so each
    merge touches only the words containing it. Zero Spark jobs per merge;
    exactly the sequential argmax with the pinned (count desc, a, b)
    tiebreak (Python tuple order == Spark binary string order on the
    alphanumeric vocab words() produces)."""
    import heapq

    words_syms: list[list[str]] = [list(w) for w, _ in pairs]
    counts: list[int] = [c for _, c in pairs]
    pair_counts: dict[tuple[str, str], int] = {}
    index: dict[tuple[str, str], set[int]] = {}
    for wi, syms in enumerate(words_syms):
        c = counts[wi]
        for i in range(len(syms) - 1):
            k = (syms[i], syms[i + 1])
            pair_counts[k] = pair_counts.get(k, 0) + c
            index.setdefault(k, set()).add(wi)
    heap = [(-c, a, b) for (a, b), c in pair_counts.items()]
    heapq.heapify(heap)
    merges: list[tuple[str, str]] = []
    while len(merges) < num_merges and heap:
        negc, a, b = heapq.heappop(heap)
        cur = pair_counts.get((a, b), 0)
        if cur != -negc or cur == 0:
            continue  # stale entry
        if cur < min_pair_count:
            break
        merges.append((a, b))
        touched: set[tuple[str, str]] = set()
        for wi in sorted(index.get((a, b), ())):
            syms = words_syms[wi]
            c = counts[wi]
            # occurrence check (index sets are pruned lazily)
            if not any(
                syms[i] == a and syms[i + 1] == b
                for i in range(len(syms) - 1)
            ):
                continue
            for i in range(len(syms) - 1):
                k = (syms[i], syms[i + 1])
                pair_counts[k] -= c
                touched.add(k)
            ns, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                    ns.append(a + b)
                    i += 2
                else:
                    ns.append(syms[i])
                    i += 1
            words_syms[wi] = ns
            for i in range(len(ns) - 1):
                k = (ns[i], ns[i + 1])
                pair_counts[k] = pair_counts.get(k, 0) + c
                index.setdefault(k, set()).add(wi)
                touched.add(k)
        for k in touched:
            ck = pair_counts.get(k, 0)
            if ck > 0:
                heapq.heappush(heap, (-ck, k[0], k[1]))
            else:
                pair_counts.pop(k, None)
                index.pop(k, None)
    return merges


def bpe_train(
    wc: DataFrame,
    num_merges: int,
    min_pair_count: int = 2,
) -> list[tuple[str, str]]:
    """Learn up to ``num_merges`` merges from a (word, count) frame.

    Rows with a null word or count contribute no pairs (``F.sum`` skips
    nulls), so both paths drop them first.

    DRIVER FAST PATH: BPE training state is vocab-sized by construction
    (module docstring), so within ``DRIVER_MAX_WORDS`` distinct words (a
    few hundred MB of driver memory; ``session.driver_side``) the word
    table is collected ONCE and trained with the classic incremental-heap
    algorithm: zero Spark jobs per merge instead of the r7 one-job-per-merge
    loop that made 32k-merge tokenizers days of driver-bound latency
    (VERDICT r7 §2). Identical merges by construction (same greedy
    replacement, same argmax tiebreak; pinned by the independent oracle +
    a randomized 200-merge property test). Past the gate, the BATCHED
    distributed loop below runs.

    BATCHED rounds, exactly equal to the sequential argmax loop (r7 shape:
    one Spark job PER merge — a non-starter at 32k-merge tokenizers). Each
    round computes the full weighted pair-count table ONCE (TakeOrdered
    ``BATCH_MAX`` with the pinned (count desc, a, b) tiebreak) and accepts
    the longest candidate prefix that is PROVABLY the sequential merge
    sequence:

    - accepted pairs are pairwise symbol-disjoint (also vs every accepted
      merge's CREATED symbol), so no earlier accepted merge can change a
      later candidate's count;
    - every later candidate's count strictly exceeds the largest
      adjacent-TRIPLE count of all earlier accepted pairs — a pair CREATED
      by merging (a, b) has count <= max_x triple(x, a, b) / max_y
      triple(a, b, y) (the (ab, ab) self-pair is covered by triple(a, b,
      a)), so no created pair can outrank the candidate;
    - a batch ends right after an accepted merge whose created symbol
      collides with an EXISTING symbol string (the driver tracks the exact
      symbol universe: initial characters + created merges), because such
      a collision can raise a pre-existing pair's count.

    The triple table is computed only when the symbol-disjoint prefix has
    >= 2 candidates (a 1-candidate round costs exactly the old sequential
    round). Worst case (every round accepts 1) matches the r7 job count;
    Zipfian corpora accept large prefixes, cutting driver-bound latency by
    ~batch-size/2. Stops early when the true next argmax drops below
    ``min_pair_count``. Returns the merge list in learned order.
    """
    wc = wc.dropna(subset=["word", "count"])
    if driver_side(wc.count(), DRIVER_MAX_WORDS):
        tbl = wc.select(
            F.col("word").cast("string"), F.col("count").cast("long")
        ).toArrow()
        pairs = list(
            zip(tbl.column("word").to_pylist(), tbl.column("count").to_pylist())
        )
        return _train_driver(pairs, num_merges, min_pair_count)

    cur = wc.select(
        F.col("count").cast("long").alias("count"), _char_syms("word").alias("syms")
    ).localCheckpoint(eager=True)
    # exact driver-side symbol universe: initial characters + created merges
    symbols = {
        r["c"]
        for r in cur.select(F.explode("syms").alias("c")).distinct().collect()
    }
    merges: list[tuple[str, str]] = []
    applied_since_ckpt = 0
    while len(merges) < num_merges:
        want = min(BATCH_MAX, num_merges - len(merges))
        cands = (
            cur.filter(F.size("syms") >= 2)
            .select("count", F.explode(_adjacent_pairs("syms")).alias("__p"))
            .groupBy(F.col("__p.a").alias("a"), F.col("__p.b").alias("b"))
            .agg(F.sum("count").alias("c"))
            .orderBy(F.col("c").desc(), F.col("a").asc(), F.col("b").asc())
            .limit(want)
            .collect()
        )
        if not cands or cands[0]["c"] < min_pair_count:
            break
        # phase 1: symbol-disjoint candidate prefix (collision-stop AFTER
        # the colliding accept; min_pair_count ends the batch, the next
        # round's argmax decides whether training is truly done)
        prefix: list[tuple[str, str, int]] = []
        blocked: set[str] = set()
        for r in cands:
            a, b, c = r["a"], r["b"], int(r["c"])
            if c < min_pair_count:
                break
            if prefix and ({a, b} & blocked):
                break
            prefix.append((a, b, c))
            blocked |= {a, b, a + b}
            if (a + b) in symbols or any(
                a + b == pa + pb for pa, pb, _ in prefix[:-1]
            ):
                break  # created-symbol collision: stop after this accept
        accepted = prefix[:1]
        if len(prefix) > 1:
            # phase 2: created-pair bound from the triple table, restricted
            # to the prefix pairs (broadcast-filtered scan)
            keys = [(a, b) for a, b, _ in prefix]
            key_col = F.concat_ws("\x1f", "__t.a", "__t.b")
            xkey_col = F.concat_ws("\x1f", "__t.x", "__t.a")
            want_keys = {f"{a}\x1f{b}" for a, b in keys}
            tri = (
                cur.filter(F.size("syms") >= 3)
                .select("count", F.explode(_adjacent_triples("syms")).alias("__t"))
                .filter(
                    key_col.isin(*want_keys) | xkey_col.isin(*want_keys)
                )
                .groupBy("__t.x", "__t.a", "__t.b")
                .agg(F.sum("count").alias("w"))
                .collect()
            )
            keys_set = set(keys)
            bound: dict[tuple[str, str], int] = {}
            for r in tri:
                w = int(r["w"])
                for k in ((r["x"], r["a"]), (r["a"], r["b"])):
                    if k in keys_set:
                        bound[k] = max(bound.get(k, 0), w)
            accepted = [prefix[0]]
            max_bound = bound.get((prefix[0][0], prefix[0][1]), 0)
            if (prefix[0][0] + prefix[0][1]) not in symbols:
                for a, b, c in prefix[1:]:
                    if c <= max_bound:
                        break
                    accepted.append((a, b, c))
                    max_bound = max(max_bound, bound.get((a, b), 0))
                    if (a + b) in symbols:
                        break
        for a, b, _c in accepted:
            merges.append((a, b))
            symbols.add(a + b)
            cur = cur.withColumn("syms", _merge_fold(F.col("syms"), a, b))
            applied_since_ckpt += 1
            if applied_since_ckpt >= CHECKPOINT_EVERY:
                # truncate the fold-expression lineage (same discipline as
                # dedup.connected_components)
                cur = cur.localCheckpoint(eager=True)
                applied_since_ckpt = 0
        if applied_since_ckpt:
            # one checkpoint per round keeps the next round's two scans off
            # a fold-expression chain
            cur = cur.localCheckpoint(eager=True)
            applied_since_ckpt = 0
    return merges


def _apply_merges(word: str, merges: list[tuple[str, str]]) -> list[str]:
    syms = list(word)
    for a, b in merges:
        out: list[str] = []
        for s in syms:
            if out and out[-1] == a and s == b:
                out[-1] = a + b
            else:
                out.append(s)
        syms = out
    return syms


def bpe_encode_words(
    distinct_words: DataFrame, merges: list[tuple[str, str]]
) -> DataFrame:
    """(word) -> (word, pieces array<string>): the learned merge list
    applied per DISTINCT word — the only Python stage, Arrow-vectorized,
    vocab-sized input by construction."""
    mlist = list(merges)

    @F.pandas_udf(ArrayType(StringType()))
    def enc(col: pd.Series) -> pd.Series:
        return col.map(lambda w: _apply_merges(w, mlist))

    return distinct_words.select("word", enc("word").alias("pieces"))


def bpe_encode(
    docs: DataFrame,
    merges: list[tuple[str, str]],
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Corpus encoding: (id_col, pieces array<string>, n_pieces int).

    Python touches only the distinct-word frame; the corpus-sized work is
    a broadcast word->pieces join over the posexploded word stream plus
    the order-preserving re-assembly (array_sort((pos, pieces)) ->
    flatten) — shuffle keys are scalars and per-word piece arrays, never
    documents."""
    dw = _words(docs, text_col)
    piece_map = bpe_encode_words(
        dw.select(F.explode("words").alias("word")).distinct(), merges
    )
    exploded = dw.select(id_col, F.posexplode("words").alias("pos", "word"))
    joined = exploded.join(F.broadcast(piece_map), "word", "inner")
    return (
        joined.groupBy(id_col)
        .agg(
            F.array_sort(
                F.collect_list(F.struct(F.col("pos"), F.col("pieces")))
            ).alias("_pp")
        )
        .withColumn("pieces", F.flatten(F.transform("_pp", lambda s: s["pieces"])))
        .select(id_col, "pieces", F.size("pieces").cast("int").alias("n_pieces"))
    )
