"""Interpolated bigram language-model scoring over pre-tokenized
sequences — the next rung above ``tokens.unigram_logprob`` on the cheap
perplexity-proxy ladder used for web-corpus quality filtering (CCNet /
Gopher style: score every document under a corpus-fit LM, band-pass on the
mean log-probability).

Model: Jelinek-Mercer interpolation. For a document t_1..t_n,

    score(d) = [ log p_uni(t_1) + sum_{i=2..n} log( lam * p_uni(t_i)
                + (1 - lam) * c(t_{i-1}, t_i) / c_left(t_{i-1}) ) ] / n

with p_uni(t) = c(t) / T fit on the scored corpus itself (every scored
token is therefore in-vocab, mirroring unigram_logprob), c(a, b) the
corpus bigram count, and c_left(a) = sum_b c(a, b) (= occurrences of a in
non-final position — derived from the bigram table, no extra corpus
pass). Unseen bigrams back off to the lam * p_uni term alone, so the log
argument is always positive for in-vocab tokens.

Spark shape at 10^12 sequences: THREE shuffles, none carrying arrays —
(1) the unigram count (8-byte keys, map-side combined; broadcast-gated
lookup like unigram_logprob), (2) the bigram count (16-byte keys,
map-side combined), (3) the per-document re-aggregation. The bigram
table is corpus-distinct-bigram-sized — NOT broadcastable at scale — so
the pair-stream lookup is a shuffle join on (a, b): 16-byte keys plus a
doc id, never token arrays. Adjacent pairs come from an in-task
``transform(sequence(...))`` projection (no self-join, no window).

Reference anchor: generalizes taxaHFE's per-feature abundance statistics
(lib/tree.R summary stages) to sequential token statistics; the graft's
LLM-pipeline quality-scoring family (SURVEY §2 round-7 addendum).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from taxahfe_spark import session


def bigram_logprob(
    seqs: DataFrame,
    tokens_col: str = "tokens",
    id_col: str = "doc_id",
    lam: float = 0.3,
    materialize: bool = True,
) -> DataFrame:
    """Per-document mean interpolated bigram log-probability.

    Returns (id_col, n_tok long, mean_logp double ROUND 6). Empty docs
    emit no row (the unigram_logprob convention). ``lam`` is the unigram
    interpolation weight; the unigram lookup broadcasts while the distinct
    vocabulary stays within ``session.BROADCAST_MAX_ROWS`` ids, else AQE
    decides.

    ``materialize=True`` (default) eagerly localCheckpoints the result so
    the unigram and per-doc-pair caches can be released before returning
    (the bm25_topk idiom; the r7 shape leaked both until the context
    cleaner ran). ``materialize=False`` returns the lazy plan with the
    caches still pinned — used by plan-shape tests.
    """
    if not 0.0 < lam <= 1.0:
        raise ValueError("lam must be in (0, 1]")
    base = (
        seqs.select(F.col(id_col).alias("__id"), F.col(tokens_col).alias("__tk"))
        .filter(F.size("__tk") > 0)
    )
    tok = base.select("__id", F.explode("__tk").alias("__t"))
    uni = tok.groupBy("__t").agg(F.count(F.lit(1)).alias("__cu")).persist()
    try:
        total = uni.agg(F.sum("__cu")).collect()[0][0] or 0
        small = uni.count() <= session.BROADCAST_MAX_ROWS
        uni_r = F.broadcast(uni) if small else uni

        # per-document DISTINCT-pair counts, one corpus pass: the r7 shape
        # derived the adjacent-pair stream twice (once for the global bigram
        # aggregate, once for the per-pair scoring join) — aggregating to
        # (doc, a, b, n) FIRST both halves the corpus pair scans and shrinks
        # the scoring join's probe side to distinct pairs per document,
        # while n rides along so the final average is unchanged. Guard
        # size<2 because sequence(2, 1) would generate a DESCENDING
        # sequence, not an empty one.
        pair_expr = F.when(
            F.size("__tk") >= 2,
            F.transform(
                F.sequence(F.lit(2), F.size("__tk")),
                lambda i: F.struct(
                    F.element_at("__tk", i - 1).alias("a"),
                    F.element_at("__tk", i).alias("b"),
                ),
            ),
        ).otherwise(F.array().cast("array<struct<a:int,b:int>>"))
        doc_pairs = (
            base.select("__id", F.explode(pair_expr).alias("__p"))
            .groupBy(
                "__id", F.col("__p.a").alias("__a"), F.col("__p.b").alias("__b")
            )
            .agg(F.count(F.lit(1)).alias("__n"))
            .persist()
        )
        # global bigram counts roll up from the per-doc table (pair-
        # universe-sized input, not corpus-sized)
        big = doc_pairs.groupBy("__a", "__b").agg(F.sum("__n").alias("__cb"))
        # left-context totals derive from the bigram table (vocab-sized)
        cleft = big.groupBy("__a").agg(F.sum("__cb").alias("__ca"))
        cleft_r = F.broadcast(cleft) if small else cleft

        p_uni_b = F.col("__cu") / F.lit(float(total))
        p_bi = F.coalesce(F.col("__cb") / F.col("__ca"), F.lit(0.0))
        pair_terms = (
            doc_pairs.join(big, ["__a", "__b"], "left")
            .join(cleft_r, "__a", "left")
            .join(uni_r.withColumnRenamed("__t", "__b"), "__b", "inner")
            .select(
                "__id",
                F.col("__n").alias("__w"),
                F.log(
                    F.lit(lam) * p_uni_b + F.lit(1.0 - lam) * p_bi
                ).alias("__term"),
            )
        )
        first_terms = (
            base.select("__id", F.element_at("__tk", 1).alias("__t"))
            .join(uni_r, "__t", "inner")
            .select(
                "__id",
                F.lit(1).cast("long").alias("__w"),
                F.log(F.col("__cu") / F.lit(float(total))).alias("__term"),
            )
        )
        out = (
            first_terms.unionByName(pair_terms)
            .groupBy("__id")
            .agg(
                F.sum("__w").alias("n_tok"),
                F.round(
                    F.sum(F.col("__term") * F.col("__w")) / F.sum("__w"), 6
                ).alias("mean_logp"),
            )
            .select(F.col("__id").alias(id_col), "n_tok", "mean_logp")
        )
        if materialize:
            # one row per doc; frees both caches below
            out = out.localCheckpoint(eager=True)
            doc_pairs.unpersist()
    finally:
        if materialize:
            uni.unpersist()
    return out
