"""Data selection via importance resampling (DSIR — Xie et al. 2023,
"Data Selection for Language Models via Importance Resampling"): score every
raw-corpus document by how target-like its hashed n-gram distribution is,
then sample with Gumbel-perturbed top-k.

The estimator is the paper's bag-of-hashed-ngrams form: unigram+bigram
features hashed into ``n_buckets``; target and raw bucket unigram LMs with
Laplace smoothing; per-doc importance log-weight

    log w(d) = sum_{f in d} [ log p_target(bucket(f)) - log p_raw(bucket(f)) ]

and selection by ``log w + Gumbel(id, seed)`` top-k — Gumbel-max sampling
without replacement, fully deterministic in (id, seed).

Spark shape (10^12 docs): the TARGET is in-domain-sample-sized by
definition — its bucket LM aggregates to <= n_buckets rows and collects.
The RAW LM is one map-side-combinable aggregate over the corpus's exploded
feature buckets, also <= n_buckets rows. Scoring joins the exploded
(doc, bucket) stream against the broadcast n_buckets-row log-ratio frame
and sums per doc — two corpus scans total (LM pass + scoring pass), no
driver participation beyond the two bucket-sized collects, and the top-k
cut is TakeOrderedAndProject. ``hash_fn='md5'`` swaps xxhash64 for the
engine-portable md5_hash60 lane so the DuckDB oracle replays every bucket
id, log-ratio, Gumbel draw, and the final cut bit-for-bit (same idiom as
minhash_signatures).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from taxahfe_spark.operators.dedup import md5_hash60
from taxahfe_spark.session import local_frame
from taxahfe_spark.tokens import words


def _features(df: DataFrame, id_cols: list[str], text_col: str) -> DataFrame:
    """Unigram + bigram features WITH multiplicity (DSIR counts grams, so
    no distinct — unlike contamination's _word_ngrams). Zero-word docs emit
    no features and score log w = 0, the neutral weight."""
    dw = words(df, text_col)
    unis = F.col("words")
    bis = F.when(
        F.size("words") >= 2,
        F.transform(
            F.sequence(F.lit(1), F.greatest(F.size("words") - 1, F.lit(1))),
            lambda i: F.concat_ws(" ", F.element_at("words", i), F.element_at("words", i + 1)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return dw.select(
        *id_cols, F.explode(F.concat(unis, bis)).alias("__feat")
    )


def _bucket(col: F.Column, n_buckets: int, hash_fn: str) -> F.Column:
    if hash_fn == "md5":
        return F.pmod(md5_hash60(col), F.lit(n_buckets)).cast("long")
    return F.pmod(F.xxhash64(col), F.lit(n_buckets)).cast("long")


def _bucket_counts(
    df: DataFrame, text_col: str, n_buckets: int, hash_fn: str
) -> dict[int, int]:
    rows = (
        _features(df, [], text_col)
        .select(_bucket(F.col("__feat"), n_buckets, hash_fn).alias("__b"))
        .groupBy("__b")
        .agg(F.count(F.lit(1)).alias("__c"))
        .collect()
    )
    return {int(r["__b"]): int(r["__c"]) for r in rows}


def dsir_logweights(
    raw: DataFrame,
    target: DataFrame,
    n_buckets: int = 4096,
    text_col: str = "text",
    id_col: str = "doc_id",
    seed: int = 42,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Score every raw doc: returns (id_col, logw, gumbel_key).

    ``logw`` is the hashed-ngram importance log-weight; ``gumbel_key`` is
    logw + Gumbel(u) with u the md5 12-hex-digit draw of (id, seed) mapped
    to (0,1) via (v + 0.5) / 16^12 (never exactly 0 or 1, identical in any
    md5 engine). Select with ``dsir_select`` or any threshold on the key.
    """
    import math

    tc = _bucket_counts(target, text_col, n_buckets, hash_fn)
    rc = _bucket_counts(raw, text_col, n_buckets, hash_fn)
    t_tot = sum(tc.values()) + n_buckets
    r_tot = sum(rc.values()) + n_buckets
    lam = [
        (
            b,
            math.log((tc.get(b, 0) + 1) / t_tot)
            - math.log((rc.get(b, 0) + 1) / r_tot),
        )
        for b in sorted(set(tc) | set(rc))
    ]
    lam_df = local_frame(raw.sparkSession, lam, "__b long, __lam double")
    feats = _features(raw, [id_col], text_col).select(
        id_col, _bucket(F.col("__feat"), n_buckets, hash_fn).alias("__b")
    )
    scored = (
        feats.join(F.broadcast(lam_df), "__b", "left")
        .groupBy(id_col)
        .agg(F.sum(F.coalesce("__lam", F.lit(0.0))).alias("logw"))
    )
    # zero-feature docs never enter feats; restore them at logw = 0
    all_ids = raw.select(id_col)
    scored = all_ids.join(scored, id_col, "left").fillna({"logw": 0.0})
    u = (
        F.conv(
            F.substring(
                F.md5(F.concat_ws(":", F.col(id_col).cast("string"), F.lit(str(seed)))),
                1, 12,
            ),
            16, 10,
        ).cast("double")
        + F.lit(0.5)
    ) / F.lit(float(16 ** 12))
    gumbel = -F.log(-F.log(u))
    return scored.withColumn("gumbel_key", F.col("logw") + gumbel)


def dsir_select(scored: DataFrame, k: int, id_col: str = "doc_id") -> DataFrame:
    """Gumbel top-k cut: the k docs with the largest gumbel_key (id asc
    tiebreak) — TakeOrderedAndProject, no global sort."""
    return scored.orderBy(
        F.col("gumbel_key").desc(), F.col(id_col).asc()
    ).limit(k)
