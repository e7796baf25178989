"""Permutation SHAP (Strumbelj-Kononenko Monte-Carlo) for pyspark.ml models.

Reference M11 (lib/shap_funcs.R:14-180): fastshap::explain with adaptive
``nsim = clamp(1.2e6 / (n * p), 10, 200)``, followed by the mean-|SHAP|
feature ranking and top-10 selection (lib/shap_funcs.R:275-291, W3/O3).
Plot rendering is a declared non-goal (SURVEY §7.5); the computed artifact
is the ranking table.

Spark-first execution shape: instead of calling the model once per
(row, sim, feature) — fastshap's loop — ALL perturbed rows are materialized
as one DataFrame by an Arrow-vectorized generator (numpy, no per-row
Python), the model's ``transform`` scores them in a single distributed pass
(JVM-side), and two groupBys reduce to phi and mean-|phi|. Row count is
n_explain x nsim x p x 2, fanned across the cluster; the only driver-sized
object is the background sample (<= ``max_background`` rows).

phi_j(x) = E_sims[ f(pre_O(j) from x, j from x, rest from z)
                 - f(pre_O(j) from x, j & rest from z) ]
with a fresh random permutation O and background row z per sim — the
standard unbiased Shapley estimator.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from taxahfe_spark.session import ForkPool, local_frame


def adaptive_nsim(n_rows: int, n_features: int) -> int:
    """Reference nsim heuristic (lib/shap_funcs.R:84-87)."""
    return int(np.clip(1.2e6 / max(n_rows * n_features, 1), 10, 200))


def _gen_schema(feature_cols: list[str]) -> T.StructType:
    return T.StructType(
        [
            T.StructField("row_id", T.LongType()),
            T.StructField("feature", T.StringType()),
            T.StructField("sign", T.DoubleType()),
            T.StructField("sim", T.IntegerType()),
            *[T.StructField(c, T.DoubleType()) for c in feature_cols],
        ]
    )


def _make_generator(feature_cols: list[str], bc_background, nsim: int, seed: int):
    p = len(feature_cols)

    def gen(batches):
        bg = bc_background.value  # (k, p) numpy
        k = bg.shape[0]
        diag = np.arange(p)
        interleave_feat = np.repeat(diag, 2)  # j, j, j+1, j+1, ...
        for pdf in batches:
            X = pdf[feature_cols].to_numpy(dtype=np.float64)
            ids = pdf["row_id"].to_numpy()
            n = X.shape[0]
            blocks = []
            for r in range(n):
                # rng call pattern per (row, sim) kept exactly as the
                # row-at-a-time generator's: permutation then background draw
                rng = np.random.default_rng(seed + int(ids[r]))
                x = X[r]
                for s in range(nsim):
                    order = rng.permutation(p)
                    z = bg[rng.integers(0, k)]
                    pos = np.empty(p, dtype=np.int64)
                    pos[order] = diag
                    # B[j, i] = feature i precedes j in the permutation:
                    # those coordinates come from x, the rest from z
                    B = pos[None, :] < pos[:, None]
                    base = np.where(B, x[None, :], z[None, :])  # (p, p)
                    with_j = base.copy()
                    with_j[diag, diag] = x
                    without_j = base
                    without_j[diag, diag] = z
                    block = np.empty((2 * p, p))
                    block[0::2] = with_j
                    block[1::2] = without_j
                    blocks.append(block)
            data = (
                np.vstack(blocks) if blocks else np.empty((0, p))
            )
            n_sims = n * nsim
            cols = {
                "row_id": np.repeat(ids, nsim * 2 * p),
                "feature": np.asarray(feature_cols, dtype=object)[
                    np.tile(interleave_feat, n_sims)
                ],
                "sign": np.tile([1.0, -1.0], n_sims * p),
                "sim": np.tile(
                    np.repeat(np.arange(nsim, dtype=np.int32), 2 * p), n
                ),
            }
            out = pd.DataFrame(cols)
            for i, c in enumerate(feature_cols):
                out[c] = data[:, i]
            yield out

    return gen


def shap_mean_abs(
    model,
    df: DataFrame,
    feature_cols: list[str],
    nsim: int | None = None,
    seed: int = 42,
    max_background: int = 100,
    prediction_col: str | None = None,
    top_k: int | None = None,
) -> DataFrame:
    """(feature, mean_abs_shap, rank) for a fitted pyspark.ml model.

    ``df`` must contain numeric ``feature_cols``; the model must accept a
    ``features`` vector column (the dietml convention). ``prediction_col``
    defaults to P(class 0) for probabilistic classifiers, else
    ``prediction``. ``top_k`` applies the reference's slice_head(10) (W3).

    This is the Spark twin of :func:`shap_values_local`, and it stays: a
    pyspark.ml model can only score rows through Spark, so its permutation
    SHAP runs as a Spark job; the numpy engines use the local one.
    """
    spark = df.sparkSession
    n = df.count()
    p = len(feature_cols)
    nsim = nsim or adaptive_nsim(n, p)

    # deterministic background sample, numpy-broadcast (<= max_background x p)
    bg_rows = (
        df.select(*feature_cols)
        .orderBy(F.xxhash64(*[F.col(c) for c in feature_cols], F.lit(seed)))
        .limit(max_background)
        .collect()
    )
    bg = np.array([[float(r[c]) for c in feature_cols] for r in bg_rows])
    bc_bg = spark.sparkContext.broadcast(bg)

    base = df.select(
        F.monotonically_increasing_id().alias("row_id"),
        *[F.col(c).cast("double").alias(c) for c in feature_cols],
    )
    # respread before the x(nsim*p*2) row fan-out so generation parallelizes
    base = base.repartition(spark.sparkContext.defaultParallelism * 2)
    perturbed = base.mapInPandas(
        _make_generator(feature_cols, bc_bg, nsim, seed), _gen_schema(feature_cols)
    )

    from pyspark.ml.feature import VectorAssembler

    assembled = VectorAssembler(
        inputCols=feature_cols, outputCol="features", handleInvalid="keep"
    ).transform(perturbed)
    scored = model.transform(assembled)
    if prediction_col is None:
        if "probability" in scored.columns:
            from pyspark.ml.functions import vector_to_array

            scored = scored.withColumn("__pred", vector_to_array("probability")[0])
        else:
            scored = scored.withColumn("__pred", F.col("prediction").cast("double"))
    else:
        scored = scored.withColumn("__pred", F.col(prediction_col).cast("double"))

    # phi per (row, feature) = sum(sign * pred) / nsim, then mean |phi|
    phi = (
        scored.groupBy("row_id", "feature")
        .agg((F.sum(F.col("sign") * F.col("__pred")) / F.lit(nsim)).alias("phi"))
    )
    # the per-feature aggregate is feature-count-sized (p rows); rank it on
    # the driver rather than via an unpartitioned Window — same values,
    # no single-task WindowExec stage (or its warning) in production logs
    agg_pdf = (
        phi.groupBy("feature")
        .agg(F.avg(F.abs(F.col("phi"))).alias("mean_abs_shap"))
        .toPandas()
        .sort_values(
            ["mean_abs_shap", "feature"], ascending=[False, True], kind="mergesort"
        )
        .reset_index(drop=True)
    )
    agg_pdf["rank"] = np.arange(1, len(agg_pdf) + 1, dtype=np.int32)
    if top_k:
        agg_pdf = agg_pdf[agg_pdf["rank"] <= top_k]
    return local_frame(spark, agg_pdf, "feature string, mean_abs_shap double, rank int")


def _shap_rows_phi(predict, X, bg, nsim: int, seed: int, rows: list[int]) -> np.ndarray:
    """Per-row SHAP vectors phi for the given explain rows (one pool work
    item); returns (len(rows), p) in the order given."""
    n, p = X.shape
    k = bg.shape[0]
    diag = np.arange(p)
    out = np.empty((len(rows), p))
    for ri, r in enumerate(rows):
        # vectorized over sims; per-row rng (seed + r) keeps results
        # deterministic, row-order- and worker-count-independent
        rng = np.random.default_rng(seed + r)
        x = X[r]
        # random per-feature priorities == a uniform random permutation:
        # B[s, j, i] = feature i precedes j in sim s's ordering
        pos = np.argsort(rng.random((nsim, p)), axis=1)
        Z = bg[rng.integers(0, k, nsim)]  # (nsim, p)
        B = pos[:, None, :] < pos[:, :, None]
        base = np.where(B, x[None, None, :], Z[:, None, :])  # (nsim, p, p)
        with_j = base.copy()
        with_j[:, diag, diag] = x[None, :]
        without_j = base
        without_j[:, diag, diag] = Z
        blocks = np.empty((nsim, 2 * p, p))
        blocks[:, 0::2] = with_j
        blocks[:, 1::2] = without_j
        preds = np.asarray(predict(blocks.reshape(-1, p)), dtype=np.float64)
        signed = preds.reshape(nsim, 2 * p)
        out[ri] = (signed[:, 0::2] - signed[:, 1::2]).sum(axis=0) / nsim
    return out


def ranking_from_phi(
    phi: np.ndarray, feature_cols: list[str], top_k: int | None = None
) -> pd.DataFrame:
    """(n, p) SHAP matrix -> the (feature, mean_abs_shap, rank) table
    shap_mean_abs produces (reference get_shap_values + slice_head,
    lib/shap_funcs.R:84-111)."""
    pdf = (
        pd.DataFrame(
            {"feature": feature_cols, "mean_abs_shap": np.abs(phi).mean(axis=0)}
        )
        .sort_values(
            ["mean_abs_shap", "feature"], ascending=[False, True], kind="mergesort"
        )
        .reset_index(drop=True)
    )
    pdf["rank"] = np.arange(1, len(pdf) + 1, dtype=np.int32)
    if top_k:
        pdf = pdf[pdf["rank"] <= top_k]
    return pdf


def shap_values_local(
    predict,
    X: np.ndarray,
    nsim: int | None = None,
    seed: int = 42,
    max_background: int = 100,
) -> np.ndarray:
    """Per-row SHAP matrix (n, p) for the driver-local estimator — the
    basis for both the mean-|phi| ranking and the S9 beeswarm artifact.
    Rows are dealt round-robin to the session's ``ForkPool`` (its children
    inherit ``predict``, which need not pickle); where the driver cannot
    fork, one serial loop computes them. Per-row rngs (seed + row) make the
    matrix identical for every worker count and row order."""
    import zlib

    X = np.asarray(X, dtype=np.float64)
    n, p = X.shape
    nsim = nsim or adaptive_nsim(n, p)
    salt = str(seed).encode()
    hashes = np.array(
        [zlib.crc32(X[i].tobytes() + salt) for i in range(n)], dtype=np.int64
    )
    bg = X[np.argsort(hashes, kind="stable")[:max_background]]

    def phi_rows(rows: list[int]) -> np.ndarray:
        return _shap_rows_phi(predict, X, bg, nsim, seed, rows)

    try:
        with ForkPool(phi_rows) as pool:
            k = min(pool.workers, n)
            chunks = [list(range(w, n, k)) for w in range(k)]
            parts = pool.map(chunks)
    except (ImportError, OSError):  # no fork, or the pool failed
        chunks = [list(range(n))]
        parts = [phi_rows(chunks[0])]
    phi = np.empty((n, p))
    for chunk, part in zip(chunks, parts):
        phi[chunk] = part
    return phi
