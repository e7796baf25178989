"""Model metric sets with yardstick-parity formulas, as Spark aggregations.

The reference evaluates every model (and the null baseline) with fixed metric
sets (reference lib/diet_ml_funcs.R:960-970): classification
``bal_accuracy, roc_auc, accuracy, kap, f_meas``; regression
``mae, rmse, rsq, ccc``. Spark's evaluators cover accuracy/rmse/mae/auc but
not kappa, concordance correlation, balanced accuracy, or macro F — those are
small closed-form functions of the confusion matrix / second moments, so they
are computed here from ONE groupBy (classification) or ONE agg (regression);
no per-row Python, no driver data movement beyond class-count-sized frames.

Formula parity notes (yardstick):
- bal_accuracy: mean over classes of (recall_c + specificity_c) / 2
  (binary == (sens + spec) / 2).
- kap: (p_o - p_e) / (1 - p_e), p_e from row x column marginals.
- f_meas: yardstick's binary default (event_level="first") is the EVENT-class
  F1 of the first level — not macro — so 2-class matrices return the first
  class's F1; macro averaging applies only for 3+ classes.
- roc_auc: exact Mann-Whitney with midranks for ties. Computed with a
  two-level ranked aggregation (quantile-bucketed row_number + bucket
  offsets) — equal probs always land in the same bucket because bucketing is
  a pure function of the value, so midranks are exact AND there is no
  single-task global sort (every Window here has a partitionBy).
- rsq: squared Pearson correlation of (truth, estimate).
- ccc (bias = FALSE, the yardstick default): 2*cov_samp /
  (var_samp_t + var_samp_e + (mean_t - mean_e)^2).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from taxahfe_spark.session import local_frame


def confusion_matrix(
    pred: DataFrame, truth_col: str = "truth", estimate_col: str = "estimate"
) -> tuple[np.ndarray, list[str]]:
    """(K x K count matrix, sorted class labels) from one groupBy job.

    Classes = union of truth and estimate values, so the matrix is square
    even when a model never predicts some class.
    """
    rows = (
        pred.groupBy(truth_col, estimate_col).count().collect()
    )  # <= K^2 rows — class-count-sized, never data-sized
    classes = sorted(
        {str(r[truth_col]) for r in rows} | {str(r[estimate_col]) for r in rows}
    )
    idx = {c: i for i, c in enumerate(classes)}
    m = np.zeros((len(classes), len(classes)))
    for r in rows:
        m[idx[str(r[truth_col])], idx[str(r[estimate_col])]] += r["count"]
    return m, classes


def classification_metrics_from_cm(m: np.ndarray) -> dict[str, float]:
    """accuracy / bal_accuracy / kap / f_meas from a confusion matrix
    (rows = truth, cols = estimate)."""
    n = m.sum()
    if n == 0:
        return {k: float("nan") for k in ("accuracy", "bal_accuracy", "kap", "f_meas")}
    diag = np.diag(m)
    row = m.sum(axis=1)  # truth marginals
    col = m.sum(axis=0)  # estimate marginals
    accuracy = diag.sum() / n
    with np.errstate(divide="ignore", invalid="ignore"):
        recall = np.where(row > 0, diag / row, np.nan)
        # specificity_c = TN / (TN + FP)
        tn = n - row - col + diag
        fp = col - diag
        spec = np.where((tn + fp) > 0, tn / (tn + fp), np.nan)
        precision = np.where(col > 0, diag / col, np.nan)
        f1 = np.where(
            (precision + recall) > 0, 2 * precision * recall / (precision + recall), 0.0
        )
    bal_accuracy = float(np.nanmean((recall + spec) / 2))
    p_e = float((row * col).sum() / (n * n))
    kap = float((accuracy - p_e) / (1 - p_e)) if p_e < 1 else 0.0
    # binary: event-class (first level) F1, yardstick event_level="first";
    # macro average only for 3+ classes
    f_meas = float(f1[0]) if len(f1) == 2 else float(np.nanmean(f1))
    return {
        "accuracy": float(accuracy),
        "bal_accuracy": bal_accuracy,
        "kap": kap,
        "f_meas": f_meas,
    }


def classification_metrics(
    pred: DataFrame,
    truth_col: str = "truth",
    estimate_col: str = "estimate",
    prob_col: str | None = None,
    event_class: str | None = None,
    probs_col: str | None = None,
    class_levels: list[str] | None = None,
) -> dict[str, float]:
    """Reference classification metric set. ``prob_col`` (P(event)) enables
    roc_auc for binary problems; ``probs_col`` (array<double> of per-class
    probabilities, index-aligned with ``class_levels``) enables multiclass
    roc_auc via the Hand-Till estimator — yardstick's ``roc_auc`` default
    for 3+ classes (reference lib/diet_ml_funcs.R:963)."""
    m, classes = confusion_matrix(pred, truth_col, estimate_col)
    out = classification_metrics_from_cm(m)
    out["roc_auc"] = float("nan")
    if prob_col is not None and len(classes) == 2:
        event = event_class or classes[0]
        out["roc_auc"] = binary_auc(pred, truth_col, prob_col, event)
    elif probs_col is not None and class_levels and len(class_levels) > 2:
        out["roc_auc"] = hand_till_auc(pred, truth_col, probs_col, class_levels)
    return out


def hand_till_auc(
    pred: DataFrame,
    truth_col: str,
    probs_col: str,
    class_levels: list[str],
    n_buckets: int = 32,
) -> float:
    """Multiclass AUC, Hand & Till (2001) ``M`` — yardstick's
    ``roc_auc(estimator = "hand_till")`` multiclass default:

        M = 2 / (K(K-1)) * sum_{i<j} (A(i|j) + A(j|i)) / 2

    where A(i|j) is the Mann-Whitney (midrank-tied, matching R ``rank()``
    average ties) AUC of the class-i probability column restricted to rows
    whose truth is class i or class j, with class i as the event. Levels
    with zero truth observations are dropped before pairing (yardstick
    drops them with a warning); K is the retained level count.

    ``probs_col`` is an array<double> index-aligned with ``class_levels``
    (the label-indexer order).

    ONE distributed pass, not K(K-1)/2 ``binary_auc`` jobs: explode to a
    long frame (event column c, prob p, truth t), bucket p by pooled
    approxQuantile edges (bucket is a pure function of p, so tied probs
    never straddle buckets), then for every row compute — per candidate
    negative class j — the Mann-Whitney pair count it contributes,
    ``offset(c,b,j) + range_cumsum_j − 0.5·tie_count_j``, via two shared
    window specs partitioned by (c, bucket). A final groupBy(c, truth)
    yields every U(i|j) simultaneously:  A(i|j) = U(i|j)/(n_i·n_j).
    Job count is O(1) in K (quantiles + per-bucket totals + one agg);
    driver state is (K·n_buckets·K) counts — class-count-sized.
    """
    from functools import reduce

    from pyspark.sql import Window

    counts = {
        str(r[truth_col]): r["count"]
        for r in pred.groupBy(truth_col).count().collect()
    }
    present = [c for c in class_levels if counts.get(str(c), 0) > 0]
    if len(present) < 2:
        return float("nan")
    idx = {c: i for i, c in enumerate(class_levels)}
    pidx = [idx[c] for c in present]  # event columns we actually need
    n_of = {c: counts[str(c)] for c in present}

    # long frame: one row per (input row, present event class c)
    long = (
        pred.filter(F.col(truth_col).isin(list(present)))
        .select(
            F.col(truth_col).cast("string").alias("__t"),
            F.posexplode(F.col(probs_col)).alias("__c", "__p"),
        )
        .filter(F.col("__c").isin(pidx))
        .withColumn("__p", F.col("__p").cast("double"))
    )

    qs = [i / n_buckets for i in range(1, n_buckets)]
    edges = sorted(set(long.approxQuantile("__p", qs, 0.001)))
    bucket = reduce(
        lambda acc, e: acc + (F.col("__p") > F.lit(float(e))).cast("int"),
        edges,
        F.lit(0),
    )
    bk = long.withColumn("__b", bucket)

    # per-(c, bucket, class) totals -> per-class cumulative offsets below
    # each bucket; small (K * n_buckets * K) driver frame, broadcast back
    tot = bk.groupBy("__c", "__b", "__t").count().collect()
    per_cb: dict[tuple[int, int], dict[str, int]] = {}
    for r in tot:
        per_cb.setdefault((r["__c"], r["__b"]), {})[r["__t"]] = r["count"]
    off_rows = []
    for c in pidx:
        acc = {t: 0 for t in present}
        for b in sorted(b for (cc, b) in per_cb if cc == c):
            off_rows.append(
                {"__c": c, "__b": b, **{f"__off_{idx[t]}": float(acc[t]) for t in present}}
            )
            for t, n in per_cb[(c, b)].items():
                acc[t] += n
    off_df = local_frame(pred.sparkSession, pd.DataFrame(off_rows), None)

    w_cum = Window.partitionBy("__c", "__b").orderBy("__p")  # RANGE ..current
    w_tie = Window.partitionBy("__c", "__b", "__p")
    inds = {c: (F.col("__t") == c).cast("double") for c in present}
    with_counts = bk.join(F.broadcast(off_df), ["__c", "__b"]).select(
        "__c",
        "__t",
        *[
            (
                F.col(f"__off_{idx[c]}")
                + F.sum(inds[c]).over(w_cum)
                - 0.5 * F.sum(inds[c]).over(w_tie)
            ).alias(f"__u_{idx[c]}")
            for c in present
        ],
    )
    s_rows = (
        with_counts.groupBy("__c", "__t")
        .agg(*[F.sum(f"__u_{idx[c]}").alias(f"__u_{idx[c]}") for c in present])
        .collect()
    )
    # S[c][a][j] = sum over class-a rows of pairs won vs class j on column c
    S = {(r["__c"], r["__t"]): r for r in s_rows}

    total, npairs = 0.0, 0
    for a_pos in range(len(present)):
        for b_pos in range(a_pos + 1, len(present)):
            ci, cj = present[a_pos], present[b_pos]
            a_ij = S[(idx[ci], ci)][f"__u_{idx[cj]}"] / (n_of[ci] * n_of[cj])
            a_ji = S[(idx[cj], cj)][f"__u_{idx[ci]}"] / (n_of[ci] * n_of[cj])
            total += (a_ij + a_ji) / 2
            npairs += 1
    return float(total / npairs)


def midrank_frame(
    pred: DataFrame, truth_col: str, prob_col: str, event: str, n_buckets: int = 32
) -> DataFrame:
    """(__pos, __p, __mid) — global Mann-Whitney midranks WITHOUT any
    unpartitioned window.

    Probs are bucketed by approxQuantile edges (bucketing is a pure function
    of the value, so tied probs can never straddle buckets), row_number is
    assigned within each bucket, the midrank within a (bucket, prob) tie
    group is the average row_number, and the global rank adds the bucket's
    cumulative offset (a <= n_buckets-row driver list). Exposed separately
    from binary_auc so tools/explain_audit.py can assert the no-single-task
    plan shape mechanically.
    """
    from functools import reduce

    from pyspark.sql import Window

    base = pred.select(
        (F.col(truth_col) == event).cast("long").alias("__pos"),
        F.col(prob_col).cast("double").alias("__p"),
    )
    qs = [i / n_buckets for i in range(1, n_buckets)]
    edges = sorted(set(base.approxQuantile("__p", qs, 0.001)))
    bucket = reduce(
        lambda acc, e: acc + (F.col("__p") > F.lit(float(e))).cast("int"),
        edges,
        F.lit(0),
    )
    bk = base.withColumn("__b", bucket)
    cnts = {r["__b"]: r["count"] for r in bk.groupBy("__b").count().collect()}
    offsets, acc = {}, 0
    for b in sorted(cnts):
        offsets[b] = acc
        acc += cnts[b]
    off_expr = reduce(
        lambda e, b: e.when(F.col("__b") == b, float(offsets[b])),
        sorted(offsets),
        F.when(F.lit(False), 0.0),
    ).otherwise(0.0)
    w_rn = Window.partitionBy("__b").orderBy("__p")
    w_tie = Window.partitionBy("__b", "__p")
    return bk.withColumn("__rn", F.row_number().over(w_rn)).withColumn(
        "__mid", F.avg("__rn").over(w_tie) + off_expr
    )


def binary_auc(
    pred: DataFrame, truth_col: str, prob_col: str, event: str, n_buckets: int = 32
) -> float:
    """Exact Mann-Whitney AUC with correct midranks for tied probabilities:
    AUC = (sum of positive midranks - npos*(npos+1)/2) / (npos * nneg),
    midranks from the bucketed two-level ranking in ``midrank_frame``."""
    ranked = midrank_frame(pred, truth_col, prob_col, event, n_buckets)
    agg = ranked.agg(
        F.sum(F.when(F.col("__pos") == 1, F.col("__mid"))).alias("rpos"),
        F.sum("__pos").alias("npos"),
        F.count(F.lit(1)).alias("n"),
    ).first()
    npos, n = agg["npos"], agg["n"]
    nneg = n - (npos or 0)
    if not npos or not nneg:
        return float("nan")
    return float((agg["rpos"] - npos * (npos + 1) / 2) / (npos * nneg))


def regression_metrics(
    pred: DataFrame, truth_col: str = "truth", estimate_col: str = "estimate"
) -> dict[str, float]:
    """Reference regression metric set (mae, rmse, rsq, ccc) in ONE agg."""
    t, e = F.col(truth_col).cast("double"), F.col(estimate_col).cast("double")
    # r derived from the moments rather than F.corr: under ANSI mode corr
    # raises DIVIDE_BY_ZERO on constant columns (e.g. the null model's
    # constant estimate), where NaN is the correct metric value
    r = pred.agg(
        F.avg(F.abs(t - e)).alias("mae"),
        F.sqrt(F.avg(F.pow(t - e, 2))).alias("rmse"),
        F.covar_samp(t, e).alias("cov"),
        F.var_samp(t).alias("vt"),
        F.var_samp(e).alias("ve"),
        F.avg(t).alias("mt"),
        F.avg(e).alias("me"),
    ).first()
    vprod = (r["vt"] or 0.0) * (r["ve"] or 0.0)
    rsq = float((r["cov"] ** 2) / vprod) if vprod > 0 else float("nan")
    denom = (r["vt"] or 0.0) + (r["ve"] or 0.0) + (r["mt"] - r["me"]) ** 2
    ccc = float(2 * (r["cov"] or 0.0) / denom) if denom else float("nan")
    return {
        "mae": float(r["mae"]),
        "rmse": float(r["rmse"]),
        "rsq": rsq,
        "ccc": ccc,
    }


# -- driver-local numpy twins (dietML small-n fast path) ----------------------
#
# Identical formulas to the Spark aggregations above, evaluated on numpy
# arrays. Used by run_dietml's sub-threshold CV fits, where a few-hundred-row
# validation fold pays more in Spark job scheduling than in arithmetic; the
# classification path REUSES classification_metrics_from_cm so the confusion
# -matrix math literally cannot drift between the two engines.


def _np_midrank_auc(scores: np.ndarray, is_pos: np.ndarray) -> float:
    """Mann-Whitney midrank AUC — same formula as binary_auc."""
    import pandas as pd

    npos = int(is_pos.sum())
    nneg = len(is_pos) - npos
    if not npos or not nneg:
        return float("nan")
    ranks = pd.Series(scores).rank(method="average").to_numpy()
    return float((ranks[is_pos].sum() - npos * (npos + 1) / 2) / (npos * nneg))


def classification_metrics_np(
    truth: np.ndarray,
    estimate: np.ndarray,
    probs: np.ndarray | None = None,
    class_levels: list[str] | None = None,
    event_class: str | None = None,
) -> dict[str, float]:
    """Local twin of classification_metrics. ``probs``: (n, K) array aligned
    with class_levels; binary roc_auc uses the event (first-level) column,
    3+ classes use Hand-Till with absent levels dropped."""
    truth = np.asarray([str(t) for t in truth])
    estimate = np.asarray([str(e) for e in estimate])
    classes = sorted(set(truth) | set(estimate))
    idx = {c: i for i, c in enumerate(classes)}
    m = np.zeros((len(classes), len(classes)))
    for t, e in zip(truth, estimate):
        m[idx[t], idx[e]] += 1
    out = classification_metrics_from_cm(m)
    out["roc_auc"] = float("nan")
    if probs is not None and class_levels:
        if len(class_levels) == 2:
            event = event_class or class_levels[0]
            col = class_levels.index(event)
            out["roc_auc"] = _np_midrank_auc(probs[:, col], truth == event)
        elif len(class_levels) > 2:
            present = [c for c in class_levels if (truth == c).any()]
            if len(present) >= 2:
                total, npairs = 0.0, 0
                for a in range(len(present)):
                    for b in range(a + 1, len(present)):
                        ci, cj = present[a], present[b]
                        mask = (truth == ci) | (truth == cj)
                        i, j = class_levels.index(ci), class_levels.index(cj)
                        a_ij = _np_midrank_auc(probs[mask, i], truth[mask] == ci)
                        a_ji = _np_midrank_auc(probs[mask, j], truth[mask] == cj)
                        total += (a_ij + a_ji) / 2
                        npairs += 1
                out["roc_auc"] = float(total / npairs)
    return out


def regression_metrics_np(truth: np.ndarray, estimate: np.ndarray) -> dict[str, float]:
    """Local twin of regression_metrics (same moment formulas, sample ddof)."""
    t = np.asarray(truth, dtype=np.float64)
    e = np.asarray(estimate, dtype=np.float64)
    n = len(t)
    mae = float(np.abs(t - e).mean())
    rmse = float(np.sqrt(((t - e) ** 2).mean()))
    mt, me = float(t.mean()), float(e.mean())
    if n > 1:
        vt = float(((t - mt) ** 2).sum() / (n - 1))
        ve = float(((e - me) ** 2).sum() / (n - 1))
        cov = float(((t - mt) * (e - me)).sum() / (n - 1))
    else:
        vt = ve = cov = 0.0
    vprod = vt * ve
    rsq = float(cov**2 / vprod) if vprod > 0 else float("nan")
    denom = vt + ve + (mt - me) ** 2
    ccc = float(2 * cov / denom) if denom else float("nan")
    return {"mae": mae, "rmse": rmse, "rsq": rsq, "ccc": ccc}
