"""Model metric sets with yardstick-parity formulas, on numpy arrays.

The reference evaluates every model (and the null baseline) with fixed metric
sets (reference lib/diet_ml_funcs.R:960-970): classification
``bal_accuracy, roc_auc, accuracy, kap, f_meas``; regression
``mae, rmse, rsq, ccc``. dietML brings every fit's predictions to the driver
once (a validation fold, or the final train and test rows it also writes to
raw_predictions.csv), so the metrics are plain functions of (truth,
estimate, class probabilities or predicted values) arrays. Both fit engines,
the numpy forest/MARS and pyspark.ml, are scored by this one code.

Formula parity notes (yardstick):
- bal_accuracy: mean over classes of (recall_c + specificity_c) / 2
  (binary == (sens + spec) / 2).
- kap: (p_o - p_e) / (1 - p_e), p_e from row x column marginals.
- f_meas: yardstick's binary default (event_level="first") is the EVENT-class
  F1 of the first level — not macro — so 2-class matrices return the first
  class's F1; macro averaging applies only for 3+ classes.
- roc_auc: exact Mann-Whitney with midranks for ties (R ``rank()`` average
  ties); 3+ classes use Hand & Till's (2001) M, yardstick's multiclass
  default.
- rsq: squared Pearson correlation of (truth, estimate).
- ccc (bias = FALSE, the yardstick default): 2*cov_samp /
  (var_samp_t + var_samp_e + (mean_t - mean_e)^2).
"""

from __future__ import annotations

import numpy as np
import pandas as pd


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


def midrank_auc(scores: np.ndarray, is_pos: np.ndarray) -> float:
    """Exact Mann-Whitney AUC with midranks for tied scores:
    (sum of positive midranks - npos*(npos+1)/2) / (npos * nneg)."""
    npos = int(is_pos.sum())
    nneg = len(is_pos) - npos
    if not npos or not nneg:
        return float("nan")
    ranks = pd.Series(scores).rank(method="average").to_numpy()
    return float((ranks[is_pos].sum() - npos * (npos + 1) / 2) / (npos * nneg))


def classification_metrics(
    truth: np.ndarray,
    estimate: np.ndarray,
    probs: np.ndarray | None = None,
    class_levels: list[str] | None = None,
    event_class: str | None = None,
) -> dict[str, float]:
    """Reference classification metric set. ``probs``: (n, K) array aligned
    with ``class_levels``; binary roc_auc uses the event (first-level)
    column, 3+ classes use Hand-Till. Without ``probs`` roc_auc is NaN.

    Hand & Till's M = 2 / (K(K-1)) * sum_{i<j} (A(i|j) + A(j|i)) / 2, where
    A(i|j) is the midrank AUC of the class-i column over the rows whose truth
    is i or j, with i as the event. Levels with no truth observation are
    dropped before pairing (yardstick drops them with a warning); K is the
    retained level count."""
    truth = np.asarray(truth).astype(str)
    estimate = np.asarray(estimate).astype(str)
    classes = np.unique(np.concatenate([truth, estimate]))
    m = np.zeros((len(classes), len(classes)))
    np.add.at(m, (np.searchsorted(classes, truth), np.searchsorted(classes, estimate)), 1)
    out = classification_metrics_from_cm(m)
    out["roc_auc"] = float("nan")
    if probs is not None and class_levels:
        if len(class_levels) == 2:
            event = event_class or class_levels[0]
            col = class_levels.index(event)
            out["roc_auc"] = midrank_auc(probs[:, col], truth == event)
        elif len(class_levels) > 2:
            present = [c for c in class_levels if (truth == c).any()]
            if len(present) >= 2:
                total, npairs = 0.0, 0
                for a in range(len(present)):
                    for b in range(a + 1, len(present)):
                        ci, cj = present[a], present[b]
                        mask = (truth == ci) | (truth == cj)
                        i, j = class_levels.index(ci), class_levels.index(cj)
                        a_ij = midrank_auc(probs[mask, i], truth[mask] == ci)
                        a_ji = midrank_auc(probs[mask, j], truth[mask] == cj)
                        total += (a_ij + a_ji) / 2
                        npairs += 1
                out["roc_auc"] = float(total / npairs)
    return out


def regression_metrics(truth: np.ndarray, estimate: np.ndarray) -> dict[str, float]:
    """Reference regression metric set (mae, rmse, rsq, ccc); sample
    (ddof 1) moments, NaN where a variance product or denominator is 0."""
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
