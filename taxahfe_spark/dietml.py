"""dietML: the reference's ML surface (model registry, split/CV/recipe,
collinearity reduction, grid tuning with pct-loss selection, null-model
baseline, metric sets) on pyspark.ml.

Reference mapping (SURVEY.md §2.11):
- M1  model registry rf/enet/lasso/ridge/xgboost/svm  <- lib/diet_ml_funcs.R:16-111
      (registry at 91-99; "xgboost" realized as Spark GBT, "svm" as LinearSVC
      — linear kernel, classification-only; "mars" runs the numpy bagged
      MARS engine, functions/mars.py, under the small-n local fast path)
- M2/M3 stratified 0.8 split / split object           <- cmd/taxa_hfe_ml.R:52-54,
      lib/diet_ml_funcs.R:664-674 (hash-ranked, layout-invariant)
- M4  stratified repeated k-fold CV                   <- lib/diet_ml_funcs.R:676-684
- M5  recipe: novel->dummy->zv->(center/scale)->corr  <- lib/diet_ml_funcs.R:686-711
- M6  VIF + pairwise-corr collinearity filter         <- lib/diet_ml_funcs.R:1029-1163
- M7  HP tuning: tune_strategy "grid" (deterministic grid + early stop),
      "halving" (successive halving), or "bayes" — a true tune_bayes
      analog (GP surrogate + EI, functions/bayes.py)  <- lib/diet_ml_funcs.R:722-958
- M8  select_by_pct_loss with per-model simplicity    <- lib/diet_ml_funcs.R:818-834
- M9  null model (majority class / mean)              <- lib/diet_ml_funcs.R:342-419
- M10 last_fit + metric sets incl kap/ccc/bal_acc     <- lib/diet_ml_funcs.R:960-1027
      (every fit's predictions reach the driver once as arrays; one numpy
      scorer, functions/metrics.py, serves both fit engines)
- M12 summarized-levels mode                          <- lib/methods.R:144-181
- M13 result registry                                 <- lib/tree.R:1011-1028
- S8  ml_results.csv-style append sink                <- lib/diet_ml_funcs.R:987-1013

Scale notes: above ``LOCAL_FIT_MAX_ROWS`` train rows (and for every model
but rf and mars) each fit is a distributed pyspark.ml estimator over the
row dimension; at or below it the small-n fast path collects the prepped CV
frame to the driver once and fits numpy engines there. Either way the
predictions are sample-count-sized and reach the driver: each validation
fold's once for scoring, and the final train and test predictions once, for
the metrics and for raw_predictions.csv (the reference writes every row).
The split, folds, recipe statistics and correlation matrices stay Spark
aggregates. Randomness is rooted in one seed and derived per (fold, repeat,
candidate), so results are partition-layout-invariant.
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from taxahfe_spark.functions.metrics import (
    classification_metrics,
    regression_metrics,
)

# Train-row ceiling of the small-n fast path: at or below it, rf and mars run
# their CV and final fits on the driver (functions/rf.py's 64-bin histogram
# forest, functions/mars.py) over one collected copy of the prepped CV frame.
# Deliberately not routed through session.driver_side: the local forest is a
# different model from pyspark.ml's, so TAXAHFE_DISTRIBUTED=1 would change
# the results, not only the execution path.
LOCAL_FIT_MAX_ROWS = 20_000
MARS_BAGS = 11  # bags per bagged-MARS fit, baguette's bag_mars default

MAXIMIZE = {"roc_auc", "bal_accuracy", "accuracy", "kap", "f_meas", "rsq", "ccc"}


def _hash_rank_col(id_col: str, seed: int, hash_fn: str) -> F.Column:
    """Deterministic, engine-portable ranking key for splits/folds.

    "xxhash64" is fastest; "md5" is reproducible in DuckDB (used by the
    oracle-checked split query).
    """
    if hash_fn == "md5":
        return F.md5(F.concat_ws(":", F.col(id_col).cast("string"), F.lit(str(seed))))
    return F.xxhash64(F.col(id_col).cast("string"), F.lit(seed)).cast("string")


def _quantile_bucket_expr(
    df: DataFrame, col: str, breaks: int = 4, rel_err: float = 0.001
) -> F.Column:
    """Quantile-bin a numeric column WITHOUT a global unpartitioned window.

    approxQuantile edges -> a chain of (col > edge) sums. This is both the
    scale-safe form (an unpartitioned ntile() funnels every row through ONE
    task) and the more faithful one: rsample/recipes bin strata by quantile
    CUT POINTS (equal values share a bin), not by equal-count ntile.
    """
    from functools import reduce

    qs = [i / breaks for i in range(1, breaks)]
    edges = sorted(set(df.approxQuantile(col, qs, rel_err)))
    c = F.col(col).cast("double")
    return reduce(
        lambda acc, e: acc + (c > F.lit(float(e))).cast("int"), edges, F.lit(0)
    )


def _strata_col(df: DataFrame, label_col: str, feature_type: str, breaks: int = 4) -> F.Column:
    """Stratification key: the label itself for factors; quantile bins for
    numeric responses (rsample::initial_split(strata=...) default breaks=4)."""
    if feature_type == "factor":
        return F.col(label_col).cast("string")
    return _quantile_bucket_expr(df, label_col, breaks).cast("string")


def stratified_split(
    df: DataFrame,
    label_col: str = "feature_of_interest",
    id_col: str = "subject_id",
    train_frac: float = 0.8,
    seed: int = 42,
    feature_type: str = "factor",
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Adds ``is_train``: within each stratum, ids ranked by a seeded hash;
    first ceil(train_frac * n) go to train (reference rsample initial_split,
    cmd/taxa_hfe_ml.R:52-54). A pure function of (id, seed) — stable across
    cluster sizes and reruns."""
    strata = _strata_col(df, label_col, feature_type)
    d = df.withColumn("__stratum", strata)
    w = Window.partitionBy("__stratum").orderBy(
        _hash_rank_col(id_col, seed, hash_fn).asc(), F.col(id_col).asc()
    )
    wn = Window.partitionBy("__stratum")
    return d.withColumn(
        "is_train",
        F.row_number().over(w) <= F.ceil(F.count(F.lit(1)).over(wn) * train_frac),
    ).drop("__stratum")


def fold_assignments(
    train: DataFrame,
    label_col: str = "feature_of_interest",
    id_col: str = "subject_id",
    folds: int = 10,
    repeats: int = 3,
    seed: int = 42,
    feature_type: str = "factor",
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Stratified repeated k-fold ids (reference vfold_cv, lib/diet_ml_funcs
    .R:676-684): one row per (id, repeat) with a fold in [0, folds); within
    each stratum the hash ranking deals ids round-robin so folds are
    balanced per class."""
    strata = _strata_col(train, label_col, feature_type)
    d = train.select(id_col, strata.alias("__stratum"))
    out = None
    for r in range(repeats):
        w = Window.partitionBy("__stratum").orderBy(
            _hash_rank_col(id_col, seed + 7919 * (r + 1), hash_fn).asc(),
            F.col(id_col).asc(),
        )
        one = d.select(
            id_col,
            F.lit(r).alias("repeat"),
            ((F.row_number().over(w) - 1) % folds).alias("fold"),
        )
        out = one if out is None else out.unionByName(one)
    return out


# -- recipe (M5) --------------------------------------------------------------


@dataclass
class Recipe:
    """Fitted preprocessing state: everything estimated on TRAIN only
    (the leakage contract, reference lib/diet_ml_funcs.R:686-711)."""

    numeric_cols: list[str]
    nominal_levels: dict[str, list[str]]  # col -> train categories
    keep_cols: list[str]  # post-zv / post-corr feature columns
    center: dict[str, float] = field(default_factory=dict)
    scale: dict[str, float] = field(default_factory=dict)
    dropped_zv: list[str] = field(default_factory=list)
    dropped_corr: list[str] = field(default_factory=list)

    def transform(self, df: DataFrame) -> DataFrame:
        cols = []
        for c, levels in self.nominal_levels.items():
            for lv in levels:
                name = f"{c}_{lv}"
                if name in self.keep_cols:
                    cols.append(
                        (F.col(c).cast("string") == lv).cast("double").alias(name)
                    )
        for c in self.numeric_cols:
            if c in self.keep_cols:
                e = F.col(c).cast("double")
                if c in self.center:
                    e = (e - self.center[c]) / (self.scale.get(c) or 1.0)
                cols.append(e.alias(c))
        others = [c for c in df.columns if c not in self.nominal_levels and c not in self.numeric_cols]
        return df.select(*others, *cols)


def fit_recipe(
    train: DataFrame,
    feature_cols: list[str],
    standardize: bool,
    cor_level: float = 1.0,
    info_gain_n: int = 0,
    label_col: str | None = None,
    feature_type: str = "factor",
    corr: pd.DataFrame | None = None,
) -> Recipe:
    """step_novel -> step_dummy -> step_zv -> (center+scale) -> step_corr
    -> (step_select_infgain when info_gain_n > 0).

    One-hot categories come from train; unseen test levels encode to
    all-zeros (the effect of step_novel's synthetic level, which is all-zero
    in train). Zero-variance and correlation decisions use train statistics
    only. The cost does not grow with p in jobs: one distinct collect per
    nominal column, one aggregate for every variance and mean, and for
    step_corr the Pearson matrix (:func:`_corr_matrix`). ``corr`` is a
    Pearson matrix of the same train rows labelled by column (the one
    :func:`reduce_collinearity` returns); when it covers every
    post-zero-variance column, step_corr reads its submatrix and runs no
    job. Otherwise (one-hot dummies, or no matrix given) it computes one.
    """
    dtypes = dict(train.dtypes)
    nominal = [c for c in feature_cols if dtypes[c] == "string"]
    numeric = [c for c in feature_cols if c not in nominal]
    levels = {
        c: sorted(
            str(r[c])
            for r in train.select(c).distinct().collect()
            if r[c] is not None
        )
        for c in nominal
    }
    # expand dummies then compute variance/mean for every candidate column
    exprs = []
    names: list[str] = []
    for c, lvs in levels.items():
        for lv in lvs:
            names.append(f"{c}_{lv}")
            exprs.append((F.col(c).cast("string") == lv).cast("double").alias(names[-1]))
    for c in numeric:
        names.append(c)
        exprs.append(F.col(c).cast("double").alias(c))
    expanded = train.select(*exprs)
    stats = expanded.agg(
        *[F.var_samp(c).alias(f"v_{i}") for i, c in enumerate(names)],
        *[F.avg(c).alias(f"m_{i}") for i, c in enumerate(names)],
    ).first()
    variances = {c: (stats[f"v_{i}"] or 0.0) for i, c in enumerate(names)}
    means = {c: stats[f"m_{i}"] for i, c in enumerate(names)}
    keep = [c for c in names if variances[c] > 0.0]
    dropped_zv = [c for c in names if c not in keep]

    dropped_corr: list[str] = []
    if cor_level < 1.0 and len(keep) > 1:
        if corr is not None and set(keep) <= set(corr.index):
            m = corr.loc[keep, keep].to_numpy()
        else:
            m = _corr_matrix(expanded.select(*keep), keep)
        dropped_corr = _find_correlated(m, keep, cor_level)
        keep = [c for c in keep if c not in dropped_corr]

    if info_gain_n > 0 and label_col is not None and len(keep) > info_gain_n:
        # step_select_infgain (reference lib/diet_ml_funcs.R:706-710): keep
        # the top-n predictors by univariate information gain vs the label
        # (quartile-binned MI for both response types — one groupBy pass per
        # evaluation over class-count-sized frames)
        keep_set = set(keep)
        keep_exprs = [e for n, e in zip(names, exprs) if n in keep_set]
        scores = _info_gain_scores(
            train, keep_exprs, keep, label_col, feature_type
        )
        ranked = sorted(keep, key=lambda c: (-scores.get(c, 0.0), c))
        keep = [c for c in keep if c in set(ranked[:info_gain_n])]

    center, scale = {}, {}
    if standardize:
        for c in numeric:
            if c in keep:
                center[c] = float(means[c])
                scale[c] = float(np.sqrt(variances[c]))
    return Recipe(
        numeric_cols=numeric,
        nominal_levels=levels,
        keep_cols=keep,
        center=center,
        scale=scale,
        dropped_zv=dropped_zv,
        dropped_corr=dropped_corr,
    )


def _info_gain_scores(
    train: DataFrame,
    col_exprs: list,
    cols: list[str],
    label_col: str,
    feature_type: str,
) -> dict[str, float]:
    """Univariate information gain (mutual information on quartile-binned
    features; numeric labels quartile-binned too). One approxQuantile pass +
    one unpivoted groupBy; only (feature x bin x class) counts reach the
    driver."""
    lab = (
        F.col(label_col).cast("string")
        if feature_type == "factor"
        else _quantile_bucket_expr(train, label_col, 4).cast("string")
    )
    # one projection carrying features AND label (row alignment by
    # construction, not by id-zipping two plans)
    joined = train.select(lab.alias("__lab"), *col_exprs)
    edges = {
        c: sorted(set(q))
        for c, q in zip(
            cols, joined.approxQuantile(cols, [0.25, 0.5, 0.75], 0.01)
        )
    }

    def bin_expr(c: str) -> F.Column:
        e = F.lit(0)
        for i, edge in enumerate(edges[c]):
            e = F.when(F.col(c) > float(edge), i + 1).otherwise(e)
        return e.cast("string")

    stacked = joined.select(
        "__lab",
        F.explode(
            F.array(*[F.struct(F.lit(c).alias("f"), bin_expr(c).alias("b")) for c in cols])
        ).alias("fb"),
    ).select("__lab", F.col("fb.f").alias("f"), F.col("fb.b").alias("b"))
    counts = stacked.groupBy("f", "b", "__lab").count().collect()
    import collections

    by_f: dict[str, dict[tuple[str, str], int]] = collections.defaultdict(dict)
    for r in counts:
        by_f[r["f"]][(r["b"], r["__lab"])] = r["count"]
    scores: dict[str, float] = {}
    for c, joint in by_f.items():
        n = sum(joint.values())
        pb: dict[str, float] = collections.defaultdict(float)
        pl: dict[str, float] = collections.defaultdict(float)
        for (b, lb), cnt in joint.items():
            pb[b] += cnt / n
            pl[lb] += cnt / n
        mi = 0.0
        for (b, lb), cnt in joint.items():
            pxy = cnt / n
            mi += pxy * np.log(pxy / (pb[b] * pl[lb]))
        scores[c] = float(mi)
    return scores


def _corr_matrix(df: DataFrame, cols: list[str]) -> np.ndarray:
    """p x p Pearson matrix via pyspark.ml.stat.Correlation (4-5 Spark
    jobs, each a pass over ``df``; the matrix is feature-count-sized, the
    only thing that reaches the driver)."""
    from pyspark.ml.feature import VectorAssembler
    from pyspark.ml.stat import Correlation

    vec = VectorAssembler(inputCols=cols, outputCol="__v", handleInvalid="keep")
    m = Correlation.corr(vec.transform(df).select("__v"), "__v").first()[0]
    return m.toArray()


def _find_correlated(corr: np.ndarray, cols: list[str], threshold: float) -> list[str]:
    """caret::findCorrelation-style greedy removal (recipes::step_corr):
    while any |r| > threshold, drop the member of the worst pair with the
    larger mean absolute correlation."""
    a = np.abs(np.nan_to_num(corr.copy()))
    np.fill_diagonal(a, 0.0)
    active = list(range(len(cols)))
    dropped: list[str] = []
    while True:
        sub = a[np.ix_(active, active)]
        if sub.size == 0 or sub.max() <= threshold:
            break
        i, j = np.unravel_index(np.argmax(sub), sub.shape)
        gi, gj = active[i], active[j]
        mean_i, mean_j = a[gi, active].mean(), a[gj, active].mean()
        out = gi if mean_i >= mean_j else gj
        dropped.append(cols[out])
        active.remove(out)
    return dropped


def reduce_collinearity(
    train: DataFrame,
    feature_cols: list[str],
    vif_threshold: float = 0.0,
    cor_level: float = 1.0,
) -> tuple[list[str], pd.DataFrame, pd.DataFrame | None]:
    """M6: pairwise-corr prune then iterative VIF prune on TRAIN numerics
    (reference reduce_collinearity_train, lib/diet_ml_funcs.R:1029-1163).
    VIF_j = diag(inv(R))_j; drop the max until all below threshold.
    Returns (kept columns, audit frame of drops, Pearson matrix of the kept
    numeric columns labelled by name — None when no prune ran); fit_recipe
    reuses the matrix instead of computing it again."""
    audit_rows = []
    dtypes = dict(train.dtypes)
    numeric = [c for c in feature_cols if dtypes[c] != "string"]
    keep = list(numeric)
    if len(keep) > 1 and (cor_level < 1.0 or vif_threshold > 0.0):
        proj = train.select(*[F.col(c).cast("double").alias(c) for c in keep])
        corr = _corr_matrix(proj, keep)
        if cor_level < 1.0:
            for c in _find_correlated(corr, keep, cor_level):
                audit_rows.append({"column": c, "reason": "pairwise_corr"})
            corr_drop = {r["column"] for r in audit_rows}
            idx = [i for i, c in enumerate(keep) if c not in corr_drop]
            corr = corr[np.ix_(idx, idx)]
            keep = [c for c in keep if c not in corr_drop]
        while vif_threshold > 0.0 and len(keep) > 1:
            r = np.nan_to_num(corr, nan=0.0)
            np.fill_diagonal(r, 1.0)
            try:
                vif = np.diag(np.linalg.pinv(r))
            except np.linalg.LinAlgError:
                break
            worst = int(np.argmax(vif))
            if vif[worst] <= vif_threshold:
                break
            audit_rows.append(
                {"column": keep[worst], "reason": f"vif={vif[worst]:.2f}"}
            )
            keep.pop(worst)
            corr = np.delete(np.delete(corr, worst, 0), worst, 1)
        corr = pd.DataFrame(corr, index=keep, columns=keep)
    else:
        corr = None
    kept = keep + [c for c in feature_cols if dtypes[c] == "string"]
    return kept, pd.DataFrame(audit_rows, columns=["column", "reason"]), corr


# -- model registry (M1) ------------------------------------------------------


def _estimator(model: str, feature_type: str, params: dict, seed: int):
    """Build a pyspark.ml estimator for one HP candidate."""
    from pyspark.ml.classification import (
        GBTClassifier,
        LinearSVC,
        LogisticRegression,
        RandomForestClassifier,
    )
    from pyspark.ml.regression import (
        GBTRegressor,
        LinearRegression,
        RandomForestRegressor,
    )

    cls = feature_type == "factor"
    common = dict(featuresCol="features", labelCol="label")
    if model == "rf":
        k = dict(
            numTrees=int(params.get("num_trees", 100)),
            minInstancesPerNode=int(params["min_n"]),
            featureSubsetStrategy=str(params["mtry"]),
            seed=seed,
            **common,
        )
        return RandomForestClassifier(**k) if cls else RandomForestRegressor(**k)
    if model in ("enet", "lasso", "ridge"):
        mixture = {"lasso": 1.0, "ridge": 0.0}.get(model, params.get("mixture", 0.5))
        k = dict(
            regParam=float(params["penalty"]),
            elasticNetParam=float(mixture),
            **common,
        )
        return LogisticRegression(**k) if cls else LinearRegression(**k)
    if model == "xgboost":
        k = dict(
            maxDepth=int(params["tree_depth"]),
            maxIter=int(params["trees"]),
            stepSize=float(params.get("learn_rate", 0.1)),
            seed=seed,
            **common,
        )
        return GBTClassifier(**k) if cls else GBTRegressor(**k)
    if model == "svm":
        if not cls:
            raise NotImplementedError("svm regression is not Spark-native")
        return LinearSVC(regParam=float(params["cost"]), **common)
    raise NotImplementedError(
        f"model '{model}' has no Spark-native analog (reference registry "
        "lib/diet_ml_funcs.R:91-99; 'mars' runs only on the driver-local "
        "small-n fast path, functions/mars.py)"
    )


def _grid(model: str, tune_length: int, seed: int) -> list[dict]:
    """Deterministic HP candidate list, truncated to tune_length after a
    seeded shuffle (the grid analog of tune_bayes' sampled search)."""
    if model == "rf":
        combos = [
            {"min_n": n, "mtry": m}
            for n in (1, 5, 10, 20)
            for m in ("sqrt", "0.33", "0.5")
        ]
    elif model in ("lasso", "ridge"):
        combos = [{"penalty": p} for p in np.logspace(-4, 0.5, 10)]
    elif model == "enet":
        combos = [
            {"penalty": p, "mixture": m}
            for p in np.logspace(-4, 0.5, 6)
            for m in (0.25, 0.5, 0.75)
        ]
    elif model == "xgboost":
        combos = [
            {"tree_depth": d, "trees": t}
            for d in (2, 4, 6)
            for t in (20, 50)
        ]
    elif model == "svm":
        combos = [{"cost": c} for c in np.logspace(-3, 1, 8)]
    elif model == "mars":
        # reference dials: num_terms up to n/25, prod_degree {1, 2},
        # prune_method backward (lib/diet_ml_funcs.R:752-757, 526-528)
        combos = [
            {"num_terms": t, "prod_degree": d}
            for t in (4, 8, 14)
            for d in (1, 2)
        ]
    else:
        raise NotImplementedError(model)
    rng = np.random.default_rng(seed)
    order = rng.permutation(len(combos))
    return [combos[i] for i in order[: max(1, min(tune_length, len(combos)))]]


_SIMPLICITY = {
    # reference select_by_pct_loss orderings (lib/diet_ml_funcs.R:818-834):
    # sort keys listed most-significant first; +key = ascending (prefer small)
    "rf": [("-min_n",), ("mtry",)],
    "enet": [("-penalty",)],
    "lasso": [("-penalty",)],
    "ridge": [("-penalty",)],
    "xgboost": [("tree_depth",), ("trees",)],
    "svm": [("cost",)],
    "mars": [("num_terms",)],  # lib/diet_ml_funcs.R:828: pct_loss by num_terms
}


def select_by_pct_loss(
    results: pd.DataFrame, metric: str, pct_loss: float, model: str
) -> dict:
    """M8: the simplest candidate within pct_loss % of the best CV score.
    results columns: params (dict), mean_metric."""
    maximize = metric in MAXIMIZE
    best = results["mean_metric"].max() if maximize else results["mean_metric"].min()
    if pct_loss <= 0:
        row = results.loc[
            results["mean_metric"].idxmax() if maximize else results["mean_metric"].idxmin()
        ]
        return row["params"]
    bound = best * (1 - pct_loss / 100) if maximize else best * (1 + pct_loss / 100)
    ok = results[
        results["mean_metric"] >= bound if maximize else results["mean_metric"] <= bound
    ].copy()

    def sort_key(params: dict):
        key = []
        for (spec,) in _SIMPLICITY[model]:
            neg = spec.startswith("-")
            name = spec.lstrip("-")
            v = params.get(name, 0)
            if isinstance(v, str):
                # mtry strategies order by feature fraction; "sqrt" (~p^-0.5)
                # sorts smallest, numeric strings ("0.33", bayes' "0.417")
                # by value
                try:
                    v = float(v)
                except ValueError:
                    v = 0.0 if v == "sqrt" else 1.0
            key.append(-float(v) if neg else float(v))
        return tuple(key)

    ok["__key"] = ok["params"].map(sort_key)
    return ok.sort_values("__key").iloc[0]["params"]


# -- fitting helpers ----------------------------------------------------------


def _prep_label(df: DataFrame, label_col: str, feature_type: str, classes: list[str] | None):
    if feature_type == "factor":
        mapping = {c: i for i, c in enumerate(classes)}
        expr = F.lit(None).cast("double")
        for c, i in mapping.items():
            expr = F.when(F.col(label_col).cast("string") == c, float(i)).otherwise(expr)
        return df.withColumn("label", expr)
    return df.withColumn("label", F.col(label_col).cast("double"))


def _assemble(df: DataFrame, cols: list[str]) -> DataFrame:
    from pyspark.ml.feature import VectorAssembler

    return VectorAssembler(
        inputCols=cols, outputCol="features", handleInvalid="keep"
    ).transform(df)


def _from_labels(y: np.ndarray, classes: list[str] | None) -> np.ndarray:
    """Values of an encoded ``label`` (or pyspark.ml ``prediction``) column:
    class names for classification, the numbers themselves for regression."""
    if classes is None:
        return np.asarray(y, dtype=np.float64)
    return np.asarray(classes)[np.asarray(y).astype(np.int64)]


def _local_outputs(
    out: np.ndarray, classes: list[str] | None
) -> tuple[np.ndarray, np.ndarray | None]:
    """(estimate, class probabilities) from a numpy engine's predict output:
    an (n, K) probability matrix (argmax class) or regression values."""
    if classes is None:
        return out, None
    return np.asarray(classes)[out.argmax(axis=1)], out


def _spark_predictions(
    fitted, df: DataFrame, id_col: str, label_col: str, classes: list[str] | None
) -> tuple[np.ndarray, np.ndarray, np.ndarray | None]:
    """(truth, estimate, class probabilities or None) of a fitted pyspark.ml
    model over ``df``, collected through Arrow in one job, in id order."""
    from pyspark.ml.functions import vector_to_array

    pred = fitted.transform(df)
    truth = F.col(label_col) if classes is not None else F.col(label_col).cast("double")
    cols = [id_col, truth.alias("__truth"), "prediction"]
    has_probs = classes is not None and "probability" in pred.columns
    if has_probs:
        cols.append(vector_to_array("probability").alias("__probs"))
    pdf = pred.select(*cols).toPandas().sort_values(id_col, kind="mergesort")
    probs = np.stack(pdf["__probs"].to_numpy()) if has_probs and len(pdf) else None
    return pdf["__truth"].to_numpy(), _from_labels(pdf["prediction"], classes), probs


def _metrics(
    truth: np.ndarray,
    estimate: np.ndarray,
    probs: np.ndarray | None,
    classes: list[str] | None,
) -> dict[str, float]:
    """The reference metric set of one split's predictions: classification
    (first level as the event) when ``classes`` is given, else regression."""
    if classes is None:
        return regression_metrics(truth, estimate)
    return classification_metrics(
        truth, estimate, probs=probs, class_levels=classes, event_class=classes[0]
    )


def _raw_predictions(
    truth: np.ndarray,
    estimate: np.ndarray,
    probs: np.ndarray | None,
    classes: list[str] | None,
    tag: str,
) -> pd.DataFrame:
    """One split's rows of raw_predictions.csv (reference
    lib/diet_ml_funcs.R:991-1013): classification -> one .pred_<class>
    probability column per level (models with probabilities) + .pred_class;
    regression -> .pred."""
    if classes is None:
        raw = pd.DataFrame({"feature_of_interest": truth, ".pred": estimate})
    else:
        raw = pd.DataFrame(
            {f".pred_{c}": probs[:, i] for i, c in enumerate(classes)}
            if probs is not None
            else {}
        )
        raw[".pred_class"] = estimate
        raw["feature_of_interest"] = truth
    raw[".model_input_type"] = tag
    return raw


def null_model_metrics(
    train_truth: np.ndarray, test_truth: np.ndarray, feature_type: str
) -> dict[str, float]:
    """M9: majority-class / mean predictor fit on the train labels, scored on
    the test labels with the reference null-model metric subset
    (lib/diet_ml_funcs.R:351-355: classification bal_accuracy/f_meas/accuracy,
    regression mae/rmse/ccc)."""
    if feature_type == "factor":
        vals, cnts = np.unique(np.asarray(train_truth).astype(str), return_counts=True)
        top = min(vals[cnts == cnts.max()])  # count desc, label asc
        m = classification_metrics(test_truth, np.full(len(test_truth), top))
        return {k: m[k] for k in ("bal_accuracy", "f_meas", "accuracy")}
    mean_v = float(np.mean(np.asarray(train_truth, dtype=np.float64)))
    m = regression_metrics(test_truth, np.full(len(test_truth), mean_v))
    return {k: m[k] for k in ("mae", "rmse", "ccc")}


# -- orchestrator (the reference's run_dietML flow) ---------------------------


@dataclass
class DietMLResult:
    """M13: attribute-tagged result registry (reference store_diet_ml_inputs,
    lib/tree.R:1011-1028)."""

    model: str
    metric: str
    best_params: dict
    cv_results: pd.DataFrame
    full_results: pd.DataFrame  # .metric / estimate / null_model_avg (J7 merge)
    train_metrics: dict[str, float]
    collinearity_audit: pd.DataFrame
    recipe: Recipe
    shap_ranking: pd.DataFrame | None = None  # M11/W3 mean-|SHAP| table
    # S8 artifacts: per-row train+test predictions (raw_predictions.csv) and
    # the null-model metric row (dummy_model_results.csv)
    raw_predictions: pd.DataFrame | None = None
    null_metrics: dict[str, float] = field(default_factory=dict)
    # S9: per-row SHAP matrix + matching inputs (local fast path only) —
    # the basis of the beeswarm SVG (functions/beeswarm.py)
    shap_values: np.ndarray | None = None
    shap_inputs: np.ndarray | None = None


def run_dietml(
    df: DataFrame,
    label_col: str = "feature_of_interest",
    id_col: str = "subject_id",
    feature_type: str = "factor",
    model: str = "rf",
    train_frac: float = 0.8,
    folds: int = 10,
    cv_repeats: int = 3,
    metric: str | None = None,
    tune_length: int = 80,
    tune_stop: int = 10,
    tune_time_min: float = 2.0,
    pct_loss: float = 0.0,
    cor_level: float = 1.0,
    vif_threshold: float = 0.0,
    info_gain_n: int = 0,
    seed: int = 42,
    num_trees: int = 100,
    split_col: str | None = None,
    shap: bool = False,
    shap_top_k: int = 10,
    parallel_workers: int = 1,
    tune_strategy: str = "grid",
    reprep_per_fold: bool = False,
) -> DietMLResult:
    """End-to-end dietML run (reference cmd/diet_ml.R:23-85 ->
    lib/diet_ml_funcs.R:16-111): split -> collinearity -> recipe -> CV grid
    tune -> pct-loss select -> null model -> last_fit -> merged metric table.

    ``split_col``: name of a precomputed boolean train indicator — the
    reference's create_data_split_obj path (lib/diet_ml_funcs.R:664-674),
    used by taxa_hfe_ml so dietML honors the SAME leakage-aware split the
    tree competition saw rather than re-splitting.

    ``parallel_workers``: concurrent (repeat, fold) fits per candidate — the
    Spark analog of the reference's PSOCK resample cluster (--parallel_workers,
    lib/diet_ml_funcs.R:744-748). Fits are submitted from a thread pool
    against the cached CV frame; Spark's scheduler interleaves the jobs.
    Seeds derive from (candidate, repeat) only, so results are IDENTICAL for
    any worker count.

    ``tune_strategy``: "grid" evaluates every candidate on the full
    repeats x folds budget (with tune_stop/tune_time early stopping);
    "halving" is successive halving — all candidates are scored on ONE fold
    first, the top third advance to repeat 0's full folds, and only the
    finalists pay the complete repeats x folds bill. Halving matches the
    reference's tune_bayes fit budget far better than a flat grid at equal
    tune_length (initial sweep + concentrated refinement) and is fully
    deterministic (same per-(candidate, repeat) seeds). Final selection
    always uses full-budget scores only. "bayes" runs the true tune_bayes
    analog (functions/bayes.py): a seeded GP surrogate with expected-
    improvement acquisition over continuous dials (penalty log10(-8, 3),
    mixture (0.1, 0.9), continuous mtry fractions), uncertain picks every
    5 non-improving iterations, initial designs of 5/15/20 per model
    family — all exactly as lib/diet_ml_funcs.R:722-806 configures
    tune_bayes, and deterministic in the seed.

    Leakage contract note: by default the recipe (center/scale, zv, corr,
    info-gain) is estimated ONCE on the full training split and reused in
    every CV fold, whereas tidymodels re-preps per resample
    (lib/diet_ml_funcs.R:686-711). CV scores are therefore slightly
    optimistic in the same way for every candidate; the train/test boundary
    itself is never crossed. This is the documented approximation that keeps
    preprocessing one Spark job instead of folds x repeats jobs.
    ``reprep_per_fold=True`` removes the approximation: every (repeat, fold)
    fit re-estimates the recipe on ITS OWN training portion (tidymodels
    semantics), at folds x repeats x candidates extra preprocessing jobs;
    the collinearity (VIF) pre-filter stays split-level in both modes, as in
    the reference's check_collinearity step. Re-prep implies the pyspark.ml
    fit path (the small-n fast path collects the prepped frame once, which
    a per-fold recipe by definition cannot reuse).

    SVM is classification-only (LinearSVC); the reference's kernlab engine
    also fits regression, which has no Spark-native analog — a regression
    run with model="svm" raises with that explanation (declared non-goal,
    SURVEY §7.5).
    """
    metric = metric or ("bal_accuracy" if feature_type == "factor" else "rmse")
    feature_cols = [
        c for c in df.columns if c not in (id_col, label_col, split_col)
    ]

    if split_col is not None:
        split = df.withColumnRenamed(split_col, "is_train").persist()
    else:
        split = stratified_split(
            df, label_col, id_col, train_frac, seed, feature_type
        ).persist()
    train = split.filter("is_train").drop("is_train")
    test = split.filter("NOT is_train").drop("is_train")

    kept, audit, corr = reduce_collinearity(
        train, feature_cols, vif_threshold, cor_level
    )
    standardize = model in ("ridge", "lasso", "enet", "svm")
    recipe = fit_recipe(
        train, kept, standardize, cor_level,
        info_gain_n=info_gain_n, label_col=label_col, feature_type=feature_type,
        corr=corr,
    )

    classes = None
    if feature_type == "factor":
        # the class list and the train size from one aggregate
        counts = train.groupBy(label_col).count().collect()
        classes = sorted(str(r[label_col]) for r in counts)
        n_train = sum(r["count"] for r in counts)
    else:
        n_train = train.count()

    def prep(d: DataFrame) -> DataFrame:
        return _assemble(
            _prep_label(recipe.transform(d), label_col, feature_type, classes),
            recipe.keep_cols,
        )

    # tiny-frame adaptivity: a few-hundred-sample CV frame scattered over the
    # session's shuffle partitions pays ~partitions x task scheduling on
    # EVERY one of the hundreds of tuning fits — the dominant dietML cost at
    # reference scale. Coalesce small cached frames to ~25k rows/partition
    # (thread-pooled fits still use every core via concurrent jobs); large
    # frames keep their partitioning untouched.
    small_parts = (
        max(1, -(-n_train // 25_000)) if n_train <= 100_000 else None
    )
    # the small-n fast path (below) collects the CV frame once; only the
    # pyspark.ml path's thread-pooled fits need both frames materialized
    fit_local = (
        model in ("rf", "mars")
        and n_train <= LOCAL_FIT_MAX_ROWS
        and not reprep_per_fold
    )
    train_p = prep(train)
    if small_parts:
        train_p = train_p.coalesce(small_parts)
    train_p = train_p.persist()
    if not fit_local:
        train_p.count()
    test_p = prep(test)

    fold_df = fold_assignments(
        train, label_col, id_col, folds, cv_repeats, seed, feature_type
    )
    train_cv = train_p.join(fold_df, id_col)
    if small_parts:
        train_cv = train_cv.coalesce(small_parts)
    train_cv = train_cv.persist()
    if not fit_local:
        train_cv.count()

    # small-n fast path (rf, mars): at or below LOCAL_FIT_MAX_ROWS train rows,
    # every CV and final fit runs a numpy engine (functions/rf.py forest_fit,
    # functions/mars.py) on a driver-collected copy of the ALREADY-prepped CV
    # frame — one toPandas of the recipe output, then zero Spark jobs per
    # tuning fit. Rationale: a few-hundred-sample resample pays ~10-20
    # scheduled Spark jobs per pyspark.ml fit (the reference-scale dietML
    # bottleneck, BENCH.md), while the histogram-CART forest fits the same
    # frame in tens of milliseconds. The train/test and CV-fold leakage
    # boundaries and the scoring code are untouched — this swaps the FIT
    # ENGINE for sub-threshold frames, not the protocol.
    # per-fold re-prep keeps the RAW train rows joined to fold assignments;
    # each fit re-runs fit_recipe on its own fold-train portion
    train_cv_raw = None
    if reprep_per_fold:
        train_cv_raw = train.join(fold_df, id_col)
        if small_parts:
            train_cv_raw = train_cv_raw.coalesce(small_parts)
        train_cv_raw = train_cv_raw.persist()
        train_cv_raw.count()

    local_cv = None
    if fit_local:
        local_cv = (
            train_cv.select(id_col, "label", "repeat", "fold", *recipe.keep_cols)
            .toPandas()
            .sort_values(["repeat", id_col], kind="mergesort")
            .reset_index(drop=True)
        )  # deterministic row order -> layout-invariant bootstrap draws
    if model == "mars" and local_cv is None:
        raise NotImplementedError(
            "mars (bagged earth, lib/diet_ml_funcs.R:510-561) is a "
            "single-node engine here as in R: it requires n_train <= "
            f"dietml.LOCAL_FIT_MAX_ROWS ({LOCAL_FIT_MAX_ROWS}) and "
            "reprep_per_fold=False"
        )

    # -- grid tune (M7) with tune_stop / tune_time early stopping -----------
    candidates = _grid(model, tune_length, seed)
    maximize = metric in MAXIMIZE
    rows = []
    best_score, since_best = None, 0
    t0 = time.time()

    def _mtry_count(strategy: str, p: int) -> int:
        # featureSubsetStrategy -> feature count, pyspark.ml's mapping.
        # spark-mllib DecisionTreeMetadata uses math.sqrt(p).ceil for
        # "sqrt" (NOT ranger's floor — functions/rf.py's None-default keeps
        # floor for the ranger-parity competition path).
        if strategy == "sqrt":
            return max(1, int(np.ceil(np.sqrt(p))))
        try:
            return max(1, int(np.ceil(p * float(strategy))))
        except ValueError:
            return max(1, int(np.ceil(np.sqrt(p))))

    def _fit_local_predictor(params: dict, Xtr: np.ndarray, ytr: np.ndarray, fit_seed: int):
        """Driver-local fit for the fast path; returns a predict closure.
        rf -> the numpy histogram forest; mars -> bagged numpy MARS
        (functions/mars.py, the earth/bag_mars analog)."""
        cls = feature_type == "factor"
        if model == "mars":
            from taxahfe_spark.functions.mars import mars_fit, mars_predict

            nt = params.get("num_terms")
            bags = mars_fit(
                Xtr,
                ytr.astype(np.int64) if cls else ytr,
                cls,
                num_terms=int(nt) if nt else None,
                prod_degree=int(params.get("prod_degree", 1)),
                prune_method=str(params.get("prune_method", "backward")),
                n_bags=int(params.get("n_bags", MARS_BAGS)),
                seed=fit_seed,
                n_classes=len(classes) if cls else None,
            )
            return lambda M: mars_predict(bags, M)
        from taxahfe_spark.functions.rf import forest_fit, forest_predict

        mdl = forest_fit(
            Xtr,
            ytr.astype(np.int64) if cls else ytr,
            cls,
            num_trees=int(params.get("num_trees", 100)),
            mtry=_mtry_count(str(params.get("mtry", "sqrt")), Xtr.shape[1]),
            min_node=int(params.get("min_n", 1)),
            seed=fit_seed,
            n_classes=len(classes) if cls else None,
        )
        return lambda M: forest_predict(mdl, M)

    # reprep_per_fold: the recipe depends only on (repeat, fold) — candidates
    # share identical fold-train data (tidymodels preps once per resample,
    # not per candidate) — so memoize the prepped tr/va frames across
    # candidates. Lock because fits may run in a thread pool.
    import threading

    _reprep_cache: dict[tuple[int, int], tuple[DataFrame, DataFrame]] = {}
    _reprep_lock = threading.Lock()

    def _reprep_frames(r: int, f: int) -> tuple[DataFrame, DataFrame]:
        with _reprep_lock:
            hit = _reprep_cache.get((r, f))
        if hit is not None:
            return hit
        tr_raw = train_cv_raw.filter(
            (F.col("repeat") == r) & (F.col("fold") != f)
        )
        va_raw = train_cv_raw.filter(
            (F.col("repeat") == r) & (F.col("fold") == f)
        )
        rec_f = fit_recipe(
            tr_raw, kept, standardize, cor_level,
            info_gain_n=info_gain_n, label_col=label_col,
            feature_type=feature_type,
        )

        def prep_f(d: DataFrame) -> DataFrame:
            return _assemble(
                _prep_label(rec_f.transform(d), label_col, feature_type, classes),
                rec_f.keep_cols,
            )

        pair = (prep_f(tr_raw), prep_f(va_raw))
        with _reprep_lock:
            # first fit wins on a race — both computed identical frames
            pair = _reprep_cache.setdefault((r, f), pair)
        return pair

    def fit_one(params: dict, ci: int, r: int, f: int) -> float:
        # one (id, fold) row per repeat: restrict to THIS repeat's
        # dealing, then hold out fold f. Seed depends on (candidate,
        # repeat) only — layout- and worker-count-invariant.
        fit_seed = seed + 31 * ci + r
        if local_cv is not None:
            sub = local_cv[local_cv["repeat"] == r]
            tr = sub[sub["fold"] != f]
            va = sub[sub["fold"] == f]
            cols = recipe.keep_cols
            predict = _fit_local_predictor(
                params, tr[cols].to_numpy(np.float64),
                tr["label"].to_numpy(np.float64), fit_seed,
            )
            scored = (
                _from_labels(va["label"].to_numpy(np.float64), classes),
                *_local_outputs(predict(va[cols].to_numpy(np.float64)), classes),
            )
        else:
            if reprep_per_fold:
                tr, va = _reprep_frames(r, f)
            else:
                tr = train_cv.filter((F.col("repeat") == r) & (F.col("fold") != f))
                va = train_cv.filter((F.col("repeat") == r) & (F.col("fold") == f))
            fitted = _estimator(model, feature_type, params, fit_seed).fit(tr)
            scored = _spark_predictions(fitted, va, id_col, label_col, classes)
        return _metrics(*scored, classes)[metric]

    from concurrent.futures import ThreadPoolExecutor

    pool = (
        ThreadPoolExecutor(max_workers=int(parallel_workers))
        if parallel_workers and int(parallel_workers) > 1
        else None
    )
    if model == "rf":
        candidates = [{**c, "num_trees": num_trees} for c in candidates]
    score_cache: dict[tuple[int, int, int], float] = {}

    def eval_pairs(cis: list[int], pairs: list[tuple[int, int]]) -> dict[int, float]:
        """Mean metric per candidate over ``pairs``, memoizing each
        (candidate, repeat, fold) fit so later rungs reuse earlier ones."""
        todo = [
            (ci, r, f) for ci in cis for r, f in pairs if (ci, r, f) not in score_cache
        ]
        if pool is not None:
            futs = {k: pool.submit(fit_one, candidates[k[0]], *k) for k in todo}
            for k, fu in futs.items():
                score_cache[k] = fu.result()
        else:
            for k in todo:
                score_cache[k] = fit_one(candidates[k[0]], *k)
        return {
            ci: float(np.nanmean([score_cache[(ci, r, f)] for r, f in pairs]))
            for ci in cis
        }

    def top(cis: list[int], means: dict[int, float], k: int) -> list[int]:
        sign = -1.0 if maximize else 1.0
        return sorted(cis, key=lambda ci: (sign * means[ci], ci))[:k]

    if tune_strategy == "bayes":
        # true tune_bayes analog (reference lib/diet_ml_funcs.R:789-806):
        # GP surrogate + expected improvement over continuous dials, seeded
        # initial design, uncertain pick every 5 non-improving iterations,
        # no_improve = tune_stop. Candidates come from the GP, not _grid.
        from taxahfe_spark.functions.bayes import bayes_search

        candidates = []
        full = [(r, f) for r in range(cv_repeats) for f in range(folds)]

        def _eval_bayes(params: dict) -> float:
            if model == "rf":
                params = {**params, "num_trees": num_trees}
            ci = len(candidates)
            candidates.append(params)
            return eval_pairs([ci], full)[ci]

        rows = bayes_search(
            model,
            _eval_bayes,
            maximize=maximize,
            seed=seed,
            iterations=tune_length,
            no_improve=tune_stop,
            time_limit_s=tune_time_min * 60,
            clock=time.time,
        )
    elif tune_strategy == "halving" and len(candidates) > 2 and folds > 1:
        # successive halving: every candidate pays ONE fold, the top third
        # pay repeat 0's folds, finalists pay the full repeats x folds bill;
        # cv_results reports finalists' FULL-budget means only
        cis = list(range(len(candidates)))
        m1 = eval_pairs(cis, [(0, 0)])
        cis = top(cis, m1, max(2, -(-len(cis) // 3)))
        m2 = eval_pairs(cis, [(0, f) for f in range(folds)])
        cis = top(cis, m2, max(2, -(-len(cis) // 3)))
        full = [(r, f) for r in range(cv_repeats) for f in range(folds)]
        m3 = eval_pairs(cis, full) if cv_repeats > 1 else {ci: m2[ci] for ci in cis}
        rows = [
            {"params": candidates[ci], "mean_metric": m3[ci]} for ci in sorted(cis)
        ]
    else:
        full = [(r, f) for r in range(cv_repeats) for f in range(folds)]
        for ci, params in enumerate(candidates):
            mean_metric = eval_pairs([ci], full)[ci]
            rows.append({"params": params, "mean_metric": mean_metric})
            better = (
                best_score is None
                or (mean_metric > best_score if maximize else mean_metric < best_score)
            )
            if better:
                best_score, since_best = mean_metric, 0
            else:
                since_best += 1
            if since_best >= tune_stop or (time.time() - t0) > tune_time_min * 60:
                break
    if pool is not None:
        pool.shutdown(wait=False)
    cv_results = pd.DataFrame(rows)
    best_params = select_by_pct_loss(cv_results, metric, pct_loss, model)

    # -- evaluation (M9 null model, M10 last_fit, S8 predictions) -----------
    #
    # Both engines hand over (truth, estimate, class probabilities) arrays for
    # the whole train split and the test split, in id order: the fast path
    # refits its numpy engine on the CV frame it already holds and collects
    # the test rows once; the pyspark.ml path collects each split's
    # predictions through one Arrow job. The same scorer, null model and
    # raw-predictions builder then run on either.
    if local_cv is not None:
        cols = recipe.keep_cols
        tr_pdf = (
            local_cv[local_cv["repeat"] == 0]
            .sort_values(id_col, kind="mergesort")
            .reset_index(drop=True)
        )
        # carry the RAW label for test: a test-only class unseen in train
        # encodes to null in "label" but must still appear as truth
        te_pdf = (
            test_p.select(id_col, F.col(label_col).alias("__raw"), "label", *cols)
            .toPandas()
            .sort_values(id_col, kind="mergesort")
            .reset_index(drop=True)
        )
        Xtr = tr_pdf[cols].to_numpy(np.float64)
        ytr = tr_pdf["label"].to_numpy(np.float64)
        fit_params = dict(best_params)
        if model == "rf":
            fit_params.setdefault("num_trees", num_trees)
        predict_local = _fit_local_predictor(fit_params, Xtr, ytr, seed)
        te_truth = (
            te_pdf["__raw"].astype(str).to_numpy()
            if classes is not None
            else te_pdf["label"].to_numpy(np.float64)
        )
        splits = {
            "train": (
                _from_labels(ytr, classes),
                *_local_outputs(predict_local(Xtr), classes),
            ),
            "test": (
                te_truth,
                *_local_outputs(predict_local(te_pdf[cols].to_numpy(np.float64)), classes),
            ),
        }
    else:
        final = _estimator(model, feature_type, best_params, seed).fit(train_p)
        splits = {
            tag: _spark_predictions(final, d, id_col, label_col, classes)
            for tag, d in (("train", train_p), ("test", test_p))
        }
    train_m = _metrics(*splits["train"], classes)
    final_m = _metrics(*splits["test"], classes)
    null_m = null_model_metrics(splits["train"][0], splits["test"][0], feature_type)
    # S8: raw train+test predictions (reference bind_rows + augment,
    # lib/diet_ml_funcs.R:991-1013)
    raw_predictions = pd.concat(
        [_raw_predictions(*splits[tag], classes, tag) for tag in ("train", "test")],
        ignore_index=True,
    )

    # J7: outer merge final vs null on metric name
    names = sorted(set(final_m) | set(null_m))
    full_results = pd.DataFrame(
        {
            ".metric": names,
            "estimate": [final_m.get(n, float("nan")) for n in names],
            "null_model_avg": [null_m.get(n, float("nan")) for n in names],
        }
    )

    shap_ranking = None
    shap_values = shap_inputs = None
    if shap:
        if local_cv is not None:
            from taxahfe_spark.functions.shap import (
                ranking_from_phi,
                shap_values_local,
            )

            def _shap_score(M: np.ndarray) -> np.ndarray:
                out = predict_local(M)
                # P(class 0) for classifiers — shap_mean_abs's default
                return out[:, 0] if out.ndim == 2 else out

            # per-row phi computed once: the ranking AND the S9 beeswarm
            # artifact derive from the same matrix
            shap_values = shap_values_local(_shap_score, Xtr, seed=seed)
            shap_inputs = Xtr
            shap_ranking = ranking_from_phi(
                shap_values, recipe.keep_cols, top_k=shap_top_k
            )
        else:
            from taxahfe_spark.functions.shap import shap_mean_abs

            shap_ranking = shap_mean_abs(
                final, train_p, recipe.keep_cols, seed=seed, top_k=shap_top_k
            ).toPandas()

    split.unpersist()
    train_p.unpersist()
    train_cv.unpersist()
    return DietMLResult(
        model=model,
        metric=metric,
        best_params=best_params,
        cv_results=cv_results,
        full_results=full_results,
        train_metrics=train_m,
        collinearity_audit=audit,
        recipe=recipe,
        shap_ranking=shap_ranking,
        raw_predictions=raw_predictions,
        null_metrics=null_m,
        shap_values=shap_values,
        shap_inputs=shap_inputs,
    )


def append_results_csv(result: DietMLResult, path: str, seed: int, program: str) -> None:
    """S8: ml_results.csv-style append sink (reference lib/diet_ml_funcs
    .R:987-1013). Plain local append — the frame is metric-count-sized."""
    import os

    df = result.full_results.copy()
    df["seed"] = seed
    df["program"] = program
    df["model"] = result.model
    header = not os.path.exists(path)
    os.makedirs(os.path.dirname(path) or ".", exist_ok=True)
    df.to_csv(path, mode="a", header=header, index=False)


def write_raw_predictions_csv(result: DietMLResult, path: str) -> None:
    """S8: raw_predictions.csv (reference lib/diet_ml_funcs.R:991-1013) —
    per-row train+test predictions, OVERWRITE semantics like the reference's
    write_csv (not append)."""
    import os

    if result.raw_predictions is None:
        return
    os.makedirs(os.path.dirname(path) or ".", exist_ok=True)
    result.raw_predictions.to_csv(path, index=False)


def append_dummy_results_csv(result: DietMLResult, path: str, seed: int) -> None:
    """S8: dummy_model_results.csv (reference run_null_model,
    lib/diet_ml_funcs.R:410-412) — one appended row per run:
    (seed, bal_accuracy, f_meas, accuracy) or (seed, mae, rmse, ccc)."""
    import os

    row = {"seed": seed, **result.null_metrics}
    df = pd.DataFrame([row])
    header = not os.path.exists(path)
    os.makedirs(os.path.dirname(path) or ".", exist_ok=True)
    df.to_csv(path, mode="a", header=header, index=False)


def summarized_levels(
    resolved: DataFrame,
    state: pd.DataFrame,
    metadata: DataFrame,
    levels: list[int] | None = None,
    split_assign: DataFrame | None = None,
    csv_dir: str | None = None,
    csv_seed: int | None = None,
    **dietml_kwargs,
) -> dict[int, DietMLResult]:
    """M12: run dietML once per tree depth on that depth's filter-passing
    features (reference method_levels, lib/methods.R:144-181 +
    cmd/taxa_hfe_ml.R:124-186).

    ``split_assign``: optional (subject_id, is_train) frame carrying the
    ORIGINAL top-level split — the reference filters each level's matrix by
    the train/test subject sets from the main run so every depth honors the
    same leakage boundary. ``csv_dir``/``csv_seed``: when set, each level's
    matrix is saved as summarized_level_{level}_{seed}.csv first (the
    reference's per-level export)."""
    from taxahfe_spark.naming import clean_entity_expr, clean_name

    passed = state[state["passed_filters"]]
    lvls = levels or sorted(passed["level"].unique())
    out: dict[int, DietMLResult] = {}
    for lvl in lvls:
        paths = passed[passed["level"] == lvl]["path"].tolist()
        if not paths:
            continue
        mat = (
            resolved.filter(F.col("level") == int(lvl))
            .filter(F.col("path").isin(paths))
            .groupBy(F.col("entity_id").alias("subject_id"))
            .pivot("path", paths)
            .agg(F.first("value"))
            .na.fill(0.0, subset=paths)
            .withColumnsRenamed({p: clean_name(p) for p in paths})
        )
        meta = metadata.withColumn("subject_id", clean_entity_expr("subject_id"))
        df = mat.join(F.broadcast(meta), "subject_id", "inner")
        if csv_dir is not None:
            import os

            os.makedirs(csv_dir, exist_ok=True)
            df.toPandas().to_csv(
                os.path.join(
                    csv_dir, f"summarized_level_{int(lvl)}_{csv_seed}.csv"
                ),
                index=False,
            )
        kwargs = dict(dietml_kwargs)
        if split_assign is not None:
            df = df.join(split_assign, "subject_id", "inner")
            kwargs["split_col"] = "is_train"
        out[int(lvl)] = run_dietml(df, **kwargs)
    return out
