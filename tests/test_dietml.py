"""dietML surface tests (SURVEY §2.11 M1-M13).

Metric formulas are checked against hand-computed yardstick-parity values;
the end-to-end runs use a bike-share-shaped regression frame (a seeded
stand-in, tests/bike_share.py, plus the reference's own bike_share fixture
when it is present) and a synthetic separable classification task, asserting
the fitted model beats the null baseline — the reference's own acceptance
shape (ml_results.csv compares final vs null, lib/diet_ml_funcs.R:980).
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pytest
from bike_share import bike_share_day

from taxahfe_spark import dietml
from taxahfe_spark.dietml import (
    fit_recipe,
    fold_assignments,
    null_model_metrics,
    reduce_collinearity,
    run_dietml,
    select_by_pct_loss,
    stratified_split,
    summarized_levels,
)
from taxahfe_spark.functions.metrics import (
    classification_metrics,
    classification_metrics_from_cm,
    midrank_auc,
    regression_metrics,
)

BIKE = "/root/reference/example_inputs/bike_share_day.csv"


@pytest.fixture(
    params=[
        "synthetic",
        pytest.param(
            "reference",
            marks=pytest.mark.skipif(
                not os.path.exists(BIKE), reason="reference bike_share fixture absent"
            ),
        ),
    ]
)
def bike(spark, request):
    """The bike-share day table as dietML input (instant -> subject_id,
    cnt -> feature_of_interest): the seeded stand-in, or the reference's
    CSV where it exists."""
    if request.param == "synthetic":
        df = spark.createDataFrame(bike_share_day())
    else:
        df = spark.read.option("header", True).option("inferSchema", True).csv(BIKE)
    return df.withColumnRenamed("instant", "subject_id").withColumnRenamed(
        "cnt", "feature_of_interest"
    )


def _binary_probs(p_first) -> np.ndarray:
    """(n, 2) probability matrix whose first (event) column is ``p_first``."""
    p = np.asarray(p_first, dtype=np.float64)
    return np.column_stack([p, 1.0 - p])


# -- metric formulas (M10) ----------------------------------------------------


def test_classification_metrics_hand_computed():
    # confusion matrix rows=truth, cols=estimate:
    #        pred a  pred b
    # true a   50      10
    # true b    5      35
    m = np.array([[50.0, 10.0], [5.0, 35.0]])
    out = classification_metrics_from_cm(m)
    n = 100
    acc = 85 / n
    # sens_a = 50/60, spec_a = 35/40; sens_b = 35/40, spec_b = 50/60
    bal = ((50 / 60 + 35 / 40) / 2 + (35 / 40 + 50 / 60) / 2) / 2
    pe = (60 * 55 + 40 * 45) / (n * n)
    kap = (acc - pe) / (1 - pe)
    f1a = 2 * (50 / 55) * (50 / 60) / (50 / 55 + 50 / 60)
    f1b = 2 * (35 / 45) * (35 / 40) / (35 / 45 + 35 / 40)
    assert out["accuracy"] == pytest.approx(acc)
    assert out["bal_accuracy"] == pytest.approx(bal)
    assert out["kap"] == pytest.approx(kap)
    # yardstick binary default: event-class (first level) F1, not macro
    assert out["f_meas"] == pytest.approx(f1a)
    # macro averaging still applies for 3+ classes
    m3 = np.array([[5.0, 1.0, 0.0], [1.0, 6.0, 1.0], [0.0, 2.0, 4.0]])
    out3 = classification_metrics_from_cm(m3)
    p = np.diag(m3) / m3.sum(axis=0)
    r = np.diag(m3) / m3.sum(axis=1)
    f1s = 2 * p * r / (p + r)
    assert out3["f_meas"] == pytest.approx(f1s.mean())


def test_classification_metrics_counts_like_a_loop():
    """The vectorised confusion matrix equals one built row by row, classes
    being the union of truth and estimate levels."""
    rng = np.random.default_rng(3)
    truth = rng.choice(["a", "b", "c"], 300)
    estimate = rng.choice(["a", "b", "c", "d"], 300)  # "d" never true
    classes = sorted(set(truth) | set(estimate))
    m = np.zeros((len(classes), len(classes)))
    for t, e in zip(truth, estimate):
        m[classes.index(t), classes.index(e)] += 1
    got = classification_metrics(truth, estimate)
    want = classification_metrics_from_cm(m)
    assert np.isnan(got.pop("roc_auc"))
    assert got == want


def test_regression_metrics_hand_computed():
    t = np.array([1.0, 2.0, 3.0, 4.0, 5.0])
    e = np.array([1.5, 2.2, 2.4, 4.4, 4.6])
    out = regression_metrics(t, e)
    assert out["mae"] == pytest.approx(np.abs(t - e).mean())
    assert out["rmse"] == pytest.approx(np.sqrt(((t - e) ** 2).mean()))
    assert out["rsq"] == pytest.approx(np.corrcoef(t, e)[0, 1] ** 2)
    ccc = 2 * np.cov(t, e, ddof=1)[0, 1] / (
        t.var(ddof=1) + e.var(ddof=1) + (t.mean() - e.mean()) ** 2
    )
    assert out["ccc"] == pytest.approx(ccc)


def test_binary_auc_mann_whitney():
    # probs: positives (a) at .9/.8/.4, negatives at .7/.3/.2
    truth = np.array(["a", "a", "a", "b", "b", "b"])
    probs = _binary_probs([.9, .8, .4, .7, .3, .2])
    out = classification_metrics(
        truth, np.full(6, "a"), probs=probs, class_levels=["a", "b"], event_class="a"
    )
    # pairs: 9 total, positive-ranked-higher: (.9,.8 beat all 3)=6, .4 beats .3,.2 = 2 -> 8/9
    assert out["roc_auc"] == pytest.approx(8 / 9)


def test_binary_auc_tied_probs_midrank():
    """Ties must use Mann-Whitney MIDRANKS (ADVICE r2: F.rank() min-rank bug).

    RF/GBT probs are multiples of 1/numTrees, so ties are the common case:
    all-tied probs must give AUC 0.5, and partial ties must match the
    hand-computed midrank formula.
    """
    # all probabilities identical -> AUC must be exactly 0.5 (was 0.0)
    truth = np.array(["a", "a", "b", "b"])
    out = classification_metrics(
        truth, np.full(4, "a"), probs=_binary_probs([0.5] * 4),
        class_levels=["a", "b"], event_class="a",
    )
    assert out["roc_auc"] == pytest.approx(0.5)

    # partial ties: probs .9(a) .5(a) .5(b) .5(b) .1(b)
    # ranks: .1->1, .5 tie group midrank (2+3+4)/3=3, .9->5
    # rpos = 5 + 3 = 8; npos=2, nneg=3; auc = (8 - 3) / 6 = 5/6
    truth = np.array(["a", "a", "b", "b", "b"])
    out = classification_metrics(
        truth, np.full(5, "a"), probs=_binary_probs([0.9, 0.5, 0.5, 0.5, 0.1]),
        class_levels=["a", "b"], event_class="a",
    )
    assert out["roc_auc"] == pytest.approx(5 / 6)


def test_binary_auc_matches_numpy_oracle():
    """Randomized parity vs a numpy midrank-AUC oracle, incl. many ties."""
    rng = np.random.default_rng(7)
    probs = rng.integers(0, 10, 200) / 10.0  # heavy ties
    truth = np.where(rng.random(200) < 1 / (1 + np.exp(-4 * (probs - 0.5))), "a", "b")
    out = classification_metrics(
        truth, np.full(200, "a"), probs=_binary_probs(probs),
        class_levels=["a", "b"], event_class="a",
    )
    ranks = pd.Series(probs).rank(method="average").to_numpy()
    npos = (truth == "a").sum()
    nneg = len(truth) - npos
    expect = (ranks[truth == "a"].sum() - npos * (npos + 1) / 2) / (npos * nneg)
    assert out["roc_auc"] == pytest.approx(expect)


def test_hand_till_multiclass_auc():
    """Hand-Till M vs an independent numpy pairwise-midrank-AUC oracle
    (yardstick roc_auc multiclass default, ref lib/diet_ml_funcs.R:963)."""
    rng = np.random.default_rng(11)
    levels = ["a", "b", "c"]
    n = 180
    truth = rng.choice(levels, n)
    # quantized probs -> heavy ties, the RF/GBT regime
    raw = rng.integers(1, 8, (n, 3)).astype(float)
    # bias toward the true class so AUC is informative, then renormalize
    raw[np.arange(n), [levels.index(t) for t in truth]] += rng.integers(0, 6, n)
    probs = np.round(raw / raw.sum(axis=1, keepdims=True), 2)
    estimate = np.asarray(levels)[probs.argmax(axis=1)]

    def np_auc(scores, is_pos):
        ranks = pd.Series(scores).rank(method="average").to_numpy()
        npos = int(is_pos.sum())
        nneg = len(is_pos) - npos
        return (ranks[is_pos].sum() - npos * (npos + 1) / 2) / (npos * nneg)

    total = 0.0
    pairs = 0
    for i in range(3):
        for j in range(i + 1, 3):
            mask = (truth == levels[i]) | (truth == levels[j])
            a_ij = np_auc(probs[mask, i], truth[mask] == levels[i])
            a_ji = np_auc(probs[mask, j], truth[mask] == levels[j])
            total += (a_ij + a_ji) / 2
            pairs += 1
    expect = total / pairs

    out = classification_metrics(truth, estimate, probs=probs, class_levels=levels)
    assert out["roc_auc"] == pytest.approx(expect)


def test_hand_till_drops_absent_levels():
    """Levels with zero truth observations are dropped before pairing
    (yardstick warns + drops): a 3-level problem whose data covers only 2
    levels degrades to the binary midrank AUC of the observed pair."""
    truth = np.array(["a", "a", "b", "b"])
    probs = np.array(
        [[0.7, 0.2, 0.1], [0.5, 0.3, 0.2], [0.4, 0.5, 0.1], [0.1, 0.8, 0.1]]
    )
    got = classification_metrics(
        truth, np.array(["a", "a", "b", "b"]), probs=probs, class_levels=["a", "b", "c"]
    )["roc_auc"]
    a_ij = midrank_auc(probs[:, 0], truth == "a")
    a_ji = midrank_auc(probs[:, 1], truth == "b")
    assert got == pytest.approx((a_ij + a_ji) / 2)


# -- split / folds (M2-M4) ----------------------------------------------------


def test_stratified_split_proportions_and_determinism(spark):
    rows = [(f"s{i}", "a" if i % 3 else "b") for i in range(90)]
    df = spark.createDataFrame(rows, "subject_id string, feature_of_interest string")
    s1 = stratified_split(df, seed=5).toPandas().sort_values("subject_id")
    s2 = stratified_split(df, seed=5).toPandas().sort_values("subject_id")
    pd.testing.assert_frame_equal(s1.reset_index(drop=True), s2.reset_index(drop=True))
    g = s1.groupby("feature_of_interest")["is_train"].mean()
    assert (g == 0.8).all()  # exact ceil(0.8n)/n at n divisible by 5


def test_fold_assignments_stratified_balanced(spark):
    rows = [(f"s{i}", "a" if i % 2 else "b") for i in range(60)]
    df = spark.createDataFrame(rows, "subject_id string, feature_of_interest string")
    f = fold_assignments(df, folds=5, repeats=2, seed=3).toPandas()
    assert set(f["repeat"]) == {0, 1}
    # every (repeat, fold) gets 12 ids, 6 per class
    sizes = f.groupby(["repeat", "fold"]).size()
    assert (sizes == 12).all()


def test_numeric_label_split_stratifies_quartiles(spark):
    rows = [(f"s{i}", float(i)) for i in range(80)]
    df = spark.createDataFrame(rows, "subject_id string, feature_of_interest double")
    s = stratified_split(df, feature_type="numeric", seed=1).toPandas()
    s["bin"] = pd.cut(s["feature_of_interest"], 4, labels=False)
    assert (s.groupby("bin")["is_train"].mean() == 0.8).all()


# -- recipe (M5) / collinearity (M6) -------------------------------------------


def test_recipe_dummies_zv_corr_scale(spark):
    rng = np.random.default_rng(0)
    x = rng.normal(0, 1, 50)
    rows = [
        (f"s{i}", float(x[i]), float(x[i] * 2 + 1e-9 * i), 5.0,
         "red" if i % 2 else "blue")
        for i in range(50)
    ]
    df = spark.createDataFrame(
        rows, "subject_id string, f1 double, f2 double, konst double, col string"
    )
    rec = fit_recipe(df, ["f1", "f2", "konst", "col"], standardize=True, cor_level=0.9)
    assert "konst" in rec.dropped_zv
    # step_corr on |r|: one of the duplicated numeric pair AND one of the
    # complementary (r = -1) dummy pair get dropped
    assert len({"f1", "f2"} & set(rec.dropped_corr)) == 1
    assert len({"col_blue", "col_red"} & set(rec.dropped_corr)) == 1
    out = rec.transform(df).toPandas()
    kept_num = [c for c in ("f1", "f2") if c in rec.keep_cols]
    assert abs(out[kept_num[0]].mean()) < 1e-9  # centered
    assert out[kept_num[0]].std(ddof=1) == pytest.approx(1.0)
    kept_dummy = ({"col_blue", "col_red"} & set(rec.keep_cols)).pop()
    assert kept_dummy in out.columns
    # unseen level encodes to all-zeros (step_novel semantics)
    df2 = spark.createDataFrame(
        [("t0", 1.0, 2.0, 5.0, "green")],
        "subject_id string, f1 double, f2 double, konst double, col string",
    )
    o2 = rec.transform(df2).toPandas()
    assert o2[kept_dummy].iloc[0] == 0.0


def test_reduce_collinearity_vif(spark):
    rng = np.random.default_rng(1)
    a = rng.normal(0, 1, 200)
    b = rng.normal(0, 1, 200)
    c = a + b + rng.normal(0, 0.01, 200)  # near-exact linear combo -> huge VIF
    rows = [(f"s{i}", float(a[i]), float(b[i]), float(c[i])) for i in range(200)]
    df = spark.createDataFrame(rows, "subject_id string, a double, b double, c double")
    kept, audit, corr = reduce_collinearity(df, ["a", "b", "c"], vif_threshold=5.0)
    assert len(kept) == 2 and len(audit) == 1
    assert list(corr.index) == list(corr.columns) == kept
    assert audit.iloc[0]["reason"].startswith("vif=")


def test_select_by_pct_loss_prefers_simpler():
    res = pd.DataFrame(
        {
            "params": [{"penalty": 0.001}, {"penalty": 0.1}, {"penalty": 1.0}],
            "mean_metric": [0.90, 0.89, 0.70],
        }
    )
    assert select_by_pct_loss(res, "bal_accuracy", 0.0, "ridge")["penalty"] == 0.001
    # within 5% of 0.90 -> 0.89 qualifies; prefer LARGER penalty (simpler)
    assert select_by_pct_loss(res, "bal_accuracy", 5.0, "ridge")["penalty"] == 0.1


# -- null model (M9) -----------------------------------------------------------


def test_null_model_majority_class():
    tr = np.array(["a"] * 7 + ["b"] * 3)
    te = np.array(["a"] * 5 + ["b"] * 5)
    m = null_model_metrics(tr, te, "factor")
    assert m["accuracy"] == pytest.approx(0.5)
    assert m["bal_accuracy"] == pytest.approx(0.5)
    assert set(m) == {"bal_accuracy", "f_meas", "accuracy"}


# -- end-to-end (M1/M7/M10) ----------------------------------------------------


def test_dietml_regression_bike_share(bike):
    """Bike-share e2e (the reference's dietml.md runs ridge on
    bike_share_day)."""
    res = run_dietml(
        bike,
        feature_type="numeric",
        model="ridge",
        folds=3,
        cv_repeats=1,
        tune_length=3,
        metric="rmse",
        seed=1234,
    )
    fr = res.full_results.set_index(".metric")
    assert {"mae", "rmse", "rsq", "ccc"} <= set(fr.index)
    # the model must beat the mean-predictor null baseline
    assert fr.loc["rmse", "estimate"] < fr.loc["rmse", "null_model_avg"]
    assert fr.loc["mae", "estimate"] < fr.loc["mae", "null_model_avg"]
    assert fr.loc["rsq", "estimate"] > 0.8  # casual+registered == cnt: easy


def test_dietml_classification_rf(spark):
    rng = np.random.default_rng(4)
    rows = []
    for i in range(120):
        lab = "pos" if i % 2 else "neg"
        sig = (3.0 if lab == "pos" else 0.5) + rng.normal(0, 0.3)
        rows.append((f"s{i}", float(sig), float(rng.normal(0, 1)), lab))
    df = spark.createDataFrame(
        rows, "subject_id string, sig double, noise double, feature_of_interest string"
    )
    res = run_dietml(
        df,
        feature_type="factor",
        model="rf",
        folds=3,
        cv_repeats=1,
        tune_length=2,
        num_trees=20,
        seed=7,
    )
    fr = res.full_results.set_index(".metric")
    assert fr.loc["accuracy", "estimate"] > 0.9
    assert fr.loc["accuracy", "estimate"] > fr.loc["accuracy", "null_model_avg"]
    assert fr.loc["kap", "estimate"] > 0.8
    assert not np.isnan(fr.loc["roc_auc", "estimate"])


def test_one_pearson_matrix_per_numeric_run(spark, monkeypatch):
    """A numeric-only run with cor_level < 1 computes the train Pearson
    matrix once: reduce_collinearity returns it and fit_recipe's step_corr
    reads its submatrix (a matrix with one-hot dummies is still computed,
    test_recipe_dummies_zv_corr_scale)."""
    from taxahfe_spark import dietml

    calls = []
    orig = dietml._corr_matrix

    def counting(df, cols):
        calls.append(list(cols))
        return orig(df, cols)

    monkeypatch.setattr(dietml, "_corr_matrix", counting)
    rng = np.random.default_rng(5)
    rows = []
    for i in range(60):
        lab = "pos" if i % 2 else "neg"
        sig = (3.0 if lab == "pos" else 0.5) + rng.normal(0, 0.3)
        rows.append(
            (f"s{i}", float(sig), float(sig * 2 + rng.normal(0, 1e-3)),
             float(rng.normal(0, 1)), 5.0, lab)
        )
    df = spark.createDataFrame(
        rows,
        "subject_id string, sig double, sig2 double, noise double, "
        "konst double, feature_of_interest string",
    )
    res = run_dietml(
        df, feature_type="factor", model="rf", folds=2, cv_repeats=1,
        tune_length=1, num_trees=10, seed=3, cor_level=0.9,
    )
    assert len(calls) == 1
    (dropped,) = res.collinearity_audit["column"]
    assert dropped in ("sig", "sig2")
    assert "konst" in res.recipe.dropped_zv
    assert set(res.recipe.keep_cols) == {"sig", "sig2", "noise"} - {dropped}


def test_summarized_levels_mode(spark):
    """M12: one dietML run per tree depth over that depth's features."""
    from taxahfe_spark.operators.filters import feature_filter_flags
    from taxahfe_spark.taxonomy import hierarchical_rollup

    rng = np.random.default_rng(2)
    rows, meta_rows = [], []
    for i in range(60):
        lab = "hi" if i % 2 else "lo"
        meta_rows.append((f"s{i}", lab))
        base = 4.0 if lab == "hi" else 1.0
        rows.append(("k__a|p__x", f"s{i}", float(base + rng.normal(0, 0.2))))
        rows.append(("k__a|p__y", f"s{i}", float(rng.normal(2, 0.5))))
    long = spark.createDataFrame(rows, "clade_name string, entity_id string, value double")
    meta = spark.createDataFrame(meta_rows, "subject_id string, feature_of_interest string")
    resolved = hierarchical_rollup(long)
    flags = feature_filter_flags(resolved, 60, 0.01, 0.0)
    state = flags.select("path", "level", "passed_filters").toPandas()
    out = summarized_levels(
        resolved, state, meta,
        feature_type="factor", model="rf", folds=2, cv_repeats=1,
        tune_length=1, num_trees=10, seed=3,
    )
    assert set(out) == {1, 2}
    for lvl, res in out.items():
        assert "accuracy" in set(res.full_results[".metric"])


def test_parallel_workers_identical_results(spark):
    """--parallel_workers only changes scheduling: seeds derive from
    (candidate, repeat), so cv_results and best_params are IDENTICAL for any
    worker count (the reference's PSOCK resample parallelism analog)."""
    rows = [
        (f"s{i}", float(i % 7), float((i * 3) % 5), float(2.0 * (i % 7) + 0.1 * i))
        for i in range(60)
    ]
    df = spark.createDataFrame(
        rows, "subject_id string, a double, b double, feature_of_interest double"
    )
    kw = dict(
        feature_type="numeric", model="lasso", folds=3, cv_repeats=2,
        tune_length=3, metric="rmse", seed=11,
    )
    r1 = run_dietml(df, parallel_workers=1, **kw)
    r4 = run_dietml(df, parallel_workers=4, **kw)
    pd.testing.assert_frame_equal(
        r1.cv_results.drop(columns=["params"]),
        r4.cv_results.drop(columns=["params"]),
    )
    assert list(r1.cv_results["params"]) == list(r4.cv_results["params"])
    assert r1.best_params == r4.best_params


def test_successive_halving_tuning(spark):
    """tune_strategy='halving': only finalists carry full-budget scores;
    deterministic across runs; the selected candidate beats the worst one."""
    rows = [
        (f"s{i}", float(i % 9), float((i * 7) % 4), float(3.0 * (i % 9) + 0.05 * i))
        for i in range(80)
    ]
    df = spark.createDataFrame(
        rows, "subject_id string, a double, b double, feature_of_interest double"
    )
    kw = dict(
        feature_type="numeric", model="lasso", folds=3, cv_repeats=2,
        tune_length=8, metric="rmse", seed=4, tune_strategy="halving",
    )
    r1 = run_dietml(df, **kw)
    r2 = run_dietml(df, **kw)
    assert list(r1.cv_results["mean_metric"]) == list(r2.cv_results["mean_metric"])
    assert r1.best_params == r2.best_params
    # two finalists survive the 8 -> 3 -> 2 halving schedule
    assert len(r1.cv_results) == 2
    assert r1.best_params in list(r1.cv_results["params"])


def test_raw_predictions_and_null_metrics_artifacts(spark, tmp_path):
    """S8: raw_predictions (train+test rows, .pred_* columns) and the
    dummy_model_results row exist with reference-shaped schemas."""
    from taxahfe_spark.dietml import (
        append_dummy_results_csv,
        write_raw_predictions_csv,
    )

    rng = np.random.default_rng(9)
    rows = [
        (f"s{i}", float((3.0 if i % 2 else 0.5) + rng.normal(0, 0.3)),
         "pos" if i % 2 else "neg")
        for i in range(80)
    ]
    df = spark.createDataFrame(
        rows, "subject_id string, sig double, feature_of_interest string"
    )
    res = run_dietml(
        df, feature_type="factor", model="rf", folds=2, cv_repeats=1,
        tune_length=1, num_trees=10, seed=5,
    )
    rp = res.raw_predictions
    assert rp is not None and len(rp) == 80  # every train + test row
    assert set(rp[".model_input_type"]) == {"train", "test"}
    assert {".pred_class", ".pred_neg", ".pred_pos", "feature_of_interest"} <= set(
        rp.columns
    )
    # probabilities are probabilities
    assert ((rp[".pred_neg"] + rp[".pred_pos"]).round(6) == 1.0).all()
    assert set(res.null_metrics) == {"bal_accuracy", "f_meas", "accuracy"}

    write_raw_predictions_csv(res, str(tmp_path / "raw_predictions.csv"))
    append_dummy_results_csv(res, str(tmp_path / "dummy_model_results.csv"), seed=5)
    append_dummy_results_csv(res, str(tmp_path / "dummy_model_results.csv"), seed=5)
    got = pd.read_csv(tmp_path / "raw_predictions.csv")
    assert len(got) == 80
    dummy = pd.read_csv(tmp_path / "dummy_model_results.csv")
    assert list(dummy.columns) == ["seed", "bal_accuracy", "f_meas", "accuracy"]
    assert len(dummy) == 2  # append semantics


def test_raw_predictions_regression_schema(spark):
    rows = [(f"s{i}", float(i), float(2 * i + 1)) for i in range(50)]
    df = spark.createDataFrame(
        rows, "subject_id string, x double, feature_of_interest double"
    )
    res = run_dietml(
        df, feature_type="numeric", model="ridge", folds=2, cv_repeats=1,
        tune_length=1, metric="rmse", seed=3,
    )
    rp = res.raw_predictions
    assert list(rp.columns) == ["feature_of_interest", ".pred", ".model_input_type"]
    assert set(res.null_metrics) == {"mae", "rmse", "ccc"}


def test_summarized_levels_split_and_csv(spark, tmp_path):
    """M12 CLI contract: per-level CSV export + the ORIGINAL train/test
    split honored at every depth (reference cmd/taxa_hfe_ml.R:124-186)."""
    from pyspark.sql import functions as F

    from taxahfe_spark.operators.filters import feature_filter_flags
    from taxahfe_spark.taxonomy import hierarchical_rollup

    rng = np.random.default_rng(12)
    rows, meta_rows = [], []
    for i in range(60):
        lab = "hi" if i % 2 else "lo"
        meta_rows.append((f"s{i}", lab))
        base = 4.0 if lab == "hi" else 1.0
        rows.append(("k__a|p__x", f"s{i}", float(base + rng.normal(0, 0.2))))
        rows.append(("k__a|p__y", f"s{i}", float(rng.normal(2, 0.5))))
    long = spark.createDataFrame(rows, "clade_name string, entity_id string, value double")
    meta = spark.createDataFrame(meta_rows, "subject_id string, feature_of_interest string")
    resolved = hierarchical_rollup(long)
    flags = feature_filter_flags(resolved, 60, 0.01, 0.0)
    state = flags.select("path", "level", "passed_filters").toPandas()
    split_assign = meta.select(
        "subject_id", (F.col("subject_id").substr(2, 9).cast("int") < 48).alias("is_train")
    )
    out = summarized_levels(
        resolved, state, meta,
        split_assign=split_assign, csv_dir=str(tmp_path), csv_seed=77,
        feature_type="factor", model="rf", folds=2, cv_repeats=1,
        tune_length=1, num_trees=10, seed=3,
    )
    assert set(out) == {1, 2}
    for lvl in (1, 2):
        csv = pd.read_csv(tmp_path / f"summarized_level_{lvl}_77.csv")
        assert len(csv) == 60 and "is_train" not in csv.columns


def test_shap_mean_abs_ranks_signal_feature(spark):
    """M11: permutation SHAP on a fitted model must rank the real signal
    feature first and give near-zero attribution to noise; phi sums
    approximately to f(x) - E[f(z)] (local accuracy, MC-approximate)."""
    from pyspark.ml.regression import LinearRegression
    from pyspark.ml.feature import VectorAssembler
    from pyspark.sql import functions as F

    from taxahfe_spark.functions.shap import shap_mean_abs

    rng = np.random.default_rng(6)
    rows = [
        (float(x), float(z), float(3.0 * x + 0.0 * z + rng.normal(0, 0.01)))
        for x, z in rng.normal(0, 1, (80, 2))
    ]
    df = spark.createDataFrame(rows, "sig double, noise double, y double")
    tr = VectorAssembler(inputCols=["sig", "noise"], outputCol="features").transform(
        df.withColumn("label", F.col("y"))
    )
    model = LinearRegression(featuresCol="features", labelCol="label").fit(tr)
    rank = shap_mean_abs(model, df, ["sig", "noise"], nsim=15, seed=2).toPandas()
    r = rank.set_index("feature")
    assert r.loc["sig", "rank"] == 1
    # linear model: mean|shap| of sig ~ |beta| * E|x - E_bg[x]| >> noise
    assert r.loc["sig", "mean_abs_shap"] > 10 * r.loc["noise", "mean_abs_shap"]


def test_shap_adaptive_nsim_clamps():
    from taxahfe_spark.functions.shap import adaptive_nsim

    assert adaptive_nsim(10, 2) == 200       # tiny data -> cap 200
    assert adaptive_nsim(10**6, 100) == 10   # huge -> floor 10
    assert adaptive_nsim(1000, 60) == 20     # 1.2e6/6e4


def test_recipe_info_gain_selects_signal(spark):
    """step_select_infgain analog: top-n univariate MI keeps the label-
    informative feature and drops noise."""
    rng = np.random.default_rng(9)
    rows = []
    for i in range(120):
        lab = "a" if i % 2 else "b"
        sig = (3.0 if lab == "a" else 0.5) + rng.normal(0, 0.3)
        rows.append((f"s{i}", float(sig), float(rng.normal(0, 1)),
                     float(rng.normal(0, 1)), lab))
    df = spark.createDataFrame(
        rows,
        "subject_id string, sig double, n1 double, n2 double, feature_of_interest string",
    )
    rec = fit_recipe(
        df, ["sig", "n1", "n2"], standardize=False,
        info_gain_n=1, label_col="feature_of_interest", feature_type="factor",
    )
    assert rec.keep_cols == ["sig"]


def test_local_fast_path_matches_pyspark_selection_regression(bike, monkeypatch):
    """The small-n fast path (numpy forest_fit CV fits) must select the SAME
    best_params as the pyspark.ml path on the bike_share frame; both runs
    share split/folds/recipe/selection/scoring code, only the fit engine
    differs (LOCAL_FIT_MAX_ROWS = 0 forces pyspark.ml)."""
    df = bike
    kwargs = dict(
        feature_type="numeric", model="rf", folds=3, cv_repeats=1,
        tune_length=3, metric="rmse", seed=99, num_trees=25,
        # tune_time_min large: the default 2-min budget can truncate the
        # grid mid-list on a contended box, breaking pf == ps parity on
        # wall clock rather than semantics
        tune_time_min=60.0,
    )
    fast = run_dietml(df, **kwargs)
    monkeypatch.setattr(dietml, "LOCAL_FIT_MAX_ROWS", 0)
    slow = run_dietml(df, **kwargs)
    assert fast.best_params == slow.best_params
    # same candidates evaluated, and CV scores in the same ballpark (the
    # engines differ in tree internals, not in protocol)
    pf = [r["params"] for _, r in fast.cv_results.iterrows()]
    ps = [r["params"] for _, r in slow.cv_results.iterrows()]
    assert pf == ps
    rel = np.abs(
        fast.cv_results["mean_metric"].to_numpy()
        / slow.cv_results["mean_metric"].to_numpy()
        - 1.0
    )
    # ballpark only: the engines share protocol + mtry counts (ceil(sqrt),
    # pyspark.ml's mapping) but differ in tree internals (64-bin quantile
    # histogram vs spark's 32-bin), so per-candidate CV scores drift
    assert (rel < 0.35).all()
    # evaluation-tail parity pin: the fast path's last_fit runs the numpy
    # forest, the slow path pyspark.ml, and both are scored by the same
    # numpy code — metric SETS identical, null model bit-identical (same
    # formula code on the same constant estimate), final estimates same
    # ballpark (different final model engine, the declared trade)
    assert list(fast.full_results[".metric"]) == list(slow.full_results[".metric"])
    np.testing.assert_allclose(
        fast.full_results["null_model_avg"].to_numpy(),
        slow.full_results["null_model_avg"].to_numpy(),
        rtol=1e-9,
    )
    est_rel = np.abs(
        fast.full_results["estimate"].to_numpy()
        / slow.full_results["estimate"].to_numpy()
        - 1.0
    )
    assert (est_rel < 0.35).all()
    assert set(fast.raw_predictions.columns) == set(slow.raw_predictions.columns)
    assert len(fast.raw_predictions) == len(slow.raw_predictions)


def _classification_parity_frame(spark):
    """160 rows, binary label driven by x1 and x2, x3 pure noise."""
    rng = np.random.default_rng(5)
    n = 160
    x1 = rng.normal(0, 1, n)
    x2 = rng.normal(0, 1, n)
    x3 = rng.normal(0, 1, n)
    label = np.where(x1 + 0.6 * x2 + rng.normal(0, 0.7, n) > 0, "pos", "neg")
    rows = [
        (f"s{i:03d}", str(label[i]), float(x1[i]), float(x2[i]), float(x3[i]))
        for i in range(n)
    ]
    return spark.createDataFrame(
        rows,
        "subject_id string, feature_of_interest string, "
        "x1 double, x2 double, x3 double",
    )


def test_local_fast_path_matches_pyspark_selection_classification(spark, monkeypatch):
    """Same engine-swap invariance for a binary classification frame."""
    df = _classification_parity_frame(spark)
    kwargs = dict(
        feature_type="factor", model="rf", folds=3, cv_repeats=1,
        tune_length=3, metric="bal_accuracy", seed=4, num_trees=25,
        tune_time_min=60.0,  # see regression twin: no wall-clock truncation
    )
    fast = run_dietml(df, **kwargs)
    monkeypatch.setattr(dietml, "LOCAL_FIT_MAX_ROWS", 0)
    slow = run_dietml(df, **kwargs)
    assert fast.best_params == slow.best_params
    # same parity pin as the regression test: identical metric sets +
    # bit-identical null model; estimates ballpark (different final engine)
    assert list(fast.full_results[".metric"]) == list(slow.full_results[".metric"])
    np.testing.assert_allclose(
        fast.full_results["null_model_avg"].to_numpy(),
        slow.full_results["null_model_avg"].to_numpy(),
        rtol=1e-9,
    )
    f_est = fast.full_results.set_index(".metric")["estimate"]
    s_est = slow.full_results.set_index(".metric")["estimate"]
    for mname in ("accuracy", "bal_accuracy", "roc_auc"):
        assert abs(f_est[mname] - s_est[mname]) < 0.2, mname


def test_reprep_per_fold_quantifies_cv_optimism(bike):
    """reprep_per_fold=True re-estimates the recipe inside each fold
    (tidymodels semantics); the run completes with the same protocol and
    candidate list, and the per-fold-prepped CV scores differ from the
    shared-recipe approximation (the delta the leakage-contract note
    documents). Uses the bike_share frame. Neither run leaves a persisted
    RDD behind."""
    df = bike
    kwargs = dict(
        feature_type="numeric", model="ridge", folds=3, cv_repeats=1,
        tune_length=2, metric="rmse", seed=7,
        tune_time_min=60.0,  # see fast-path regression test: deterministic grid
    )
    jsc = df.sparkSession.sparkContext._jsc
    cached = len(jsc.getPersistentRDDs())
    shared = run_dietml(df, **kwargs)
    assert len(jsc.getPersistentRDDs()) == cached
    reprep = run_dietml(df, reprep_per_fold=True, **kwargs)
    assert len(jsc.getPersistentRDDs()) == cached
    assert [r["params"] for _, r in shared.cv_results.iterrows()] == [
        r["params"] for _, r in reprep.cv_results.iterrows()
    ]
    a = shared.cv_results["mean_metric"].to_numpy()
    b = reprep.cv_results["mean_metric"].to_numpy()
    # same scale (the approximation is small — that IS the quantification:
    # on bike_share the shared-recipe optimism is ~1e-8 relative) but the
    # scores are not bit-identical, proving the per-fold prep really ran
    assert np.all(np.abs(a / b - 1.0) < 0.2)
    assert not np.array_equal(a, b)
    # final fit path identical in both modes
    assert set(shared.full_results[".metric"]) == set(reprep.full_results[".metric"])


def test_three_class_dietml_selects_on_roc_auc(spark):
    """End-to-end 3-class run with --metric roc_auc: Hand-Till AUC must be a
    real number in CV selection AND in the final metric table (pre-round-4
    behavior was NaN for 3+ classes, which broke selection)."""
    rng = np.random.default_rng(21)
    n = 150
    x1 = rng.normal(0, 1, n)
    x2 = rng.normal(0, 1, n)
    score = x1 + 0.5 * x2 + rng.normal(0, 0.8, n)
    label = np.where(score < -0.5, "lo", np.where(score > 0.5, "hi", "mid"))
    rows = [
        (f"s{i:03d}", str(label[i]), float(x1[i]), float(x2[i]))
        for i in range(n)
    ]
    df = spark.createDataFrame(
        rows,
        "subject_id string, feature_of_interest string, x1 double, x2 double",
    )
    res = run_dietml(
        df, feature_type="factor", model="rf", folds=3, cv_repeats=1,
        tune_length=2, metric="roc_auc", seed=2, num_trees=25,
    )
    assert np.isfinite(res.cv_results["mean_metric"]).all()
    assert (res.cv_results["mean_metric"] > 0.5).all()  # informative signal
    fr = res.full_results.set_index(".metric")
    assert np.isfinite(fr.loc["roc_auc", "estimate"])
    assert fr.loc["roc_auc", "estimate"] > 0.5


@pytest.mark.parametrize("model", ["lasso", "rf"])
def test_full_results_rescore_from_raw_predictions(spark, model):
    """One scorer for both fit engines: the final metrics are the metric set
    of raw_predictions' test rows, for a pyspark.ml fit (lasso) and a
    numpy-forest fit (rf under LOCAL_FIT_MAX_ROWS)."""
    res = run_dietml(
        _classification_parity_frame(spark), feature_type="factor", model=model,
        folds=2, cv_repeats=1, tune_length=1, num_trees=10, seed=4,
    )
    test = res.raw_predictions[res.raw_predictions[".model_input_type"] == "test"]
    levels = ["neg", "pos"]
    again = classification_metrics(
        test["feature_of_interest"].to_numpy(),
        test[".pred_class"].to_numpy(),
        probs=test[[f".pred_{c}" for c in levels]].to_numpy(),
        class_levels=levels,
        event_class=levels[0],
    )
    est = res.full_results.set_index(".metric")["estimate"]
    assert sorted(est.index) == sorted(again)
    np.testing.assert_array_equal(
        est[sorted(again)].to_numpy(), [again[k] for k in sorted(again)]
    )


# Spark jobs of this run when every scored fold ran Spark-side metric
# aggregations (a confusion-matrix groupBy plus the midrank AUC's quantile,
# bucket-count and sum jobs, per fold)
SPARK_SCORED_BINARY_LASSO_JOBS = 177


def test_pyspark_ml_predictions_are_collected_once_per_fold(spark):
    """A pyspark.ml fit's validation fold and its final train and test
    predictions are each collected through one Arrow job and scored on the
    driver, so the binary lasso run needs fewer Spark jobs than scoring
    through Spark aggregations did."""
    df = _classification_parity_frame(spark)
    tracker = spark.sparkContext.statusTracker()
    before = max(tracker.getJobIdsForGroup() or [0])
    run_dietml(
        df, feature_type="factor", model="lasso", folds=3, cv_repeats=1,
        tune_length=3, metric="bal_accuracy", seed=4, tune_time_min=60.0,
    )
    jobs = max(tracker.getJobIdsForGroup() or [0]) - before
    assert jobs < SPARK_SCORED_BINARY_LASSO_JOBS, jobs
