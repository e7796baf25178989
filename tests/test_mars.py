"""M1 'mars' registry entry: bagged numpy MARS (functions/mars.py), the
earth/bag_mars analog (reference lib/diet_ml_funcs.R:97, 510-561).

Unit tests exercise the engine on closed-form hinge landscapes; the e2e
tests run the full dietML protocol with model="mars" on the driver-local
fast path (the only mode, as earth itself is single-node)."""

from __future__ import annotations

import numpy as np
import pytest

from taxahfe_spark.functions.mars import mars_fit, mars_predict


def _hinge_data(seed=0, n=250, p=8):
    rng = np.random.default_rng(seed)
    X = rng.random((n, p))
    y = (
        3.0 * np.maximum(X[:, 0] - 0.5, 0)
        - 2.0 * np.maximum(0.3 - X[:, 1], 0)
        + 0.5 * X[:, 2]
        + rng.normal(0, 0.05, n)
    )
    return X, y


def test_mars_regression_recovers_hinge_surface():
    X, y = _hinge_data()
    bags = mars_fit(X, y, False, seed=1, n_bags=5)
    pred = mars_predict(bags, X)
    r2 = 1 - ((y - pred) ** 2).sum() / ((y - y.mean()) ** 2).sum()
    assert r2 > 0.97
    # the hinge features actually used must be the planted ones
    used = {j for m in bags for term in m.terms for j, _, _ in term}
    assert {0, 1}.issubset(used)


def test_mars_classification_probs_and_accuracy():
    rng = np.random.default_rng(3)
    X = rng.random((240, 6))
    y = (X[:, 0] + X[:, 1] > 1.0).astype(np.int64)
    bags = mars_fit(X, y, True, seed=4, n_bags=5, n_classes=2)
    probs = mars_predict(bags, X)
    assert probs.shape == (240, 2)
    assert np.allclose(probs.sum(axis=1), 1.0)
    assert (probs.argmax(axis=1) == y).mean() > 0.93


def test_mars_deterministic():
    X, y = _hinge_data(seed=5)
    p1 = mars_predict(mars_fit(X, y, False, seed=9, n_bags=4), X)
    p2 = mars_predict(mars_fit(X, y, False, seed=9, n_bags=4), X)
    assert np.array_equal(p1, p2)


def test_mars_num_terms_caps_model_size():
    X, y = _hinge_data(seed=6)
    bags = mars_fit(X, y, False, num_terms=4, seed=2, n_bags=4)
    for m in bags:
        assert len(m.terms) + 1 <= 4  # num_terms counts the intercept


def test_mars_prod_degree_2_finds_interaction():
    rng = np.random.default_rng(7)
    X = rng.random((300, 5))
    y = 4.0 * np.maximum(X[:, 0] - 0.4, 0) * np.maximum(X[:, 1] - 0.4, 0) + rng.normal(
        0, 0.02, 300
    )
    b1 = mars_fit(X, y, False, prod_degree=1, seed=3, n_bags=3)
    b2 = mars_fit(X, y, False, prod_degree=2, seed=3, n_bags=3)
    sse1 = ((y - mars_predict(b1, X)) ** 2).sum()
    sse2 = ((y - mars_predict(b2, X)) ** 2).sum()
    assert sse2 < sse1 * 0.7  # interaction terms must pay for themselves
    assert any(len(term) == 2 for m in b2 for term in m.terms)


def test_mars_rejects_unknown_prune_method():
    X, y = _hinge_data(seed=8, n=60)
    with pytest.raises(ValueError):
        mars_fit(X, y, False, prune_method="exhaustive")


def test_run_dietml_mars_regression(spark, monkeypatch):
    from taxahfe_spark import dietml
    from taxahfe_spark.dietml import run_dietml

    rng = np.random.default_rng(11)
    rows = []
    for i in range(100):
        a = float(rng.random())
        b = float(rng.random())
        rows.append(
            (f"s{i}", a, b, 5.0 * max(a - 0.5, 0.0) + float(rng.normal(0, 0.05)))
        )
    df = spark.createDataFrame(
        rows, "subject_id string, a double, b double, feature_of_interest double"
    )
    kw = dict(
        feature_type="numeric", model="mars", folds=2, cv_repeats=1,
        tune_length=2, metric="rmse", seed=5,
    )
    monkeypatch.setattr(dietml, "MARS_BAGS", 3)
    r1 = run_dietml(df, **kw)
    r2 = run_dietml(df, **kw)
    assert r1.best_params == r2.best_params
    assert list(r1.cv_results["mean_metric"]) == list(r2.cv_results["mean_metric"])
    fr = r1.full_results.set_index(".metric")
    assert fr.loc["rmse", "estimate"] < fr.loc["rmse", "null_model_avg"]
    assert "num_terms" in r1.best_params


def test_run_dietml_mars_classification_with_shap(spark, monkeypatch):
    from taxahfe_spark import dietml
    from taxahfe_spark.dietml import run_dietml

    rows = [
        (
            f"s{i}",
            float(i % 7) + (8.0 if i % 2 else 0.0),
            float((i * 13) % 5),
            "yes" if i % 2 else "no",
        )
        for i in range(90)
    ]
    df = spark.createDataFrame(
        rows, "subject_id string, a double, b double, feature_of_interest string"
    )
    monkeypatch.setattr(dietml, "MARS_BAGS", 3)
    res = run_dietml(
        df, feature_type="factor", model="mars", folds=2, cv_repeats=1,
        tune_length=2, metric="bal_accuracy", seed=6, shap=True,
    )
    fr = res.full_results.set_index(".metric")
    assert fr.loc["bal_accuracy", "estimate"] > fr.loc["bal_accuracy", "null_model_avg"]
    assert res.shap_ranking is not None
    # the signal feature dominates the SHAP ranking
    assert res.shap_ranking.iloc[0]["feature"] == "a"


def test_run_dietml_mars_above_threshold_raises(spark, monkeypatch):
    from taxahfe_spark import dietml
    from taxahfe_spark.dietml import run_dietml

    rows = [(f"s{i}", float(i), float(i % 3), float(i % 5)) for i in range(60)]
    df = spark.createDataFrame(
        rows, "subject_id string, a double, b double, feature_of_interest double"
    )
    monkeypatch.setattr(dietml, "LOCAL_FIT_MAX_ROWS", 0)
    with pytest.raises(NotImplementedError, match="single-node"):
        run_dietml(
            df, feature_type="numeric", model="mars", folds=2, cv_repeats=1,
            tune_length=1, seed=1,
        )
