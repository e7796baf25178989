"""S9 beeswarm SVG artifact (functions/beeswarm.py) and the per-row SHAP
values backing it (shap_values_local)."""

from __future__ import annotations

import xml.etree.ElementTree as ET

import numpy as np

from taxahfe_spark.functions.beeswarm import beeswarm_svg
from taxahfe_spark.functions.shap import ranking_from_phi, shap_values_local

SVG_NS = "{http://www.w3.org/2000/svg}"


def _linear_predict(M: np.ndarray) -> np.ndarray:
    return 3.0 * M[:, 0] - 1.0 * M[:, 1]


def test_shap_values_local_matches_ranking_path(spark):
    rng = np.random.default_rng(0)
    X = rng.random((40, 4))
    cols = ["a", "b", "c", "d"]
    phi = shap_values_local(_linear_predict, X, seed=7)
    rank = ranking_from_phi(phi, cols)
    # linear model: phi_j ~ w_j * (x_j - E[x_j]); the big-weight feature wins
    assert rank.iloc[0]["feature"] == "a"


def test_shap_values_local_worker_invariant(spark, monkeypatch):
    """The rows go to a pool of the session's ``defaultParallelism``
    children, whatever the host's core count; where the driver cannot fork,
    one in-process loop returns the same matrix."""
    import multiprocessing
    import os
    from multiprocessing import context

    rng = np.random.default_rng(1)
    X = rng.random((12, 3))
    real_pool = context.BaseContext.Pool
    sizes = []

    def spy(self, processes=None, *args, **kwargs):
        sizes.append(processes)
        return real_pool(self, processes, *args, **kwargs)

    monkeypatch.setattr(context.BaseContext, "Pool", spy)
    monkeypatch.setattr(os, "cpu_count", lambda: 16)
    pooled = shap_values_local(_linear_predict, X, seed=3)
    assert sizes == [spark.sparkContext.defaultParallelism]
    monkeypatch.setattr(
        multiprocessing, "get_all_start_methods", lambda: ["spawn"]
    )
    in_process = shap_values_local(_linear_predict, X, seed=3)
    assert len(sizes) == 1  # no pool was forked
    assert np.array_equal(pooled, in_process)


def test_beeswarm_svg_structure():
    rng = np.random.default_rng(2)
    n, p, top_k = 30, 6, 4
    phi = rng.normal(0, 1, (n, p))
    X = rng.random((n, p))
    cols = [f"f{j}" for j in range(p)]
    svg = beeswarm_svg(phi, X, cols, top_k=top_k)
    root = ET.fromstring(svg)
    assert root.tag == f"{SVG_NS}svg"
    circles = root.findall(f"{SVG_NS}circle")
    assert len(circles) == n * top_k  # one dot per row per plotted feature
    texts = [t.text for t in root.findall(f"{SVG_NS}text")]
    top_features = sorted(
        range(p), key=lambda j: -np.abs(phi[:, j]).mean()
    )[:top_k]
    for j in top_features:
        assert f"f{j}" in texts
    # deterministic output
    assert svg == beeswarm_svg(phi, X, cols, top_k=top_k)


def test_beeswarm_svg_constant_feature_and_single_row():
    # degenerate inputs must not divide by zero
    phi = np.array([[0.5, -0.2]])
    X = np.array([[1.0, 1.0]])
    svg = beeswarm_svg(phi, X, ["x", "y"], top_k=2)
    ET.fromstring(svg)
    assert 'rgb(' in svg
