"""The predictive forest's flat node table walks every (tree, row) to the
same leaf as the per-depth key tables it is compiled from.

The oracle below is the key-table walker ``forest_predict`` used before the
table existed: one ``searchsorted`` into the sorted leaf keys and one into
the sorted split keys per depth. It reads the tables ``forest_fit`` hands to
the model, captured from ``_grow_tree_block``."""

from __future__ import annotations

import numpy as np
import pytest

from taxahfe_spark.functions import rf
from taxahfe_spark.functions.shap import shap_values_local


def _searchsorted_predict(levels, edges, num_trees, classification, n_classes, X):
    codes = rf._apply_bins(np.asarray(X, dtype=np.float64), edges)
    nv = codes.shape[0]
    T = num_trees
    tree = np.repeat(np.arange(T, dtype=np.int64), nv)
    row = np.tile(np.arange(nv, dtype=np.int64), T)
    node = np.zeros(T * nv, dtype=np.int64)
    active = np.ones(T * nv, dtype=bool)
    out = np.zeros((T * nv, n_classes)) if classification else np.zeros(T * nv)
    for depth, (lk, lv, sk, sf, st) in enumerate(levels):
        act = np.flatnonzero(active)
        if act.size == 0:
            break
        keys = (tree[act] << (depth + 1)) | node[act]
        if len(lk):
            li = np.searchsorted(lk, keys)
            li_c = np.minimum(li, len(lk) - 1)
            isleaf = lk[li_c] == keys
            leaf_slots = act[isleaf]
            out[leaf_slots] = lv[li_c[isleaf]]
            active[leaf_slots] = False
        else:
            isleaf = np.zeros(len(keys), dtype=bool)
        rest = act[~isleaf]
        if rest.size == 0:
            continue
        si = np.searchsorted(sk, keys[~isleaf])
        vals = codes[row[rest], sf[si]]
        node[rest] = node[rest] * 2 + (vals > st[si]).astype(np.int64)
    if classification:
        return out.reshape(T, nv, n_classes).mean(axis=0)
    return out.reshape(T, nv).mean(axis=0)


def _fit_with_levels(monkeypatch, X, y, classification, **kw):
    """``forest_fit`` plus the per-depth key tables it compiled."""
    grow = rf._grow_tree_block
    seen = []

    def spy(*args, **kwargs):
        grow(*args, **kwargs)
        seen.append(kwargs["rec"])

    monkeypatch.setattr(rf, "_grow_tree_block", spy)
    model = rf.forest_fit(X, y, classification, **kw)
    monkeypatch.setattr(rf, "_grow_tree_block", grow)
    (levels,) = seen
    return model, levels


def _design(kind: str, n: int = 160, p: int = 7, seed: int = 0):
    rng = np.random.default_rng(seed)
    X = rng.normal(size=(n, p))
    X[:, 3] = np.round(X[:, 3])  # a coarse column: few distinct bins
    signal = X[:, 0] + 0.5 * X[:, 1] * X[:, 2]
    if kind == "binary":
        y = (signal + rng.normal(0, 0.5, n) > 0).astype(np.int64)
    elif kind == "multiclass":
        y = np.digitize(signal + rng.normal(0, 0.3, n), [-0.7, 0.0, 0.7])
    else:
        y = signal + rng.normal(0, 0.2, n)
    return X, y


CASES = [
    (kind, min_node, 16)
    for kind in ("binary", "multiclass", "regression")
    for min_node in (1, 3)
] + [
    # shallow caps: every tree ends in depth-cap leaves
    ("binary", 1, 3),
    ("regression", 1, 2),
]


@pytest.mark.parametrize("kind,min_node,max_depth", CASES)
def test_node_table_walk_matches_key_tables(monkeypatch, kind, min_node, max_depth):
    X, y = _design(kind)
    classification = kind != "regression"
    model, levels = _fit_with_levels(
        monkeypatch, X, y, classification, num_trees=25, min_node=min_node,
        seed=5, max_depth=max_depth,
    )
    if max_depth < 16:
        assert model.depth == max_depth  # the cap was reached
    rng = np.random.default_rng(1)
    perturbed = X + rng.normal(0, 0.4, X.shape)
    perturbed[:7] = X[:7].max(axis=0) + 1.0  # beyond every training edge
    for rows in (X, perturbed):
        oracle = _searchsorted_predict(
            levels, model.edges, model.num_trees, classification,
            model.n_classes, rows,
        )
        assert np.array_equal(rf.forest_predict(model, rows), oracle)


def test_forest_shap_is_worker_count_invariant(spark, monkeypatch):
    """The forked pool's SHAP matrix equals the in-process one computed
    where the driver cannot fork."""
    import multiprocessing

    X, y = _design("binary", n=40, p=5, seed=2)
    model = rf.forest_fit(X, y, True, num_trees=30, seed=3)

    def predict(M):
        return rf.forest_predict(model, M)[:, 1]

    pooled = shap_values_local(predict, X, nsim=12, seed=9)
    monkeypatch.setattr(
        multiprocessing, "get_all_start_methods", lambda: ["spawn"]
    )
    in_process = shap_values_local(predict, X, nsim=12, seed=9)
    assert np.array_equal(pooled, in_process)
