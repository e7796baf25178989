"""Independent dual-implementation oracle for the dietML grid-rf trajectory
(VERDICT r5 task 4): tests/oracle_dietml.py re-derives fold assignment,
every CV fit + RMSE, the pct-loss selection, and the final/null metric table
with zero dietml.py / functions/rf.py code, and the engine must agree to
float identity on a bike-share day table: the seeded stand-in
(tests/bike_share.py) always, and the reference's own fixture where it
exists.

Reference: lib/diet_ml_funcs.R:722-1027 (run_dietML grid tuning + last_fit).
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pytest
from bike_share import bike_share_day
from pyspark.sql import functions as F

from oracle_dietml import (
    hash_split_train_ids,
    oracle_dietml_rf,
    spark_xxhash64_str_int,
)

BIKE = "/root/reference/example_inputs/bike_share_day.csv"
SEED = 99
FOLDS = 3
TUNE_LENGTH = 4
NUM_TREES = 25


def test_xxhash64_rederivation_matches_spark(spark):
    """The oracle's XXH64 (public algorithm, re-derived) must equal Spark's
    xxhash64(cast(id as string), lit(seed)) — the split/fold ranking key."""
    ids = [1, 2, 17, 731, 100000, -5, 2**31 - 1]
    df = spark.createDataFrame([(i,) for i in ids], "subject_id long")
    for seed in (SEED, SEED + 7919, 42, 1234):
        got = [
            r["h"]
            for r in df.select(
                F.xxhash64(F.col("subject_id").cast("string"), F.lit(seed)).alias("h")
            ).collect()
        ]
        assert got == [spark_xxhash64_str_int(str(i), seed) for i in ids]


@pytest.fixture(
    scope="module",
    params=[
        "synthetic",
        pytest.param(
            "reference",
            marks=pytest.mark.skipif(
                not os.path.exists(BIKE), reason="reference bike_share fixture absent"
            ),
        ),
    ],
)
def bike(spark, request):
    """The bike-share day table (the seeded stand-in, or the reference's CSV
    where it exists) in a PINNED single-partition file-order layout
    (oracle_dietml docstring: the fold-strata approxQuantile sketch is
    layout-sensitive, so the layout is part of the measurement), plus the
    oracle-injected hash split column."""
    day = bike_share_day() if request.param == "synthetic" else pd.read_csv(BIKE)
    pdf = day.rename(
        columns={"instant": "subject_id", "cnt": "feature_of_interest"}
    )
    train_ids = hash_split_train_ids(
        pdf["subject_id"].to_numpy(), train_frac=0.8, seed=SEED
    )
    pdf["__split"] = pdf["subject_id"].isin(train_ids)
    sdf = spark.createDataFrame(pdf).coalesce(1)
    return pdf, sdf, train_ids


def test_grid_rf_trajectory_matches_independent_oracle(spark, bike):
    from taxahfe_spark.dietml import run_dietml

    pdf, sdf, train_ids = bike
    # the engine's fold strata come from ONE approxQuantile on its train
    # frame; reproduce that measurement on an identically-laid-out
    # single-partition frame of the train labels in file order
    tr_lab = pdf[pdf["__split"]]["feature_of_interest"].astype("float64")
    fold_edges = (
        spark.createDataFrame(pd.DataFrame({"c": tr_lab.to_numpy()}))
        .coalesce(1)
        .approxQuantile("c", [0.25, 0.5, 0.75], 0.001)
    )

    res = run_dietml(
        sdf,
        feature_type="numeric",
        model="rf",
        folds=FOLDS,
        cv_repeats=1,
        tune_length=TUNE_LENGTH,
        metric="rmse",
        seed=SEED,
        num_trees=NUM_TREES,
        split_col="__split",
        tune_time_min=60.0,
    )

    feature_cols = [
        c
        for c in pdf.columns
        if c not in ("subject_id", "feature_of_interest", "__split")
    ]
    oracle = oracle_dietml_rf(
        pdf,
        "subject_id",
        "feature_of_interest",
        feature_cols,
        folds=FOLDS,
        cv_repeats=1,
        tune_length=TUNE_LENGTH,
        seed=SEED,
        num_trees=NUM_TREES,
        train_ids=train_ids,
        fold_edges=fold_edges,
    )

    # identical preprocessing outcome
    assert res.recipe.keep_cols == oracle["keep_cols"]

    # identical candidate list AND per-candidate CV scores (float identity:
    # integer-count labels make every sum exact in both engines)
    eng_params = [r["params"] for _, r in res.cv_results.iterrows()]
    orc_params = [r["params"] for r in oracle["cv_results"]]
    assert eng_params == orc_params
    np.testing.assert_allclose(
        res.cv_results["mean_metric"].to_numpy(),
        np.array([r["mean_metric"] for r in oracle["cv_results"]]),
        rtol=1e-12,
    )

    # identical selection
    assert res.best_params == oracle["best_params"]

    # identical final + null metric tables
    assert list(res.full_results[".metric"]) == oracle["metric_names"]
    np.testing.assert_allclose(
        res.full_results["estimate"].to_numpy(),
        np.array(oracle["estimate"]),
        rtol=1e-12,
    )
    np.testing.assert_allclose(
        res.full_results["null_model_avg"].to_numpy(),
        np.array(oracle["null_model_avg"]),
        rtol=1e-12,
        equal_nan=True,
    )
    for k, v in oracle["train_metrics"].items():
        assert res.train_metrics[k] == pytest.approx(v, rel=1e-12)
