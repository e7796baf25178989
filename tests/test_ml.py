"""Leakage-contract tests for the ML surface."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from taxahfe_spark.ml import stratified_split, taxa_hfe_ml
from taxahfe_spark.operators.competition import CompetitionParams


def test_stratified_split_deterministic_and_stratified(spark):
    rows = [(f"s{i}", "a" if i % 3 else "b") for i in range(90)]
    meta = spark.createDataFrame(rows, ["subject_id", "feature_of_interest"])
    s1 = stratified_split(meta, train_frac=0.8, seed=7).toPandas()
    s2 = stratified_split(meta.repartition(13), train_frac=0.8, seed=7).toPandas()
    m1 = dict(zip(s1["subject_id"], s1["is_train"]))
    m2 = dict(zip(s2["subject_id"], s2["is_train"]))
    assert m1 == m2  # partition-layout-invariant
    per = s1.groupby("feature_of_interest")["is_train"].mean()
    for frac in per:
        assert 0.75 <= frac <= 0.85
    s3 = stratified_split(meta, train_frac=0.8, seed=8).toPandas()
    assert dict(zip(s3["subject_id"], s3["is_train"])) != m1  # seed-sensitive


@pytest.fixture(scope="module")
def ml_inputs(spark):
    rng = np.random.default_rng(13)
    N = 60
    subjects = [f"s{i}" for i in range(N)]
    label = ["x"] * 30 + ["y"] * 30
    meta = spark.createDataFrame(
        list(zip(subjects, label)), ["subject_id", "feature_of_interest"]
    )
    sig = np.where(np.array(label) == "x", 3.0, 0.5) + rng.normal(0, 0.1, N)
    noise = np.abs(rng.normal(1, 0.3, N))
    rows = []
    for i, s in enumerate(subjects):
        rows.append(("k__m|p__sig", s, float(sig[i])))
        rows.append(("k__m|p__noise", s, float(noise[i])))
    long = spark.createDataFrame(rows, "clade_name string, entity_id string, value double")
    return meta, long


def test_taxa_hfe_ml_alignment_and_leakage(ml_inputs):
    meta, long = ml_inputs
    params = CompetitionParams(
        lowest_level=1, nperm=2, num_trees=40, seed=3, disable_super_filter=True
    )
    train, test, state, _ = taxa_hfe_ml(
        meta, long, params=params, filter_prevalence=0.1, seed=3
    )
    # identical schemas (reference lib/methods.R:114-135 alignment contract)
    assert train.columns == test.columns
    tr = train.toPandas()
    te = test.toPandas()
    assert len(tr) == 48 and len(te) == 12  # 0.8 stratified of 60
    assert set(tr["subject_id"]).isdisjoint(set(te["subject_id"]))
    # feature columns exist beyond subject_id + label
    assert len(train.columns) > 2


def test_taxa_hfe_ml_feeds_dietml_on_same_split(spark):
    """The full taxa_hfe_ml -> dietML path (cmd/taxa_hfe_ml.R analog):
    competition on train only, matrices for both splits, dietML consuming
    the SAME split via split_col, fitted metrics vs null baseline."""
    import numpy as np
    from pyspark.sql import functions as F

    from taxahfe_spark.dietml import run_dietml
    from taxahfe_spark.ml import taxa_hfe_ml
    from taxahfe_spark.operators.competition import CompetitionParams

    rng = np.random.default_rng(11)
    rows, meta_rows = [], []
    for i in range(80):
        lab = "hi" if i % 2 else "lo"
        meta_rows.append((f"s{i}", lab))
        sig = 4.0 if lab == "hi" else 1.0
        rows.append(("k__a|p__sig", f"s{i}", float(sig + rng.normal(0, 0.2))))
        rows.append(("k__b|p__noise", f"s{i}", float(abs(rng.normal(2, 0.5)))))
    long = spark.createDataFrame(rows, "clade_name string, entity_id string, value double")
    meta = spark.createDataFrame(meta_rows, "subject_id string, feature_of_interest string")
    params = CompetitionParams(
        lowest_level=1, nperm=2, num_trees=20, seed=5, disable_super_filter=True
    )
    train_m, test_m, state, _ = taxa_hfe_ml(
        meta, long, params=params, filter_prevalence=0.01, seed=5
    )
    full = train_m.withColumn("is_train", F.lit(True)).unionByName(
        test_m.withColumn("is_train", F.lit(False))
    )
    res = run_dietml(
        full, split_col="is_train", feature_type="factor", model="rf",
        folds=2, cv_repeats=1, tune_length=1, num_trees=10, seed=5,
    )
    fr = res.full_results.set_index(".metric")
    assert fr.loc["accuracy", "estimate"] > fr.loc["accuracy", "null_model_avg"]
    assert fr.loc["accuracy", "estimate"] > 0.9


@pytest.mark.parametrize("distributed", ["0", "1"])
def test_test_matrix_routes_agree(spark, monkeypatch, distributed):
    """The test matrix of taxa_hfe_ml — vectors of the test ResolvedTree on
    the driver, a pivot of its frame when distributed — equals, as a set of
    rows, the pivot of the same tree's frame() and the winner matrix of a
    hierarchical_rollup of the test rows. One test subject has explicit
    zeros on every path, another has no row on the competing clade."""
    import pandas as pd

    from taxahfe_spark.naming import clean_entity_expr, clean_name
    from taxahfe_spark.pipeline import winner_feature_matrix
    from taxahfe_spark.taxonomy import hierarchical_rollup, resolve_tree

    monkeypatch.setenv("TAXAHFE_DISTRIBUTED", distributed)
    rng = np.random.default_rng(17)
    n = 60
    subjects = [f"s{i}" for i in range(n)]
    label = ["x" if i % 2 else "y" for i in range(n)]
    meta = spark.createDataFrame(
        list(zip(subjects, label)), ["subject_id", "feature_of_interest"]
    )
    split = stratified_split(meta, train_frac=0.8, seed=3).toPandas()
    test_subjects = sorted(split.loc[~split["is_train"], "subject_id"])
    all_zero, off_clade = test_subjects[:2]
    rows = []
    for s, lab in zip(subjects, label):
        sig = (3.0 if lab == "x" else 0.5) + rng.normal(0, 0.1)
        vals = {
            "k__m|p__sig|g__a": sig,
            "k__m|p__sig|g__b": abs(rng.normal(1, 0.3)),
            "k__m|p__noise": abs(rng.normal(1, 0.3)),
            "k__z|p__other": abs(rng.normal(1, 0.3)),
        }
        if s == all_zero:
            vals = dict.fromkeys(vals, 0.0)
        if s == off_clade:
            vals = {"k__z|p__other": vals["k__z|p__other"]}
        rows += [(path, s, float(v)) for path, v in vals.items()]
    long = spark.createDataFrame(
        rows, "clade_name string, entity_id string, value double"
    )
    params = CompetitionParams(
        lowest_level=1, nperm=2, num_trees=20, seed=3, disable_super_filter=True
    )
    train, test, state, _ = taxa_hfe_ml(
        meta, long, params=params, filter_prevalence=0.01, seed=3
    )
    assert state["winner"].any()

    test_meta = meta.filter(F.col("subject_id").isin(test_subjects))
    long_test = long.withColumn(
        "entity_id", clean_entity_expr("entity_id")
    ).filter(F.col("entity_id").isin(test_subjects))
    tree = resolve_tree(long_test)
    assert tree.on_driver == (distributed == "0")

    def rows_of(df):
        pdf = df.select(*train.columns).toPandas()
        return pdf.sort_values("subject_id").reset_index(drop=True)

    got = rows_of(test)
    rolled = hierarchical_rollup(long_test)
    routes = {
        "tree": winner_feature_matrix(tree, state, metadata=test_meta),
        "frame pivot": winner_feature_matrix(tree.frame(), state, metadata=test_meta),
        "hierarchical_rollup": winner_feature_matrix(rolled, state, metadata=test_meta),
    }
    assert sorted(got["subject_id"]) == test_subjects
    features = [c for c in got.columns if c not in ("subject_id", "feature_of_interest")]
    assert features
    zero_row = got[got["subject_id"] == all_zero][features]
    assert (zero_row.to_numpy() == 0.0).all()
    for name, df in routes.items():
        pd.testing.assert_frame_equal(rows_of(df), got, obj=name)
    # a winner the test tree never saw is a zero column on every route
    absent = "k__q|p__train_only"
    state_x = pd.concat(
        [state, pd.DataFrame({"path": [absent], "winner": [True]})],
        ignore_index=True,
    )
    cols = [*got.columns, clean_name(absent)]
    wide = [
        winner_feature_matrix(t, state_x, metadata=test_meta).select(*cols).toPandas()
        .sort_values("subject_id").reset_index(drop=True)
        for t in (tree, tree.frame(), rolled)
    ]
    assert (wide[0][clean_name(absent)] == 0.0).all()
    for other in wide[1:]:
        pd.testing.assert_frame_equal(other, wide[0])
    tree.frame().unpersist()
    rolled.unpersist()
