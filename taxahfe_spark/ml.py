"""Leakage-aware ML surface: stratified split + train-only HFE + test
projection (reference cmd/taxa_hfe_ml.R + lib/methods.R:55-141).

The leakage contract (reference lib/methods.R:65-123, the static analog of
the north rule's zero-temporal-leakage): the tree competition sees ONLY
training subjects; test features are the training winner set evaluated on
test subjects — the test tree is resolved (taxonomy.resolve_tree) with no
filters and no competition, and only the training winners are read from it.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from taxahfe_spark.naming import clean_entity_expr
from taxahfe_spark.operators.competition import CompetitionParams
from taxahfe_spark.pipeline import taxa_hfe, winner_feature_matrix
from taxahfe_spark.session import local_frame
from taxahfe_spark.taxonomy import ResolvedTree, resolve_tree


def stratified_split(
    metadata: DataFrame,
    label_col: str = "feature_of_interest",
    train_frac: float = 0.8,
    seed: int = 42,
) -> DataFrame:
    """Deterministic, partition-layout-invariant stratified split.

    Within each label stratum, subjects are ranked by a seeded hash and the
    first ceil(train_frac * n) go to train (reference: rsample
    initial_split(strata=response), cmd/taxa_hfe_ml.R:52-54). Hash-based
    ranking makes the split a pure function of (subject_id, seed) — stable
    across cluster sizes and reruns.
    """
    w = Window.partitionBy(label_col).orderBy(
        F.xxhash64("subject_id", F.lit(seed)).asc(), F.col("subject_id").asc()
    )
    wn = Window.partitionBy(label_col)
    return metadata.withColumn(
        "is_train",
        F.row_number().over(w) <= F.ceil(F.count(F.lit(1)).over(wn) * train_frac),
    )


def taxa_hfe_ml(
    metadata: DataFrame,
    hierarchical_long: DataFrame,
    params: CompetitionParams | None = None,
    filter_prevalence: float = 0.01,
    filter_mean_abundance: float = 0.0,
    train_frac: float = 0.8,
    seed: int = 42,
    k_splits: int = 3,
) -> tuple[DataFrame, DataFrame, pd.DataFrame, tuple[ResolvedTree, ResolvedTree]]:
    """Returns (train_matrix, test_matrix, train_state, (train_tree,
    test_tree)).

    train_matrix: train subjects x train-winner features (+ metadata);
    test_matrix: test subjects x THE SAME columns (reference
    lib/methods.R:114-135 column alignment — mismatch there is fatal, here
    structural by construction). The matrices read the trees lazily, so
    the caller releases the trees (:meth:`ResolvedTree.unpersist`) once
    it is done with the matrices.
    """
    params = params or CompetitionParams()
    # the split window runs ONCE: its rows come back as a local relation
    # with the split's own schema, so the train/test filters below, the
    # metadata joins and the matrix writes never re-run the window. The
    # metadata is entity-sized, a bound taxa_hfe already holds in pandas.
    split = stratified_split(metadata, train_frac=train_frac, seed=seed)
    split = local_frame(metadata.sparkSession, split.toPandas(), split.schema)
    train_meta = split.filter("is_train").drop("is_train")
    test_meta = split.filter("NOT is_train").drop("is_train")

    # competition on TRAIN only
    tree_train, state = taxa_hfe(
        train_meta,
        hierarchical_long,
        params=params,
        filter_prevalence=filter_prevalence,
        filter_mean_abundance=filter_mean_abundance,
        k_splits=k_splits,
    )
    train_matrix = winner_feature_matrix(
        tree_train, state, metadata=train_meta,
        use_super_filter=not params.disable_super_filter,
    )

    # TEST: tree resolved with NO filters and NO competition
    # (lib/methods.R:97-100: build_tree(p=0, a=0)), then projected onto the
    # training winner set — a driver tree densifies its vectors, a
    # distributed one pivots its frame (winner_feature_matrix)
    test_ids = test_meta.select(
        clean_entity_expr("subject_id").alias("entity_id")
    )
    long_test = hierarchical_long.withColumn(
        "entity_id", clean_entity_expr("entity_id")
    ).join(F.broadcast(test_ids), "entity_id", "left_semi")
    tree_test = resolve_tree(long_test)
    test_matrix = winner_feature_matrix(
        tree_test, state, metadata=test_meta,
        use_super_filter=not params.disable_super_filter,
    )
    # structural column alignment
    test_matrix = test_matrix.select(*train_matrix.columns)
    return train_matrix, test_matrix, state, (tree_train, tree_test)
