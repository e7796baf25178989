"""Dual-implementation oracle for the full RF collapse (VERDICT r4 task 5).

``tests/oracle_collapse.py`` re-implements the entire decision chain
(rollup -> filters -> corr prune -> RF importance -> winner rules -> super
filter; reference lib/tree.R:457-657) in pure pandas/numpy with per-group
loops, sharing no code with competition.py / functions/rf.py — only the
documented seeded-RNG contract. These tests assert full winner-STATE
equality between the two implementations, upgrading the frozen-golden
drift gate (which the engine itself produced) to an independent derivation.
"""

from __future__ import annotations

import pathlib

import pandas as pd
import pytest

from oracle_collapse import oracle_collapse

REF_META = "/root/reference/example_inputs/metadata.txt"
REF_DATA = "/root/reference/example_inputs/microbiome_data.txt"

FLAGS = ["passed_filters", "winner", "sf_winner", "highly_correlated", "lost_rf"]


def _assert_states_equal(state: pd.DataFrame, ostate: pd.DataFrame) -> None:
    assert set(state["path"]) == set(ostate["path"])
    for col in FLAGS:
        engine_set = set(state.loc[state[col], "path"])
        oracle_set = set(ostate.loc[ostate[col], "path"])
        assert engine_set == oracle_set, (
            f"{col}: engine-only={sorted(engine_set - oracle_set)[:5]} "
            f"oracle-only={sorted(oracle_set - engine_set)[:5]}"
        )


def test_collapse_matches_independent_oracle_sf0001(spark, sf_dir):
    """Flagship sf0.001 supplier hierarchy, q_hfe_collapse params."""
    import __spark_entry__ as em
    from taxahfe_spark.operators.competition import CompetitionParams
    from taxahfe_spark.pipeline import taxa_hfe

    long, meta = em.supplier_hierarchy(spark, sf_dir)
    params = CompetitionParams(
        lowest_level=1, nperm=4, num_trees=5, seed=42,
        super_filter_nperm_factor=4,
    )
    _, state = taxa_hfe(meta, long, params=params, filter_prevalence=0.05)
    ostate = oracle_collapse(
        meta.toPandas(), long.toPandas(),
        filter_prevalence=0.05, lowest_level=1, nperm=4, num_trees=5,
        seed=42, super_filter_nperm_factor=4,
    )
    _assert_states_equal(state, ostate)


def _seeded_example(spark):
    """The reference example's shape without its files: the seeded 7-level
    tests/deep_tree taxonomy over 80 entities (more than the 64 quantile
    bins, so binning merges rows) and a seeded binary label."""
    import numpy as np

    from deep_tree import deep_tree_long

    long_pdf = deep_tree_long(seed=2026, n_entities=80)
    entities = sorted(long_pdf["entity_id"].unique())
    meta_pdf = pd.DataFrame(
        {
            "subject_id": entities,
            "feature_of_interest": np.random.default_rng(2026).choice(
                ["a", "b"], len(entities)
            ),
        }
    )
    return (
        spark.createDataFrame(meta_pdf), spark.createDataFrame(long_pdf),
        meta_pdf, long_pdf,
    )


def _reference_example(spark):
    """The reference's own 288x1187 microbiome example (1190 nodes)."""
    from taxahfe_spark.pipeline import read_hierarchical_data, read_metadata
    from taxahfe_spark.taxonomy import melt_wide_matrix

    meta_pdf = (
        pd.read_csv(REF_META, sep="\t")
        .rename(columns={"Sample": "subject_id", "Category": "feature_of_interest"})
        .dropna()
    )
    wide_pdf = pd.read_csv(REF_DATA, sep="\t")
    wide_pdf = wide_pdf.drop(
        columns=[c for c in ("NCBI_tax_id", "clade_taxid") if c in wide_pdf.columns]
    )
    long_pdf = wide_pdf.melt(
        id_vars=["clade_name"], var_name="entity_id", value_name="value"
    )
    return (
        read_metadata(spark, REF_META, "Sample", "Category"),
        melt_wide_matrix(read_hierarchical_data(spark, REF_DATA)),
        meta_pdf, long_pdf,
    )


@pytest.mark.parametrize(
    "lane",
    [
        "seeded",
        pytest.param(
            "reference",
            marks=pytest.mark.skipif(
                not pathlib.Path(REF_DATA).exists(),
                reason="reference example inputs absent",
            ),
        ),
    ],
)
def test_collapse_matches_independent_oracle_reference_example(spark, lane):
    """The reference example's settings (reduced forest params — this is a
    dual-implementation equality check, any params qualify), in reference
    levels, on a seeded stand-in and on the reference's own files; all five
    flag sets must match exactly."""
    from taxahfe_spark.operators.competition import CompetitionParams
    from taxahfe_spark.pipeline import taxa_hfe

    example = _seeded_example if lane == "seeded" else _reference_example
    meta, long, meta_pdf, long_pdf = example(spark)
    params = CompetitionParams(
        lowest_level=3, max_level=15, nperm=2, num_trees=10, seed=1234,
        super_filter_nperm_factor=2,
    )
    _, state = taxa_hfe(meta, long, params=params, from_reference_levels=True)
    ostate = oracle_collapse(
        meta_pdf, long_pdf, lowest_level=2, max_level=14, nperm=2,
        num_trees=10, seed=1234, super_filter_nperm_factor=2,
    )
    _assert_states_equal(state, ostate)


def test_committed_golden_certified_by_independent_oracle(spark):
    """The frozen sf0.01 golden served to the driver gate
    (taxahfe_spark/golden/, __spark_entry__._hfe_collapse_oracle) must be
    certified by the INDEPENDENT implementation, not only by the engine
    that produced it: winner columns = the oracle's winner set, and every
    matrix value = the oracle's independently-computed rollup vector.
    tools/regen_golden.py enforces the same check at freeze time; this
    test keeps it continuously true for the COMMITTED artifact."""
    import gzip
    import json

    import numpy as np

    import __spark_entry__ as em

    long, meta = em.supplier_hierarchy(spark, "/root/testdata/sf0.01")
    ostate = oracle_collapse(
        meta.toPandas(), long.toPandas(),
        filter_prevalence=0.05, lowest_level=1, nperm=4, num_trees=5,
        seed=42, super_filter_nperm_factor=4,
    )
    golden = (
        pathlib.Path(__file__).resolve().parent.parent
        / "taxahfe_spark" / "golden" / "hfe_collapse_sf001.json.gz"
    )
    with gzip.open(golden, "rt") as f:
        g = json.load(f)
    gpdf = pd.DataFrame(g["rows"], columns=g["columns"])
    feat_cols = [
        c for c in g["columns"] if c not in ("subject_id", "feature_of_interest")
    ]
    # decision chain: golden columns == oracle winner set (path '|' -> '_')
    assert {p.replace("|", "_") for p in ostate.loc[ostate["winner"], "path"]} == set(
        feat_cols
    )
    # values: every winner column equals the oracle's own rollup vector
    from oracle_collapse import clean_entity, clean_path, rollup

    meta_pdf = meta.toPandas()
    meta_pdf["subject_id"] = meta_pdf["subject_id"].map(clean_entity)
    long_pdf = long.toPandas()
    lp = pd.DataFrame(
        {
            "path": long_pdf["clade_name"].map(clean_path),
            "entity_id": long_pdf["entity_id"].map(clean_entity),
            "value": long_pdf["value"].astype(np.float64),
        }
    )
    present = set(lp["entity_id"])
    entities = [s for s in meta_pdf["subject_id"] if s in present]
    vec = rollup(lp, entities)
    order = gpdf["subject_id"].astype(str).map({s: i for i, s in enumerate(entities)})
    assert order.notna().all()
    idx = order.to_numpy(int)
    for col in feat_cols:
        path = next(
            p for p in ostate["path"] if p.replace("|", "_") == col
        )
        assert np.allclose(
            gpdf[col].to_numpy(np.float64), vec[path][idx]
        ), f"value mismatch in column {col}"
