"""End-to-end parity run on the reference's OWN bundled example data
(/root/reference/example_inputs, read-only): 1,188 MetaPhlAn feature rows x
274 sample columns + 289 metadata rows (the docs' "288 samples" matches
neither file exactly; expectations below derive from the files), depths 1-7
— the de-facto test dataset of the reference (taxahfe.md:112: "a dataset we
use to test taxaHFE").

The R reference publishes no golden output files, so assertions cover the
deterministic contracts: scan shapes, tree structure (depth histogram
{4,14,27,45,88,243,767}; exactly TWO ancestors are missing from the file —
the caudovirales lineage — which exercises fix_unpopulated_node synthesis on
the reference's own data), rollup conservation (observed rows preserved
verbatim, the two missing ancestors synthesized as child sums), filter
counts against an independent pandas computation, and a full competition
producing a winner antichain +
reference-shaped collapsed output matrix with reference CLI defaults
(lowest_level=3, max_level=15, cor=0.95, prevalence=0.01, abundance=0).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

REF = "/root/reference/example_inputs"

pytestmark = pytest.mark.skipif(
    not __import__("os").path.exists(f"{REF}/microbiome_data.txt"),
    reason="reference example data not present",
)


@pytest.fixture(scope="module")
def ref_frames(spark):
    from taxahfe_spark.pipeline import read_hierarchical_data, read_metadata

    meta = read_metadata(spark, f"{REF}/metadata.txt", "Sample", "Category")
    wide = read_hierarchical_data(spark, f"{REF}/microbiome_data.txt")
    return meta, wide


def test_scan_shapes(ref_frames):
    meta, wide = ref_frames
    assert meta.count() == 289
    assert meta.columns == ["subject_id", "feature_of_interest"]
    assert wide.count() == 1188  # depth histogram sums to 1,188
    assert len(wide.columns) == 275  # clade_name + 274 sample columns


def test_tree_structure_matches_reference_histogram(spark, ref_frames):
    from taxahfe_spark.naming import clean_value_col
    from taxahfe_spark.taxonomy import melt_wide_matrix, missing_runs

    _, wide = ref_frames
    long = melt_wide_matrix(wide)
    observed = {
        r["path"]
        for r in long.select(clean_value_col("clade_name").alias("path"))
        .distinct()
        .collect()
    }
    # the missing ancestors both rollup paths synthesize
    missing = {a for run in missing_runs(observed).values() for a in run}
    nodes = observed | missing
    # measured file depth distribution {4,14,27,45,88,243,767} plus the two
    # synthesized caudovirales ancestors at levels 4 and 5
    hist = pd.Series([p.count("|") + 1 for p in nodes]).value_counts().to_dict()
    assert hist == {1: 4, 2: 14, 3: 27, 4: 46, 5: 89, 6: 243, 7: 767}
    # every node's parent exists (except roots): ancestor closure complete
    for p in nodes:
        if "|" in p:
            assert p.rsplit("|", 1)[0] in nodes
    # exactly two ancestors are NOT observed rows in the file (the
    # caudovirales lineage)
    assert sorted(missing) == [
        "k__viruses|p__viruses_unclassified|c__viruses_unclassified|o__caudovirales",
        "k__viruses|p__viruses_unclassified|c__viruses_unclassified|o__caudovirales|f__myoviridae",
    ]


def test_rollup_preserves_observed_rows_exactly(spark, ref_frames):
    from taxahfe_spark.taxonomy import hierarchical_rollup, melt_wide_matrix

    _, wide = ref_frames
    long = melt_wide_matrix(wide)
    resolved = hierarchical_rollup(long).cache()
    # the two missing caudovirales ancestors are synthesized (one row per
    # sample each); everything else is observed verbatim
    synth = resolved.filter("NOT observed")
    n_samples = len(wide.columns) - 1
    assert synth.count() == 2 * n_samples
    assert set(
        r["path"].rsplit("|", 1)[-1] for r in synth.select("path").distinct().collect()
    ) == {"o__caudovirales", "f__myoviridae"}
    # synthesized parent == sum of children (fix_unpopulated_node semantics)
    myo = {
        r["entity_id"]: r["value"]
        for r in resolved.filter(
            "path = 'k__viruses|p__viruses_unclassified|c__viruses_unclassified|o__caudovirales|f__myoviridae'"
        ).collect()
    }
    child_sum = {}
    for r in resolved.filter(
        "path LIKE 'k__viruses|p__viruses_unclassified|c__viruses_unclassified|o__caudovirales|f__myoviridae|%' AND level = 6"
    ).collect():
        child_sum[r["entity_id"]] = child_sum.get(r["entity_id"], 0.0) + r["value"]
    for e, v in child_sum.items():
        assert myo[e] == pytest.approx(v)
    resolved = resolved.filter("observed")
    got = {
        (r["path"], r["entity_id"]): r["value"]
        for r in resolved.filter("value != 0").collect()
    }
    pdf = wide.toPandas()
    expect = {}
    for _, row in pdf.iterrows():
        path = "".join(
            ch for ch in str(row["clade_name"]).lower() if ch.isalnum() or ch in "_|"
        )
        for c in pdf.columns[1:]:
            v = float(row[c])
            if v != 0.0:
                expect[(path, c)] = v  # melt keeps raw entity ids
    assert len(got) == len(expect)
    for k, v in list(expect.items())[:2000]:
        assert got[k] == pytest.approx(v)


def test_filters_match_pandas_oracle(spark, ref_frames):
    from taxahfe_spark.operators.filters import feature_filter_flags
    from taxahfe_spark.taxonomy import hierarchical_rollup, melt_wide_matrix

    _, wide = ref_frames
    long = melt_wide_matrix(wide)
    resolved = hierarchical_rollup(long)
    n_samples = len(wide.columns) - 1
    flags = feature_filter_flags(resolved, n_samples, 0.01, 0.0).toPandas()

    pdf = wide.toPandas()
    vals = pdf.iloc[:, 1:].astype(float).to_numpy()
    prev_pass = (vals != 0).sum(axis=1) > n_samples * 0.01
    abund_pass = vals.mean(axis=1) > 0.0
    expect_pass = int((prev_pass & abund_pass).sum())
    # flags cover the 1,188 observed nodes + 2 synthesized ancestors;
    # compare the observed subset against the pandas oracle
    obs_paths = set(
        "".join(ch for ch in str(c).lower() if ch.isalnum() or ch in "_|")
        for c in pdf["clade_name"]
    )
    obs_flags = flags[flags["path"].isin(obs_paths)]
    assert int(obs_flags["passed_filters"].sum()) == expect_pass
    # both synthesized caudovirales ancestors carry real virus abundance
    synth_flags = flags[~flags["path"].isin(obs_paths)]
    assert len(synth_flags) == 2 and bool(synth_flags["passed_filters"].all())


def test_full_reference_run_collapses(spark, ref_frames):
    """Full HFE with reference CLI defaults; structural assertions (the RF
    winner SET is engine-specific per SURVEY.md §7.2(5), the shape is not)."""
    from taxahfe_spark.operators.competition import CompetitionParams
    from taxahfe_spark.pipeline import taxa_hfe, winner_feature_matrix
    from taxahfe_spark.taxonomy import melt_wide_matrix

    meta, wide = ref_frames
    # reference CLI defaults (lowest_level=3, max_level=15, cor 0.95) with
    # the documented example seed 1234 (taxahfe.md:131)
    params = CompetitionParams(
        lowest_level=3, max_level=15, corr_threshold=0.95,
        nperm=2, num_trees=25, seed=1234,
    )
    tree, state = taxa_hfe(
        meta, melt_wide_matrix(wide), params=params,
        filter_prevalence=0.01, filter_mean_abundance=0.0,
        from_reference_levels=True,
    )
    winners = state[state["winner"]]
    assert 1 <= len(winners) <= 400  # collapsed well below 1,188 inputs
    # winner antichain
    wset = list(winners["path"])
    for a in wset:
        for b in wset:
            assert a == b or not b.startswith(a + "|")
    # reference level gate: nothing below CLI lowest_level 3 (2 segments)
    # may win, nothing above max_level 15
    assert (winners["level"] >= 2).all()
    from taxahfe_spark.naming import clean_entity

    matrix_samples = {clean_entity(c) for c in wide.columns[1:]}
    meta_samples = {
        clean_entity(r["subject_id"]) for r in meta.select("subject_id").collect()
    }
    m = winner_feature_matrix(tree, state, metadata=meta)
    assert m.count() == len(matrix_samples & meta_samples)
    assert len(m.columns) == len(winners) + 2  # subject_id + label
    # determinism across runs
    _, state2 = taxa_hfe(
        meta, melt_wide_matrix(wide), params=params,
        filter_prevalence=0.01, filter_mean_abundance=0.0,
        from_reference_levels=True,
    )
    pd.testing.assert_frame_equal(state, state2)
