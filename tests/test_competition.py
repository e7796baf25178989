"""Competition semantics tests — each reference one-character trap unit-tested.

Reference semantics under test (lib/tree.R:457-850):
- corr >= threshold prunes (signed); all-pruned -> parent wins
- filter-failed nodes never win but stay transparent to ancestors
- no-children / no-descendant-winners auto-wins
- RF: informative child beats noise parent; winners are an antichain
- deterministic across runs
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from taxahfe_spark.operators.competition import (
    CompetitionParams,
    TreeCompetition,
    _corr_with_parent,
    _decide_final,
    _decide_parent_descendant,
)
from taxahfe_spark.operators.filters import feature_filter_flags
from taxahfe_spark.taxonomy import hierarchical_rollup, to_feature_vectors

N = 60
RNG = np.random.default_rng(7)
ENTITIES = [f"s{i}" for i in range(N)]
LABEL = np.array(["a"] * (N // 2) + ["b"] * (N - N // 2))


def _long_rows():
    """Synthesize a tree with known competition outcomes.

    k__a|p__cor|c__dup : duplicate of its parent's rollup -> corr-pruned
    k__a|p__sig|c__hit : strongly separates the label -> should beat parent
    k__a|p__sig|c__junk: noise
    k__b|p__solo       : no children -> auto-win
    k__c|p__weak       : fails prevalence filter (all zeros except 1 entity)
    k__c|p__weak|c__deep: informative; its winner must stay visible through
                          the filtered parent to k__c
    """
    rows = []
    sig = np.where(LABEL == "a", 5.0, 0.5) + RNG.normal(0, 0.1, N)
    junk = np.abs(RNG.normal(1, 0.3, N))
    dup = np.abs(RNG.normal(2, 0.5, N))
    solo = np.abs(RNG.normal(1, 0.2, N))
    deep = np.where(LABEL == "a", 0.2, 4.0) + RNG.normal(0, 0.1, N)
    weak = np.zeros(N)
    weak[0] = 0.001
    for i, e in enumerate(ENTITIES):
        rows.append(("k__a|p__cor|c__dup", e, float(dup[i])))
        rows.append(("k__a|p__sig|c__hit", e, float(sig[i])))
        rows.append(("k__a|p__sig|c__junk", e, float(junk[i])))
        rows.append(("k__b|p__solo", e, float(solo[i])))
        rows.append(("k__c|p__weak", e, float(weak[i])))
        rows.append(("k__c|p__weak|c__deep", e, float(deep[i])))
    return rows


@pytest.fixture(scope="module")
def competition_state(spark):
    long = spark.createDataFrame(
        _long_rows(), "clade_name string, entity_id string, value double"
    )
    resolved = hierarchical_rollup(long).persist()
    flags = feature_filter_flags(resolved, N, 0.1, 0.0)
    flags_pdf = flags.select("path", "level", "passed_filters").toPandas()
    vectors = to_feature_vectors(resolved, ENTITIES)
    params = CompetitionParams(
        lowest_level=1, max_level=14, nperm=2, num_trees=40, seed=11
    )
    comp = TreeCompetition(vectors, flags_pdf, LABEL, None, params)
    state = comp.run().set_index("path")
    return state


def test_corr_prune_and_parent_win(competition_state):
    s = competition_state
    # p__cor's only child is its own duplicate (parent = rollup of child,
    # r == 1 >= 0.95) -> child pruned, parent wins via all-correlated
    assert bool(s.loc["k__a|p__cor|c__dup", "highly_correlated"]) is True
    assert bool(s.loc["k__a|p__cor|c__dup", "winner"]) is False
    assert "highly correlated" in s.loc["k__a|p__cor|c__dup", "outcomes"]


def test_signal_lineage_wins(competition_state):
    s = competition_state
    # c__hit carries the signal; because the parent rollup p__sig = hit+junk
    # is dominated by hit's variance, corr-pruning collapses the lineage
    # upward — the WIN must survive somewhere on the hit lineage
    lineage = ["k__a|p__sig|c__hit", "k__a|p__sig", "k__a"]
    assert any(bool(s.loc[p, "winner"]) for p in lineage)
    # junk never wins the tree
    assert bool(s.loc["k__a|p__sig|c__junk", "winner"]) is False
    assert bool(s.loc["k__a|p__sig|c__junk", "lost_rf"]) is True


def test_deep_signal_survives_super_filter(competition_state):
    s = competition_state
    # c__deep (informative, under a filter-failed parent) must survive to the
    # super filter and win it
    assert bool(s.loc["k__c|p__weak|c__deep", "winner"]) is True
    assert bool(s.loc["k__c|p__weak|c__deep", "sf_winner"]) is True


def test_no_children_auto_win(competition_state):
    s = competition_state
    assert "win: no children" in s.loc["k__b|p__solo", "outcomes"]


def test_filter_gate_and_transparency(competition_state):
    s = competition_state
    # p__weak fails prevalence (1/60 nonzero, threshold 0.1 -> needs > 6)
    assert bool(s.loc["k__c|p__weak", "passed_filters"]) is False
    assert "did not pass filters" in s.loc["k__c|p__weak", "outcomes"]
    assert bool(s.loc["k__c|p__weak", "winner"]) is False
    # but its child's win is visible to k__c: k__c must NOT be
    # "no descendant winners" (c__deep competed against it)
    assert "win: no descendant winners" not in s.loc["k__c", "outcomes"]


def test_winner_antichain(competition_state):
    s = competition_state
    winners = [p for p in s.index if s.loc[p, "winner"]]
    for a in winners:
        for b in winners:
            assert a == b or not b.startswith(a + "|"), (a, b)


def test_deterministic(spark, competition_state):
    long = spark.createDataFrame(
        _long_rows(), "clade_name string, entity_id string, value double"
    )
    resolved = hierarchical_rollup(long)
    flags_pdf = (
        feature_filter_flags(resolved, N, 0.1, 0.0)
        .select("path", "level", "passed_filters")
        .toPandas()
    )
    vectors = to_feature_vectors(resolved, ENTITIES)
    params = CompetitionParams(
        lowest_level=1, max_level=14, nperm=2, num_trees=40, seed=11
    )
    state2 = (
        TreeCompetition(vectors, flags_pdf, LABEL, None, params)
        .run()
        .set_index("path")
    )
    pd.testing.assert_frame_equal(
        competition_state.sort_index(), state2.sort_index()
    )


def test_design_sample_frac_deterministic(spark, competition_state):
    """Entity-dimension bound: frac < 1 hash-subsamples entity positions in
    every design — deterministic across runs, and the strong signal still
    wins at 70% sampling."""
    long = spark.createDataFrame(
        _long_rows(), "clade_name string, entity_id string, value double"
    )
    resolved = hierarchical_rollup(long)
    flags_pdf = (
        feature_filter_flags(resolved, N, 0.1, 0.0)
        .select("path", "level", "passed_filters")
        .toPandas()
    )
    vectors = to_feature_vectors(resolved, ENTITIES)
    params = CompetitionParams(
        lowest_level=1, max_level=14, nperm=2, num_trees=40, seed=11,
        design_sample_frac=0.7,
    )
    s1 = TreeCompetition(vectors, flags_pdf, LABEL, None, params).run().set_index("path")
    s2 = TreeCompetition(vectors, flags_pdf, LABEL, None, params).run().set_index("path")
    pd.testing.assert_frame_equal(s1.sort_index(), s2.sort_index())
    lineage = ["k__a|p__sig|c__hit", "k__a|p__sig", "k__a"]
    assert any(bool(s1.loc[p, "winner"]) for p in lineage)
    assert bool(s1.loc["k__a|p__sig|c__junk", "winner"]) is False


def test_fingerprint_covers_design_data(spark, tmp_path, competition_state):
    """Resume safety (ADVICE r2): changing the label under an unchanged
    taxonomy must invalidate the resume fingerprint, not mix stale winners."""
    long = spark.createDataFrame(
        _long_rows(), "clade_name string, entity_id string, value double"
    )
    resolved = hierarchical_rollup(long)
    flags_pdf = (
        feature_filter_flags(resolved, N, 0.1, 0.0)
        .select("path", "level", "passed_filters")
        .toPandas()
    )
    vectors = to_feature_vectors(resolved, ENTITIES)
    params = CompetitionParams(
        lowest_level=1, max_level=14, nperm=2, num_trees=40, seed=11
    )
    c1 = TreeCompetition(vectors, flags_pdf, LABEL, None, params)
    flipped = np.array(list(LABEL[::-1]))
    c2 = TreeCompetition(vectors, flags_pdf, flipped, None, params)
    assert c1._run_fingerprint() != c2._run_fingerprint()
    # covariates change the fingerprint too
    cov = np.ones((N, 1))
    c3 = TreeCompetition(vectors, flags_pdf, LABEL, cov, params)
    assert c1._run_fingerprint() != c3._run_fingerprint()


# ---- pure decision-rule unit tests (no spark) ------------------------------


def test_decide_tie_nudge_parent_in_top2():
    # tie on top-2 with parent tied -> parent nudged +1e-6 -> parent top-1 wins
    names = ["parent", "c1", "c2"]
    imp = np.array([0.5, 0.5, 0.1])
    assert _decide_parent_descendant(names, imp, "parent") == ["parent"]


def test_decide_tie_without_parent():
    # top-2 tied children, parent below: children >= parent win, parent loses
    names = ["parent", "c1", "c2"]
    imp = np.array([0.1, 0.5, 0.5])
    assert sorted(_decide_parent_descendant(names, imp, "parent")) == ["c1", "c2"]


def test_decide_children_equal_parent_win():
    # child importance == parent -> child kept (reference drops only < parent)
    names = ["parent", "c1", "c2"]
    imp = np.array([0.3, 0.3, 0.2])
    # top-2 tie triggers nudge and parent wins here (parent in top 2)
    assert _decide_parent_descendant(names, imp, "parent") == ["parent"]
    imp2 = np.array([0.3, 0.4, 0.3])
    assert _decide_parent_descendant(names, imp2, "parent") == ["c1", "c2"]


def test_decide_final_mode():
    names = ["a", "b", "c", "d"]
    imp = np.array([1.0, 0.5, -0.2, 0.1])  # mean 0.35
    assert _decide_final(names, imp) == ["a", "b"]
    assert _decide_final(["a", "b"], np.array([0.0, 0.0])) == []


def test_corr_nan_does_not_prune():
    mat = np.column_stack([np.ones(10), np.arange(10), np.ones(10) * 3])
    r = _corr_with_parent(mat, "pearson")  # parent constant -> all NaN
    assert np.isnan(r).all()


def test_corr_spearman_monotone():
    x = np.arange(20, dtype=float)
    mat = np.column_stack([x, np.exp(x / 5)])  # nonlinear but monotone
    r_p = _corr_with_parent(mat, "pearson")[0]
    r_s = _corr_with_parent(mat, "spearman")[0]
    assert r_s == pytest.approx(1.0)
    assert r_p < 1.0


def test_shuffle_strategy_identical(spark, competition_state, monkeypatch):
    """The 100 TB vector path (applyInPandas over a distributed join, no
    driver collect) must produce bit-identical decisions and outcomes —
    also when the vectors arrive as a driver tree's dict. A zero broadcast
    budget forces that path."""
    from taxahfe_spark.operators import competition
    from taxahfe_spark.taxonomy import resolve_tree

    monkeypatch.setattr(competition, "BROADCAST_MAX_BYTES", 0)

    long = spark.createDataFrame(
        _long_rows(), "clade_name string, entity_id string, value double"
    )
    resolved = hierarchical_rollup(long)
    flags_pdf = (
        feature_filter_flags(resolved, N, 0.1, 0.0)
        .select("path", "level", "passed_filters")
        .toPandas()
    )
    vectors = to_feature_vectors(resolved, ENTITIES)
    params = CompetitionParams(
        lowest_level=1, max_level=14, nperm=2, num_trees=40, seed=11,
    )
    for vecs in (vectors, resolve_tree(long, entity_order=ENTITIES).vectors):
        comp = TreeCompetition(vecs, flags_pdf, LABEL, None, params)
        assert comp.strategy == "shuffle"
        state2 = comp.run().set_index("path")
        pd.testing.assert_frame_equal(
            competition_state.sort_index(), state2.sort_index()
        )


def test_corr_only_mode_deterministic_collapse(spark):
    """corr_only: survivors win, parent loses; pruned lose; no RF, no SF."""
    long = spark.createDataFrame(
        _long_rows(), "clade_name string, entity_id string, value double"
    )
    resolved = hierarchical_rollup(long)
    flags_pdf = (
        feature_filter_flags(resolved, N, 0.1, 0.0)
        .select("path", "level", "passed_filters")
        .toPandas()
    )
    vectors = to_feature_vectors(resolved, ENTITIES)
    params = CompetitionParams(
        lowest_level=1, max_level=14, seed=11, competition_mode="corr_only",
        disable_super_filter=True,
    )
    s = (
        TreeCompetition(vectors, flags_pdf, LABEL, None, params)
        .run()
        .set_index("path")
    )
    # duplicate child pruned -> parent wins via all-correlated
    assert bool(s.loc["k__a|p__cor|c__dup", "highly_correlated"]) is True
    assert bool(s.loc["k__a|p__cor", "winner"]) is True
    # leaf auto-wins, no RF losses anywhere, fully deterministic
    assert not s["lost_rf"].any()
    assert not s["sf_winner"].any()


def test_collapse_matches_frozen_golden(spark):
    """Drift gate for the constant-VALUES driver oracle: the full RF collapse
    at sf0.01 must reproduce the committed golden bit-for-bit (the engine is
    seed-deterministic, so any diff is a semantic change — regenerate with
    tools/regen_golden.py ONLY when intentional)."""
    import gzip
    import json
    import os

    path = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "taxahfe_spark", "golden", "hfe_collapse_sf001.json.gz",
    )
    if not os.path.exists("/root/testdata/sf0.01"):
        pytest.skip("driver testdata not present")
    import __spark_entry__ as em

    df = em.q_hfe_collapse(spark, "/root/testdata/sf0.01")
    with gzip.open(path, "rt") as f:
        g = json.load(f)
    assert df.columns == g["columns"]
    rows = [[r[c] for c in df.columns] for r in df.collect()]
    rows.sort(key=lambda x: str(x[0]))
    assert len(rows) == len(g["rows"])
    for got, want in zip(rows, g["rows"]):
        assert got[0] == want[0]
        for gv, wv in zip(got[1:], want[1:]):
            assert gv == pytest.approx(wv, abs=1e-9)


def test_forkless_platform_takes_spark_stage_with_same_state(spark, monkeypatch):
    """The run's driver pool forks ``defaultParallelism`` children. Where
    the platform offers no ``fork`` start method, or the pool itself fails
    (``OSError``), every stage moves to Spark with a RuntimeWarning, and the
    state equals the fork-pool run's."""
    import multiprocessing
    from multiprocessing import context

    long = spark.createDataFrame(
        _long_rows(), "clade_name string, entity_id string, value double"
    )
    resolved = hierarchical_rollup(long)
    flags_pdf = (
        feature_filter_flags(resolved, N, 0.1, 0.0)
        .select("path", "level", "passed_filters")
        .toPandas()
    )
    vectors = to_feature_vectors(resolved, ENTITIES)
    params = CompetitionParams(
        lowest_level=1, max_level=14, nperm=2, num_trees=10, seed=5
    )
    real_pool = context.BaseContext.Pool
    sizes = []

    def spy(self, processes=None, *args, **kwargs):
        sizes.append(processes)
        return real_pool(self, processes, *args, **kwargs)

    monkeypatch.setattr(context.BaseContext, "Pool", spy)
    forked = TreeCompetition(vectors, flags_pdf, LABEL, None, params).run()
    # the reference run forked one pool, at the session's parallelism
    assert sizes == [spark.sparkContext.defaultParallelism]

    monkeypatch.setattr(
        multiprocessing, "get_all_start_methods", lambda: ["spawn"]
    )
    with pytest.warns(RuntimeWarning, match="running the stage on Spark"):
        staged = TreeCompetition(vectors, flags_pdf, LABEL, None, params).run()
    pd.testing.assert_frame_equal(forked, staged)
    assert len(sizes) == 1  # no pool was forked

    monkeypatch.undo()

    def pool_fails(self, processes=None, *args, **kwargs):
        raise OSError("cannot start the fork pool")

    monkeypatch.setattr(context.BaseContext, "Pool", pool_fails)
    with pytest.warns(RuntimeWarning, match="running the stage on Spark"):
        fell_back = TreeCompetition(vectors, flags_pdf, LABEL, None, params).run()
    pd.testing.assert_frame_equal(forked, fell_back)


def test_runs_in_one_process_never_share_prepared_designs(spark):
    """Two competitions in one process whose designs agree in their first
    64 entities and differ after them: each stage's importances are the
    ones a fresh fit of its own design gives (a memo keyed on a prefix of
    the design handed the second run the first run's bin codes)."""
    from taxahfe_spark.operators.competition import group_seed, make_importance_runner

    n = 100
    rng = np.random.default_rng(3)
    label = np.array(["a", "b"] * (n // 2))
    names = ["k__p", "k__p|c__x", "k__p|c__y"]
    first = rng.random((n, 3))
    flags = pd.DataFrame({"path": names, "level": [1, 2, 2], "passed_filters": True})
    params = CompetitionParams(lowest_level=1, nperm=1, num_trees=20, seed=11)
    for run in range(2):
        dense = first.copy()
        if run:
            dense[64:] = rng.random((n - 64, 3))
        vecs = {
            path: (np.arange(n, dtype=np.int32), dense[:, j])
            for j, path in enumerate(names)
        }
        comp = TreeCompetition(vecs, flags, label, None, params)
        try:
            _, imps = comp._run_stage({"k__p": ("k__p", names[1:])}, 1)
        finally:
            comp.close()
        fresh = make_importance_runner(dense, label, None, None, None, params)(
            group_seed(params.seed, "k__p")
        )
        assert [imps["k__p"][path] for path in names] == list(fresh), run


def test_distributed_broadcast_stage_is_one_spark_job(
    spark, competition_state, monkeypatch
):
    """Under TAXAHFE_DISTRIBUTED=1 every competition stage runs on Spark;
    a broadcast-strategy stage reads its task list from the runner's
    closure, so it runs ONE Spark job (no exchange before ``mapInPandas``)
    and the state equals the fork-pool run's."""
    monkeypatch.setenv("TAXAHFE_DISTRIBUTED", "1")
    long = spark.createDataFrame(
        _long_rows(), "clade_name string, entity_id string, value double"
    )
    resolved = hierarchical_rollup(long)
    flags_pdf = (
        feature_filter_flags(resolved, N, 0.1, 0.0)
        .select("path", "level", "passed_filters")
        .toPandas()
    )
    vectors = to_feature_vectors(resolved, ENTITIES)
    params = CompetitionParams(
        lowest_level=1, max_level=14, nperm=2, num_trees=40, seed=11
    )
    tracker = spark.sparkContext.statusTracker()
    run_stage_spark = TreeCompetition._run_stage_spark
    jobs_per_stage = []

    def counting(self, tasks):
        before = max(tracker.getJobIdsForGroup() or [0])
        rows = run_stage_spark(self, tasks)
        jobs_per_stage.append(max(tracker.getJobIdsForGroup() or [0]) - before)
        return rows

    monkeypatch.setattr(TreeCompetition, "_run_stage_spark", counting)
    comp = TreeCompetition(vectors, flags_pdf, LABEL, None, params)
    assert comp.strategy == "broadcast"
    state = comp.run().set_index("path")
    comp.close()
    assert jobs_per_stage and set(jobs_per_stage) == {1}, jobs_per_stage
    pd.testing.assert_frame_equal(competition_state.sort_index(), state.sort_index())
