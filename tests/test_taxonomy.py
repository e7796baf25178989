"""Golden tests for the observed-wins hierarchical rollup vs a pandas oracle.

Mirrors reference semantics at lib/tree.R:372-449: missing ancestors are the
elementwise sum of resolved children (transitive); observed rows are never
overwritten; absent (path, entity) pairs are zeros.
"""

from __future__ import annotations

import pandas as pd
import pytest

from taxahfe_spark.taxonomy import (
    hierarchical_rollup,
    melt_wide_matrix,
    path_level,
    to_feature_vectors,
)

ENTITIES = ["s1", "s2", "s3", "s4"]

# wide fixture: observed leaf rows + one observed mid-level row whose values
# deliberately disagree with the sum of its children ("observed wins"), and a
# missing ancestor (k__b) that must be synthesized two levels up transitively.
WIDE_ROWS = [
    # clade_name, s1, s2, s3, s4
    ("k__a|p__x|c__m", 1.0, 0.0, 2.0, 0.0),
    ("k__a|p__x|c__n", 0.5, 0.5, 0.0, 0.0),
    ("k__a|p__x", 9.0, 9.0, 9.0, 9.0),  # observed parent != sum(children)
    ("k__a|p__y", 1.0, 1.0, 0.0, 1.0),
    ("k__b|p__z|c__q", 2.0, 0.0, 0.0, 4.0),
]


def pandas_oracle() -> dict[tuple[str, str], float]:
    """Independent pure-pandas computation of the resolved (path, entity) values."""
    rows = {}
    for clade, *vals in WIDE_ROWS:
        rows[clade] = dict(zip(ENTITIES, vals))
    # all node paths
    paths = set()
    for clade in rows:
        parts = clade.split("|")
        for k in range(1, len(parts) + 1):
            paths.add("|".join(parts[:k]))
    resolved: dict[str, dict[str, float]] = {}
    for depth in sorted({p.count("|") + 1 for p in paths}, reverse=True):
        for p in [q for q in paths if q.count("|") + 1 == depth]:
            if p in rows:
                resolved[p] = dict(rows[p])
            else:
                acc = {e: 0.0 for e in ENTITIES}
                for child, vals in resolved.items():
                    if child.rsplit("|", 1)[0] == p and child != p:
                        for e in ENTITIES:
                            acc[e] += vals.get(e, 0.0)
                resolved[p] = acc
    return {
        (p, e): v for p, vals in resolved.items() for e, v in vals.items() if v != 0.0
    }


@pytest.fixture(scope="module")
def resolved(spark):
    wide = spark.createDataFrame(list(WIDE_ROWS), ["clade_name"] + ENTITIES)
    long = melt_wide_matrix(wide)
    return hierarchical_rollup(long).cache()


def test_rollup_matches_pandas_oracle(resolved):
    got = {
        (r["path"], r["entity_id"]): r["value"]
        for r in resolved.collect()
        if r["value"] != 0.0
    }
    expect = pandas_oracle()
    assert got == expect


def test_observed_wins(resolved):
    # k__a|p__x was observed with 9s — rollup (1.5, 0.5, 2.0, 0.0) must not override
    vals = {
        r["entity_id"]: r["value"]
        for r in resolved.filter("path = 'k__a|p__x'").collect()
    }
    assert vals == {e: 9.0 for e in ENTITIES}
    obs = resolved.filter("path = 'k__a|p__x'").select("observed").distinct().collect()
    assert [r["observed"] for r in obs] == [True]


def test_transitive_synthesis(resolved):
    # k__b missing at levels 1 and 2: k__b|p__z = sum(c__q), k__b = sum(p__z)
    vals = {
        (r["path"], r["entity_id"]): r["value"]
        for r in resolved.filter("path in ('k__b', 'k__b|p__z')").collect()
    }
    assert vals[("k__b", "s1")] == 2.0
    assert vals[("k__b", "s4")] == 4.0
    assert vals[("k__b|p__z", "s1")] == 2.0
    obs = resolved.filter("path = 'k__b'").select("observed").first()["observed"]
    assert obs is False


def test_root_level_sum_uses_observed_parent(resolved):
    # k__a = k__a|p__x (observed 9s) + k__a|p__y — NOT the leaf sums
    vals = {
        r["entity_id"]: r["value"] for r in resolved.filter("path = 'k__a'").collect()
    }
    assert vals["s1"] == 10.0 and vals["s2"] == 10.0 and vals["s3"] == 9.0


def test_path_level(spark, resolved):
    nodes = resolved.select("path", path_level("path").alias("level")).distinct()
    rows = {r["path"]: r for r in nodes.collect()}
    assert rows["k__a|p__x|c__m"]["level"] == 3
    assert all(r["level"] == r["path"].count("|") + 1 for r in rows.values())


def test_to_feature_vectors(spark, resolved):
    from taxahfe_spark.taxonomy import sparse_to_dense

    vecs = to_feature_vectors(resolved, ENTITIES)
    row = {
        r["path"]: sparse_to_dense(r["idxs"], r["vals"], len(ENTITIES)).tolist()
        for r in vecs.collect()
    }
    assert row["k__a|p__x"] == [9.0, 9.0, 9.0, 9.0]
    assert row["k__b|p__z|c__q"] == [2.0, 0.0, 0.0, 4.0]


def test_filter_flags(spark, resolved):
    from taxahfe_spark.operators.filters import feature_filter_flags

    flags = {
        r["path"]: r
        for r in feature_filter_flags(
            resolved, n_entities=4, filter_prevalence=0.5, filter_mean_abundance=0.5
        ).collect()
    }
    # c__m: nonzero in 2/4 samples -> 2 > 4*0.5 is FALSE (strict >)
    assert flags["k__a|p__x|c__m"]["passed_prevalence"] is False
    # k__a|p__x: 4/4 nonzero -> 4 > 2 TRUE; mean 9 > 0.5 TRUE
    assert flags["k__a|p__x"]["passed_filters"] is True
    # c__n mean = 1.0/4 = 0.25 -> 0.25 > 0.5 FALSE
    assert flags["k__a|p__x|c__n"]["passed_abundance"] is False


def _norm(df):
    """A resolved frame as sorted pandas rows, values rounded to 9 places."""
    pdf = df.toPandas()
    pdf["level"] = pdf["level"].astype("int64")
    pdf["value"] = pdf["value"].round(9)
    return (
        pdf.sort_values(["path", "entity_id", "value"], kind="mergesort")
        .reset_index(drop=True)[sorted(pdf.columns)]
    )


def test_driver_rollup_parity_with_distributed(spark, sf_dir, monkeypatch):
    """The driver kernel of resolve_tree (Arrow collect + numpy
    observed-wins rollup) must produce the same rows as the one-exchange
    distributed rollup (TAXAHFE_DISTRIBUTED=1) — for both clean_paths modes, on
    real testdata (duplicates, zero-sum presence rows and multi-level
    missing ancestors included), on the synthetic observed-wins fixture,
    and on null entity ids / null values, which F.sum skips or groups."""
    import __spark_entry__ as em
    from taxahfe_spark.taxonomy import resolve_tree

    wide = spark.createDataFrame(
        [(c, *v) for c, *v in WIDE_ROWS], ["clade_name", *ENTITIES]
    )
    nulls = spark.createDataFrame(
        [
            ("a|b|c", "s1", 1.0),
            ("a|b|d", "s1", None),
            ("a|b|d", "s2", 2.0),
            ("a|e|f", None, 3.0),
            ("a|e|f", "s1", 4.0),
        ],
        "clade_name string, entity_id string, value double",
    )
    inputs = [
        em._hfe_long(spark, sf_dir),
        melt_wide_matrix(wide),
        nulls,
    ]
    for long in inputs:
        for cp in (False, True):
            monkeypatch.delenv("TAXAHFE_DISTRIBUTED", raising=False)
            tree = resolve_tree(long, clean_paths=cp)
            # nulls are routed to the distributed path, everything else stays local
            assert tree.on_driver is (long is not nulls)
            fast = tree.frame()
            assert fast.rdd.getNumPartitions() >= 1  # local relation, usable
            monkeypatch.setenv("TAXAHFE_DISTRIBUTED", "1")
            slow_tree = resolve_tree(long, clean_paths=cp)
            assert not slow_tree.on_driver
            assert slow_tree.entities == tree.entities
            pd.testing.assert_frame_equal(
                _norm(fast), _norm(slow_tree.frame()), check_dtype=False
            )
    got = _norm(slow_tree.frame()).set_index(["path", "entity_id"])["value"]
    assert got[("a|b", "s1")] == 1.0  # the null value is skipped, not NaN
    assert ("a|e|f", "s2") not in got.index  # the null entity stays apart


def test_rollup_null_clade_name_raises(spark):
    """A null taxonomy path fails loudly, naming the column, in both
    clean_paths modes."""
    long = spark.createDataFrame(
        [("a|b", "s1", 1.0), (None, "s1", 2.0)],
        "clade_name string, entity_id string, value double",
    )
    for cp in (False, True):
        with pytest.raises(ValueError, match="clade_name"):
            hierarchical_rollup(long, clean_paths=cp)


def test_deep_tree_rollup_paths_match_oracle(spark, monkeypatch):
    """On a seeded 7-level tree with runs of missing ancestors, the driver
    kernel and the one-exchange distributed rollup give the same rows, and
    both equal the independent oracle's vectors."""
    import numpy as np
    from deep_tree import deep_tree_long
    from oracle_collapse import rollup

    from taxahfe_spark.taxonomy import missing_runs, resolve_tree

    long_pdf = deep_tree_long(seed=5)
    runs = missing_runs(long_pdf["clade_name"])
    assert max(len(r) for r in runs.values()) >= 2, "fixture lost its deep runs"
    entities = sorted(long_pdf["entity_id"].unique())
    want = rollup(long_pdf.rename(columns={"clade_name": "path"}), entities)
    long = spark.createDataFrame(long_pdf)
    for cp in (False, True):
        monkeypatch.delenv("TAXAHFE_DISTRIBUTED", raising=False)
        driver = resolve_tree(long, clean_paths=cp)
        monkeypatch.setenv("TAXAHFE_DISTRIBUTED", "1")
        dist = resolve_tree(long, clean_paths=cp)
        assert driver.on_driver and not dist.on_driver
        assert driver.entities == dist.entities == entities
        got = _norm(driver.frame())
        pd.testing.assert_frame_equal(got, _norm(dist.frame()), check_dtype=False)
        assert set(got["path"]) == set(want)
        slot = {e: i for i, e in enumerate(entities)}
        for path, grp in got.groupby("path"):
            vec = np.zeros(len(entities))
            vec[[slot[e] for e in grp["entity_id"]]] = grp["value"]
            np.testing.assert_array_equal(vec, want[path].round(9), err_msg=path)
