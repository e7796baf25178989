"""Property-based tests (hypothesis) over the pure compute kernels.

These target the Spark-free functions whose contracts the distributed plans
lean on: correlation math, competition decision rules, collinearity pruning,
label binning, per-group slopes and name cleaning.
Spark-side equivalents are covered by the example-based suites; here the
input space is explored adversarially. Two properties do run Spark, on few
examples to keep the suite fast: the rollup's driver kernel against its
one-exchange distributed path, and one competition stage on its three
executors (fork pool, broadcast stage, shuffle stage).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from hypothesis import given, settings
from hypothesis import strategies as st
from hypothesis.extra.numpy import arrays

SET = settings(max_examples=60, deadline=None)


# -- correlation kernel -------------------------------------------------------


@SET
@given(
    arrays(np.float64, st.tuples(st.integers(4, 30), st.integers(2, 6)),
           elements=st.floats(-50, 50, allow_nan=False)),
)
def test_corr_with_parent_matches_numpy(mat):
    from taxahfe_spark.operators.competition import _corr_with_parent

    got = _corr_with_parent(mat, "pearson")
    for j in range(1, mat.shape[1]):
        a, b = mat[:, 0], mat[:, j]
        scale = max(np.abs(mat).max(), 1e-30)
        if a.std() == 0 or b.std() == 0:
            assert np.isnan(got[j - 1])  # constant column -> NaN (never prunes)
        elif min(a.std(), b.std()) > 1e-7 * scale:
            # away from the degenerate regime both formulas agree; inside it
            # numpy's own corrcoef is cancellation noise, so no comparison
            assert abs(got[j - 1] - np.corrcoef(a, b)[0, 1]) < 1e-7


@SET
@given(
    arrays(np.float64, st.tuples(st.integers(4, 20), st.integers(2, 5)),
           elements=st.floats(-10, 10, allow_nan=False)),
)
def test_corr_spearman_is_pearson_on_ranks(mat):
    from taxahfe_spark.operators.competition import _corr_with_parent

    got = _corr_with_parent(mat, "spearman")
    ranked = np.column_stack(
        [pd.Series(mat[:, j]).rank(method="average") for j in range(mat.shape[1])]
    )
    want = _corr_with_parent(ranked, "pearson")
    assert np.allclose(got, want, equal_nan=True)


# -- competition decision rules ----------------------------------------------


@SET
@given(
    st.integers(2, 8),
    st.lists(st.floats(-5, 5, allow_nan=False), min_size=8, max_size=8),
)
def test_decide_parent_descendant_invariants(k, imps):
    from taxahfe_spark.operators.competition import _decide_parent_descendant

    names = [f"n{i}" for i in range(k)]
    imp = np.array(imps[:k])
    parent = names[0]
    winners = _decide_parent_descendant(names, imp.copy(), parent)
    assert winners, "winner set never empty"
    if winners == [parent]:
        # parent wins alone only when top-1 (after any tie nudge)
        assert imp[0] >= imp[1:].max() - 1e-6
    else:
        # every winner is a descendant with importance >= parent's
        assert parent not in winners
        d = {n: v for n, v in zip(names, imp)}
        assert all(d[w] >= d[parent] for w in winners)


@SET
@given(st.lists(st.floats(-5, 5, allow_nan=False), min_size=2, max_size=12))
def test_decide_final_strictly_above_mean_and_zero(imps):
    from taxahfe_spark.operators.competition import _decide_final

    names = [f"n{i}" for i in range(len(imps))]
    imp = np.array(imps)
    winners = set(_decide_final(names, imp))
    m = imp.mean()
    for n, v in zip(names, imp):
        assert (n in winners) == (v > m and v > 0)


# -- collinearity pruning ------------------------------------------------------


@SET
@given(
    arrays(np.float64, st.tuples(st.integers(12, 30), st.integers(3, 7)),
           elements=st.floats(-3, 3, allow_nan=False)),
    st.floats(0.3, 0.95),
)
def test_find_correlated_leaves_no_pair_above_threshold(X, thr):
    from taxahfe_spark.dietml import _find_correlated

    # add a planted duplicate column so the pruner has work
    X = np.column_stack([X, X[:, 0] + 1e-9])
    with np.errstate(invalid="ignore"):
        corr = np.corrcoef(X, rowvar=False)
    cols = [f"c{i}" for i in range(X.shape[1])]
    dropped = set(_find_correlated(corr, cols, thr))
    keep = [i for i, c in enumerate(cols) if c not in dropped]
    a = np.abs(np.nan_to_num(corr))
    np.fill_diagonal(a, 0.0)
    sub = a[np.ix_(keep, keep)]
    assert sub.size == 0 or sub.max() <= thr + 1e-12


# -- kmeans label binning ------------------------------------------------------


@SET
@given(
    st.lists(st.floats(-100, 100, allow_nan=False), min_size=12, max_size=60,
             unique=True),
    st.integers(2, 4),
)
def test_discretize_label_bins_are_monotone(ys, k):
    from taxahfe_spark.pipeline import discretize_label

    pdf = pd.DataFrame(
        {"subject_id": [f"s{i}" for i in range(len(ys))], "feature_of_interest": ys}
    )
    out = discretize_label(pdf, k=k, seed=3)
    lab = out["feature_of_interest"].str.rsplit("_", n=1).str[-1].astype(int)
    # bin index must be monotone in the underlying value: sort by y, labels
    # must be nondecreasing (center-sorted relabeling contract, G10)
    order = np.argsort(np.asarray(ys))
    assert (np.diff(lab.to_numpy()[order]) >= 0).all()
    assert lab.between(1, k).all()


# -- per-group slopes ----------------------------------------------------------


@SET
@given(st.data())
def test_group_slopes_match_polyfit(data):
    from taxahfe_spark.operators.competition import _group_slopes

    n_groups = data.draw(st.integers(1, 5))
    n = data.draw(st.integers(2, 40))
    rng = np.random.default_rng(data.draw(st.integers(0, 10_000)))
    gidx = rng.integers(0, n_groups, n)
    t = rng.normal(0, 2, n)
    X = rng.normal(0, 1, (n, 2))
    got = _group_slopes(X, t, gidx, n_groups)
    for g in range(n_groups):
        m = gidx == g
        for j in range(2):
            if m.sum() >= 2 and t[m].std() > 1e-9:
                want = np.polyfit(t[m], X[m, j], 1)[0]
                assert abs(got[g, j] - want) < 1e-6
            else:
                assert got[g, j] == 0.0  # degenerate -> 0 like replace_na


# -- name cleaning -------------------------------------------------------------


@SET
@given(st.text(max_size=40))
def test_clean_name_contract(s):
    from taxahfe_spark.naming import clean_name

    c = clean_name(s)
    assert c and c == clean_name(c)  # idempotent, never empty
    assert c == c.lower()
    assert all(ch.isalnum() or ch == "_" for ch in c)
    assert not c[0].isdigit() and c[0] != "_" and c[-1] != "_"


@SET
@given(st.lists(st.text(max_size=12), min_size=1, max_size=12))
def test_clean_names_unique(names):
    from taxahfe_spark.naming import clean_names

    out = clean_names(names)
    assert len(out) == len(names) and len(set(out)) == len(out)


# -- observed-wins rollup: driver kernel vs the one-exchange path -------------


def _nested_rollup(rows):
    """Pure-Python observed-wins rollup with F.sum's null semantics: each
    missing ancestor is the nested sum over its resolved children (null
    values skipped, a null entity its own key, all-null sums null);
    observed rows stay verbatim."""
    obs: dict[str, list] = {}
    for p, e, v in rows:
        obs.setdefault(p, []).append((e, v))

    def parent(q):
        return (q[: q.rfind("|")] or None) if "|" in q else None

    children: dict[str, set] = {}
    for p in obs:
        q, a = p, parent(p)
        while a is not None:
            children.setdefault(a, set()).add(q)
            q, a = a, parent(a)
    memo: dict[str, dict] = {}

    def resolve(n):
        if n not in memo:
            acc: dict = {}
            for q in sorted(children[n]):
                for e, v in obs[q] if q in obs else resolve(q).items():
                    acc[e] = acc.get(e) if v is None else (acc.get(e) or 0.0) + v
            memo[n] = acc
        return memo[n]

    out = [(p, p.count("|") + 1, e, v, True) for p, e, v in rows]
    for n in children:
        if n not in obs:
            out += [(n, n.count("|") + 1, e, v, False) for e, v in resolve(n).items()]
    return out


def _rows_close(got, want):
    def key(r):
        return (r[0], r[2] is None, r[2] or "", r[4], r[3] is None, r[3] or 0.0)

    got, want = sorted(got, key=key), sorted(want, key=key)
    assert [r[:3] + r[4:] for r in got] == [r[:3] + r[4:] for r in want]
    for g, w in zip(got, want):
        assert (g[3] is None) == (w[3] is None), (g, w)
        assert g[3] is None or np.isclose(g[3], w[3], rtol=1e-9, atol=1e-9), (g, w)


@st.composite
def _taxonomy_rows(draw):
    """Up to 7-level paths over a tiny alphabet (shared prefixes, runs of
    missing ancestors, empty segments), duplicate rows, values that cancel
    to 0.0 and — in half the inputs — null values and null entity ids."""
    path = st.lists(st.sampled_from(["a", "b", "c", ""]), min_size=1, max_size=7)
    entity = st.sampled_from(["s1", "s2", "s3"])
    value = st.one_of(
        st.sampled_from([1.0, -1.0, 0.5, -0.5, 0.0]),
        st.floats(-100, 100, allow_nan=False),
    )
    if draw(st.booleans()):
        entity, value = st.one_of(entity, st.none()), st.one_of(value, st.none())
    rows = draw(
        st.lists(st.tuples(path.map("|".join), entity, value), min_size=1, max_size=20)
    )
    return rows + draw(st.lists(st.sampled_from(rows), max_size=3))


@settings(max_examples=15, deadline=None)
@given(_taxonomy_rows(), st.booleans())
def test_rollup_paths_agree_property(spark, rows, clean_paths):
    import os
    from unittest import mock

    from taxahfe_spark.taxonomy import resolve_tree

    long = spark.createDataFrame(
        rows, "clade_name string, entity_id string, value double"
    )
    with mock.patch.dict(os.environ, {"TAXAHFE_DISTRIBUTED": "1"}):
        dist = resolve_tree(long, clean_paths).frame().collect()
    _rows_close(dist, _nested_rollup(rows))
    with mock.patch.dict(os.environ):
        os.environ.pop("TAXAHFE_DISTRIBUTED", None)
        tree = resolve_tree(long, clean_paths)
    has_nulls = any(e is None or v is None for _, e, v in rows)
    assert tree.on_driver is not has_nulls
    if not has_nulls:
        _rows_close(dist, tree.frame().collect())


# -- competition stage: one protocol, three executors -------------------------


@st.composite
def _competitions(draw):
    """(label, sparse vectors, comps, n_chunks, params) for one small stage:
    one parent with 2-5 descendants (some corr-pruned copies, some constant
    zero columns) or the same nodes in the super-filter form."""
    from taxahfe_spark.operators.competition import CompetitionParams

    n = draw(st.integers(20, 40))
    kinds = draw(st.lists(st.sampled_from(["noise", "copy", "zero", "sparse"]),
                          min_size=2, max_size=5))
    final = draw(st.booleans())
    nperm = draw(st.integers(1, 3))
    mode = draw(st.sampled_from(["full", "corr_only"]))
    rng = np.random.default_rng(draw(st.integers(0, 2**16)))
    label = rng.permutation(np.array(["a", "b"] * n)[:n])
    dense = {"k__p": rng.gamma(2.0, 1.0, n)}
    for i, kind in enumerate(kinds):
        dense[f"k__p|c__{i}"] = {
            "noise": rng.gamma(2.0, 1.0, n),
            "copy": 2.0 * dense["k__p"],
            "zero": np.zeros(n),
            "sparse": rng.gamma(2.0, 1.0, n) * (rng.random(n) < 0.3),
        }[kind]
    vecs = {
        p: (np.flatnonzero(v).astype(np.int32), v[v != 0]) for p, v in dense.items()
    }
    params = CompetitionParams(
        lowest_level=1, nperm=nperm, num_trees=5, seed=7,
        competition_mode=mode, super_filter_nperm_factor=2,
    )
    if final:
        comps = {"__final__": (None, list(dense))}
        n_chunks = nperm * params.super_filter_nperm_factor
    else:
        comps = {"k__p": ("k__p", list(dense)[1:])}
        n_chunks = 1 if mode == "corr_only" else nperm
    return label, vecs, comps, n_chunks, params


@settings(max_examples=10, deadline=None)
@given(_competitions())
def test_competition_stage_executors_agree_property(spark, case):
    """The fork pool, the Spark broadcast stage and the Spark shuffle stage
    return exactly equal (corrs, importances) for the same stage."""
    import os
    from unittest import mock

    from taxahfe_spark.operators import competition

    label, vecs, comps, n_chunks, params = case
    flags = pd.DataFrame(
        {"path": list(vecs), "level": [p.count("|") + 1 for p in vecs],
         "passed_filters": True}
    )

    def stage(distributed: bool, max_bytes: int):
        env = {"TAXAHFE_DISTRIBUTED": "1"} if distributed else {}
        with mock.patch.dict(os.environ, env), \
                mock.patch.object(competition, "BROADCAST_MAX_BYTES", max_bytes):
            if not distributed:
                os.environ.pop("TAXAHFE_DISTRIBUTED", None)
            comp = competition.TreeCompetition(vecs, flags, label, None, params)
            try:
                out = comp._run_stage(comps, n_chunks)
                return comp.strategy, comp.bc_ctx is not None, out
            finally:
                comp.close()
                if comp.vectors is not None:
                    comp.vectors.unpersist()

    budget = competition.BROADCAST_MAX_BYTES
    pool = stage(False, budget)
    broadcast = stage(True, budget)
    shuffle = stage(True, 0)
    assert pool[:2] == ("broadcast", False)  # no broadcast: the fork pool ran
    assert broadcast[:2] == ("broadcast", True)
    assert shuffle[:2] == ("shuffle", True)
    assert pool[2] == broadcast[2] == shuffle[2]


# -- running total: one-task window vs chunked window -------------------------


@st.composite
def _running_total_cases(draw):
    """(key type, keyed, weighted, rows): up to 30 (id, key, weight) rows
    with unique ids, 0-3 key values of one type plus null keys, and
    weights that may be null."""
    key_type = draw(st.sampled_from(["string", "int"]))
    n_groups = draw(st.integers(0, 3))
    weighted = draw(st.booleans())
    groups = [f"g{i}" if key_type == "string" else i for i in range(n_groups)]
    ids = draw(st.lists(st.integers(-500, 500), max_size=30, unique=True))
    rows = [
        (
            i,
            draw(st.sampled_from(groups + [None])) if groups else None,
            draw(st.one_of(st.none(), st.integers(0, 50))) if weighted else None,
        )
        for i in ids
    ]
    return key_type, n_groups > 0, weighted, rows


@settings(max_examples=15, deadline=None)
@given(_running_total_cases())
def test_running_total_branches_agree_property(spark, case):
    """tokens._running_total gives every row the same __before on its
    one-task branch and its chunked branch (TAXAHFE_DISTRIBUTED=1), and
    both equal a per-key running sum in id order."""
    import os
    from unittest import mock

    from pyspark.sql import functions as F

    from taxahfe_spark.tokens import _running_total

    key_type, keyed, weighted, rows = case
    df = spark.createDataFrame(rows, f"id int, g {key_type}, w int")

    def run(distributed: bool):
        with mock.patch.dict(os.environ):
            os.environ.pop("TAXAHFE_DISTRIBUTED", None)
            if distributed:
                os.environ["TAXAHFE_DISTRIBUTED"] = "1"
            out = _running_total(
                df, ["id"], F.floor(F.col("id") / 100), 1 << 16,
                keys=["g"] if keyed else (), weight="w" if weighted else None,
            )
            return {r["id"]: r["__before"] for r in out.collect()}

    expected, acc = {}, {}
    for i, g, w in sorted(rows):
        g = g if keyed else None
        expected[i] = acc.get(g, 0)
        acc[g] = acc.get(g, 0) + ((w or 0) if weighted else 1)
    one_task = run(False)
    assert one_task == expected
    assert run(True) == one_task
