"""Taxonomy tree as DataFrames: path split, node skeleton, observed-wins rollup.

Re-expresses the reference's mutable ``data.tree`` graph (reference:
lib/tree.R:396-449 build_tree, lib/tree.R:372-388 fix_unpopulated_node) as
DataFrame transformations plus one taxonomy-sized driver kernel:

- the *tree* is just the set of distinct path prefixes of the observed rows
  (small — broadcastable even for 10^5-node taxonomies);
- the *per-node abundance state* is a long (path, entity_id, value) frame;
- :func:`resolve_tree` turns that frame into a :class:`ResolvedTree` and
  decides driver vs distributed ONCE, on the measured row count
  (``session.driver_side``). Small inputs are collected in one Arrow
  transfer and rolled up by one numpy kernel, which also yields every
  node's sparse vector. Large ones run ONE exchange: every observed row is
  broadcast-joined to the missing ancestors it feeds and a single
  map-side-combined groupBy sums them — no level loop, no per-node work,
  no data-sized driver movement.

Correctness-critical invariant ("observed wins", lib/tree.R:372-388): a node
that appears in the input keeps its own vector verbatim; only missing
ancestors are synthesized as the elementwise sum of their resolved children.
Unrolled, a missing ancestor is the sum of the observed paths that reach it
through missing nodes only — a set that depends on the path strings alone
(:func:`missing_runs`, taxonomy-sized), so grandchildren roll up
transitively exactly like the reference's post-order
``fix_unpopulated_node``. Both paths take that set from the same function
and produce the same rows
(tests/test_taxonomy.py::test_deep_tree_rollup_paths_match_oracle).

Level convention: ``level == size(split(path, '|'))`` (number of path
segments). The reference counts its synthetic root as level 1, so
``reference_level == level + 1``; the pipeline wrapper converts CLI-style
bounds (see pipeline.py).
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Callable

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from taxahfe_spark.naming import clean_value_col
from taxahfe_spark.session import driver_side, local_frame

PATH_SEP = "|"
_SPLIT_RE = r"\|"


def path_level(col) -> F.Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.size(F.split(c, _SPLIT_RE))


def explode_ancestors(df: DataFrame, path_col: str = "path") -> DataFrame:
    """One output row per (row, ancestor-prefix) incl. the path itself.

    Adds ``anc_path`` and ``anc_level``. Pure built-ins:
    ``transform(sequence(...), k -> array_join(slice(parts,1,k),'|'))``
    stays inside whole-stage codegen (no UDF, no shuffle).
    """
    parts = F.split(F.col(path_col), _SPLIT_RE)
    prefixes = F.transform(
        F.sequence(F.lit(1), F.size(parts)),
        lambda k: F.array_join(F.slice(parts, F.lit(1), k), PATH_SEP),
    )
    return df.select(
        "*", F.posexplode(prefixes).alias("_anc_pos", "anc_path")
    ).withColumn("anc_level", F.col("_anc_pos") + 1).drop("_anc_pos")


def melt_wide_matrix(
    wide: DataFrame, feature_col: str = "clade_name", value_type: str = "double"
) -> DataFrame:
    """Wide (feature row x one column per entity) -> long (clade_name, entity_id, value).

    The reference's input format (lib/tree.R:143-200): col 1 = clade_name,
    remaining columns one per subject. One-column-per-entity breaks beyond
    ~10^4 entities, so everything downstream uses this long layout.
    """
    entity_cols = [c for c in wide.columns if c != feature_col]
    ids = [feature_col]
    long = wide.unpivot(ids, entity_cols, "entity_id", "value")
    return long.select(
        F.col(feature_col).alias("clade_name"),
        "entity_id",
        F.col("value").cast(value_type).alias("value"),
    )


# the driver kernel's budget: base rows collected through one Arrow transfer
# (roughly where one single-threaded collect stopped beating the per-level
# distributed rollup on a 32-core box, not re-measured against the
# one-exchange rollup). Driver memory per row, measured on perfbench's
# 7-level tables (45-character paths, 314k rows): ~66 B as Arrow, ~25 B as
# pandas (8-B object pointers; to_pandas deduplicates the repeated strings)
# and a ~100 B peak of numpy working arrays in the kernel. The Arrow table
# is freed while it converts, so 2M rows peak near 2M x (25 + 100) B, about
# 250 MB, plus the vectors; longer paths grow only the Arrow share.
DRIVER_MAX_ROWS = 2_000_000

RESOLVED_SCHEMA = (
    "path string, level int, entity_id string, value double, observed boolean"
)


def _entity_order(present: set, first: list[str] | None) -> list:
    """``first`` (e.g. metadata order) restricted to ``present``, then the
    remaining present ids sorted, a null id last."""
    head = [e for e in first or () if e in present]
    rest = present.difference(head)
    return head + sorted(rest - {None}) + [None] * (None in rest)


def missing_runs(observed_paths) -> dict[str, list[str]]:
    """Each observed path -> the run of MISSING ancestors directly above it,
    nearest first.

    The run climbs the path's prefixes (drop the last segment, repeat) and
    stops at the first observed ancestor (observed wins: that ancestor keeps
    its own vector, and everything above it sums that vector, not this
    path's) or at ``""`` (a leading-pipe path). A missing node is therefore
    the sum of the observed paths whose runs contain it — the recursive
    observed-wins rule of the reference (lib/tree.R:372-388) unrolled, from
    path strings alone. Both rollup paths take their missing set from here.
    """
    observed = set(observed_paths)
    runs: dict[str, list[str]] = {}
    for p in observed:
        run, a = [], p
        while "|" in a:
            a = a[: a.rfind("|")]
            if not a or a in observed:
                break
            run.append(a)
        runs[p] = run
    return runs


def _observed_wins(pdf, raw_map, entity_order):
    """The driver kernel: observed-wins rollup of the collected base pairs
    in numpy — the rows the distributed exchange materializes.

    Observed rows keep their (possibly duplicated) pairs verbatim; each
    MISSING ancestor (:func:`missing_runs`) gets one entry per entity
    present in any resolved child (even when the sums cancel to exactly
    0.0 — the groupBy-presence semantics), summed over its children in
    sorted path order, deepest ancestors first. ``raw_map`` maps raw to
    clean path for clean_paths inputs (collision-merging included), None
    for identity. A node's level is its segment count, as ``path_level``
    computes it. The input holds no null entity or value (resolve_tree
    routes those to the distributed path).

    Returns (entities, vectors, build): ``vectors`` maps every node to its
    sparse (int32 entity indices, float64 values), entries sorted by
    (index, value) — the to_feature_vectors layout; ``build()`` assembles
    the resolved long pandas frame.
    """
    if raw_map is not None:
        rcodes, runiq = pd.factorize(pdf["__raw"])
        u_paths = [raw_map[r] for r in runiq]
    else:
        rcodes, runiq = pd.factorize(pdf["path"])
        u_paths = list(runiq)
    # clean collisions merge distinct raws into one path: re-factorize
    pcodes_u, puniq = pd.factorize(pd.Series(u_paths))
    pcodes = pcodes_u[rcodes]
    obs_paths = list(puniq)

    ecodes, euniq = pd.factorize(pdf["entity_id"])
    entities = _entity_order(set(euniq), entity_order)
    slot = {e: i for i, e in enumerate(entities)}
    eidx = np.asarray([slot[e] for e in euniq], dtype=np.int64)[ecodes]
    vals = pdf["value"].to_numpy(dtype=np.float64)
    n_ent = len(entities)

    order = np.lexsort((vals, eidx, pcodes))
    p_o, e_o, v_o = pcodes[order], eidx[order], vals[order]
    bounds = np.searchsorted(p_o, np.arange(len(obs_paths) + 1))
    vectors = {
        p: (e_o[bounds[k]: bounds[k + 1]].astype(np.int32), v_o[bounds[k]: bounds[k + 1]])
        for k, p in enumerate(obs_paths)
    }

    # each missing ancestor sums its resolved children: the observed path
    # below it or the next missing ancestor of the same run
    children_of: dict[str, set[str]] = {}
    for p, run in missing_runs(obs_paths).items():
        for child, anc in zip([p, *run], run):
            children_of.setdefault(anc, set()).add(child)
    for p in sorted(children_of, key=lambda a: (-a.count("|"), a)):
        acc = np.zeros(n_ent)
        mask = np.zeros(n_ent, dtype=bool)
        for q in sorted(children_of[p]):
            i, v = vectors[q]
            np.add.at(acc, i, v)
            mask[i] = True
        pres = np.flatnonzero(mask)
        vectors[p] = (pres.astype(np.int32), acc[pres])

    def build() -> pd.DataFrame:
        # observed rows verbatim, then the missing ancestors (dict order)
        miss = list(vectors)[len(obs_paths):]
        sizes = [len(vectors[p][0]) for p in miss]

        def level_of(paths):
            return np.asarray([p.count("|") + 1 for p in paths], dtype=np.int64)

        return pd.DataFrame(
            {
                "path": np.concatenate([
                    np.asarray(obs_paths, dtype=object)[pcodes],
                    np.repeat(np.asarray(miss, dtype=object), sizes),
                ]),
                "level": np.concatenate([
                    level_of(obs_paths)[pcodes], np.repeat(level_of(miss), sizes)
                ]),
                "entity_id": np.asarray(entities, dtype=object)[
                    np.concatenate([eidx, *(vectors[p][0] for p in miss)])
                ],
                "value": np.concatenate([vals, *(vectors[p][1] for p in miss)]),
                "observed": np.arange(len(pcodes) + sum(sizes)) < len(pcodes),
            }
        )

    return entities, vectors, build


@dataclass(eq=False)
class ResolvedTree:
    """The observed-wins rollup of one long frame, with the driver-vs-
    distributed decision already made (``on_driver``).

    ``entities`` fixes the entity index order of ``vectors``. ``vectors``
    maps every node path to its sparse (int32 entity indices, float64
    values); the driver kernel fills it, and on the distributed path it is
    ``None`` until taxa_hfe's broadcast competition fills it. ``frame()`` is
    the resolved long DataFrame (path, level, entity_id, value, observed),
    built on first call and cached — a driver tree whose consumers only read
    the vectors never ships its rows to the JVM.
    """

    spark: SparkSession
    entities: list
    vectors: dict | None
    on_driver: bool
    _build: Callable[[], DataFrame] | None = field(default=None, repr=False)
    _frame: DataFrame | None = field(default=None, repr=False)

    def frame(self) -> DataFrame:
        if self._frame is None:
            self._frame = self._build()
        return self._frame

    def unpersist(self) -> None:
        """Release the cached frame, if one was built."""
        if self._frame is not None:
            self._frame.unpersist()


def resolve_tree(
    long_df: DataFrame,
    clean_paths: bool = True,
    entity_order: list[str] | None = None,
) -> ResolvedTree:
    """Long frame (clade_name, entity_id, value) -> :class:`ResolvedTree`,
    deciding driver vs distributed once.

    The base projection is cached and its distinct paths collected (the
    clean regex runs on those only). Then ONE job over the cache measures
    the rows and counts the null/NaN entity ids and values, and:

    - below ``DRIVER_MAX_ROWS`` (``session.driver_side``) and with no
      nulls, the base is collected in one Arrow transfer and rolled up by
      the numpy kernel — vectors included, the frame built only on demand;
    - otherwise the rollup is ONE exchange: the observed rows broadcast-join
      the taxonomy-sized (path, anc_path, anc_level) pairs of
      :func:`missing_runs`, one groupBy(anc_path, anc_level, entity_id) sum
      with map-side partial aggregation yields every missing ancestor, and
      the observed rows are unioned back. One entity-distinct action fills
      the persisted result. Being a Spark cache entry, it also serves a
      later identical call; ``frame().unpersist()`` releases it.

    Nulls go to the distributed path because its ``F.sum`` skips null
    values, keeps null entity ids as their own group and keeps NaN, which
    the kernel does not model. ``entity_order`` (taxa_hfe: metadata order)
    leads the entity index; other entities follow sorted. The base cache is
    released before returning.
    """
    spark = long_df.sparkSession
    if clean_paths:
        # The janitor-style clean regex is data-INVARIANT per distinct path,
        # and distinct paths are taxonomy-sized by contract (<= ~1e5) while
        # the long frame is data-sized — so clean the DISTINCT paths once
        # and re-attach them via a broadcast join of the collected map
        # instead of running two regex passes over every row (measured
        # 2.7 s of pure regexp_replace at sf0.1's 587k rows vs ~0 on the
        # 1000-row distinct frame).
        base = long_df.select(
            F.col("clade_name").cast("string").alias("__raw"),
            F.col("entity_id").cast("string").alias("entity_id"),
            F.col("value").cast("double").alias("value"),
        ).persist()
        raw_map = {
            r["__raw"]: r["path"]
            for r in base.select("__raw")
            .distinct()
            .select("__raw", clean_value_col("__raw").alias("path"))
            .collect()  # taxonomy-sized; materializes the cache
        }
        obs_paths = set(raw_map.values())
    else:
        base = long_df.select(
            F.col("clade_name").cast("string").alias("path"),
            path_level(F.col("clade_name").cast("string")).alias("level"),
            F.col("entity_id").cast("string").alias("entity_id"),
            F.col("value").cast("double").alias("value"),
        ).persist()
        raw_map = None
        obs_paths = {r["path"] for r in base.select("path").distinct().collect()}
    if None in obs_paths:
        base.unpersist()
        raise ValueError(
            "clade_name holds null values: every row needs a taxonomy path"
        )
    if not obs_paths:
        base.unpersist()
        return ResolvedTree(
            spark, [], None, False, _frame=local_frame(spark, [], RESOLVED_SCHEMA)
        )

    # one job, served from the cache the distinct collect just filled
    n_rows, n_valid = base.agg(
        F.count(F.lit(1)),
        F.count(
            F.when(
                F.col("entity_id").isNotNull()
                & F.col("value").isNotNull()
                & ~F.isnan("value"),
                F.lit(1),
            )
        ),
    ).first()
    if n_valid == n_rows and driver_side(n_rows, DRIVER_MAX_ROWS):
        # column by column, freeing each Arrow buffer once converted, so the
        # table and its pandas copy are never both held in full
        pdf = base.toArrow().to_pandas(self_destruct=True, split_blocks=True)
        base.unpersist()
        entities, vectors, build = _observed_wins(pdf, raw_map, entity_order)
        return ResolvedTree(
            spark, entities, vectors, True,
            _build=lambda: local_frame(spark, build(), RESOLVED_SCHEMA),
        )

    def local(rows, schema):  # taxonomy-sized, broadcast into a join
        return F.broadcast(local_frame(spark, rows, schema))

    # the observed rows, and each one's contributions to the missing
    # ancestors above it, keyed by the base's own path column
    if raw_map is None:
        key, path_of = "path", {p: p for p in obs_paths}
        out = base
    else:
        key, path_of = "__raw", raw_map
        out = base.join(
            local(
                [(r, p, p.count("|") + 1) for r, p in raw_map.items()],
                "__raw string, path string, level bigint",
            ),
            "__raw",
        ).select("path", F.col("level").cast("int"), "entity_id", "value")
    out = out.withColumn("observed", F.lit(True))
    runs = missing_runs(obs_paths)
    pairs = [
        (k, a, a.count("|") + 1) for k, p in path_of.items() for a in runs[p]
    ]
    if pairs:
        rolled = (
            base.join(local(pairs, f"{key} string, anc_path string, anc_level bigint"), key)
            .groupBy("anc_path", "anc_level", "entity_id")
            .agg(F.sum("value").alias("value"))
        )
        out = out.unionByName(
            rolled.select(
                F.col("anc_path").alias("path"),
                F.col("anc_level").cast("int").alias("level"),
                "entity_id",
                "value",
                F.lit(False).alias("observed"),
            )
        )
    # the one action fills the cache, after which the base cache can go
    # (repeated invocations must not accumulate cached inputs)
    out = out.persist()
    present = {r["entity_id"] for r in out.select("entity_id").distinct().collect()}
    base.unpersist()
    return ResolvedTree(
        spark, _entity_order(present, entity_order), None, False, _frame=out
    )


def hierarchical_rollup(long_df: DataFrame, clean_paths: bool = True) -> DataFrame:
    """Observed-wins hierarchical rollup (reference: lib/tree.R:372-449).

    Input: long frame (clade_name, entity_id, value) — one row per observed
    (feature-path, entity) pair; absent pairs are implicit zeros.

    Output: resolved long frame (path, level, entity_id, value, observed)
    covering EVERY node of the taxonomy: observed nodes keep their input
    vector verbatim; unobserved ancestors get the elementwise sum of their
    resolved children (transitive, deepest-first). It is ``frame()`` of
    :func:`resolve_tree` (driver kernel or one distributed exchange,
    decided there); use that directly to keep the entity list and, on the
    driver path, the per-node vectors.
    """
    return resolve_tree(long_df, clean_paths).frame()


def to_feature_vectors(resolved: DataFrame, entity_ids: list[str]) -> DataFrame:
    """(path, level, entity_id, value) -> SPARSE per-path vectors
    (path, level, idxs: array<int>, vals: array<double>) sorted by idx.

    ``entity_ids`` fixes the canonical vector order (the reference's column
    order); missing (path, entity) pairs are implicit zeros and are NOT
    materialized — consumers densify with :func:`sparse_to_dense` (numpy,
    O(nnz)). Sparse transfer matters: deep taxa touch few entities, so a
    dense layout would ship n_entities doubles per node through Arrow.
    """
    spark = resolved.sparkSession
    idx = local_frame(
        spark, [(e, i) for i, e in enumerate(entity_ids)], "entity_id string, _eidx bigint"
    )
    pairs = resolved.join(F.broadcast(idx), "entity_id", "inner")
    return (
        pairs.groupBy("path", "level")
        .agg(
            F.array_sort(
                F.collect_list(F.struct(F.col("_eidx"), F.col("value")))
            ).alias("_iv")
        )
        .select(
            "path",
            "level",
            F.transform("_iv", lambda s: s["_eidx"].cast("int")).alias("idxs"),
            F.transform("_iv", lambda s: s["value"]).alias("vals"),
        )
    )


def sparse_to_dense(idxs, vals, n: int):
    """numpy densifier for one sparse vector row (executor-side, O(nnz))."""
    out = np.zeros(n, dtype=np.float64)
    if len(idxs):
        out[np.asarray(idxs, dtype=np.int64)] = np.asarray(vals, dtype=np.float64)
    return out
