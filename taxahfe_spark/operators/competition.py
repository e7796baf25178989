"""Tree competition: correlation pruning + RF importance winnowing.

Reproduces the reference's post-order node competition (reference:
lib/tree.R:457-590 compete_node, 595-657 compete_all_winners, 673-720
compete_tree, 724-732 calculate_correlation, 738-850 rf_competition) in
Spark's execution model:

- post-order traversal -> driver loop over levels, deepest first; within a
  level every competition (one per competing parent node) touches a disjoint
  subtree, so a whole level fans out in parallel.
- each level runs ONE fused stage: every task is a (competition x
  permutation-chunk range) that computes the parent-vs-descendant
  correlations, prunes locally, and fits its forests in the same pass —
  halving the per-level driver barriers vs separate corr + RF jobs. Chunking
  the nperm averaged fits across tasks keeps the engine scalable both ways:
  with FEW competitions (reference shape, super filter) the nperm fits fan
  out so wall time is bounded by one fit; with MANY competitions (web-scale
  taxonomies) chunking collapses to one task per competition so the vector
  payload ships through the shuffle once per level.
- one stage protocol, three executors: ``_run_stage`` builds the task list
  once; a driver fork pool (small stages), a ``mapInPandas`` stage or an
  ``applyInPandas`` stage runs ``_run_group`` on every task, each yields the
  same flat (key, path, chunk_lo, corr, importance) rows, and one reducer
  (``_reduce_stage``) sums the partials in chunk order. The driver collects
  a Spark stage's rows directly through Arrow (taxonomy-sized: descendants
  plus competitors x ranges per level): no aggregation exchange follows the
  stage, and a broadcast-strategy stage reads its task list from the
  runner's closure over ``spark.range``, so no exchange precedes it either:
  one Spark job per level.
- vector delivery is chosen from the measured payload (12 B per nonzero):
  * ``broadcast`` (up to ``BROADCAST_MAX_BYTES``) — collect the
    (taxonomy-sized) sparse vectors once; a Spark stage broadcasts them
    (created at the first such stage) and ships only the task list. Fastest at
    reference shape, and the only strategy the fork pool serves.
  * ``shuffle`` (above it) — NEVER collects the vectors to the driver: the
    task rows, one per name, join the distributed vector frame and
    ``applyInPandas`` consumes one task group per (competition, chunk
    range). This is the 100 TB path (at >1e5 nodes x dense entities the
    vector dict outgrows any driver/broadcast budget).
- ALL decision semantics live driver-side on taxonomy-sized data: the UDFs
  return plain numbers (correlations, importances), never decisions.
- all randomness derives from ``hash(seed, parent_path) + chunk``, so
  results are partition-layout-invariant, identical across vector
  strategies, and reproducible (reference roots everything in one set.seed,
  lib/options.R:225).
- repeated measures (``random_effects``, reference lib/tree.R:776-793 +
  1086-1144 prep_re_data): each fit trains TWO forests — per-(individual,
  label) mean-abundance design and per-(individual, label) slope-over-time
  design — ranks each fit's importances (R ``rank``: ascending, average
  ties) and averages the two ranks; covariate one-hot columns join both
  designs and are dropped from the final ranking driver-side.

Decision semantics preserved exactly (each is a unit-tested one-character
trap): strict-> filters gate competition; no-children / max_level /
no-descendant-winners auto-wins; corr >= threshold prunes (signed, default
Pearson; NaN corr does NOT prune); all-pruned -> parent wins; RF tie on
top-2 nudges parent +1e-6; top-1 == parent -> parent sole winner; else
descendants with importance >= parent win and the parent loses; final
(super-filter) mode keeps importance > mean(importance) and > 0.
"""

from __future__ import annotations

import os
import warnings
import zlib
from dataclasses import dataclass, field

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from taxahfe_spark.functions.rf import _apply_bins, _quantile_edges, forest_importance
from taxahfe_spark.session import ForkPool, driver_side, local_frame
from taxahfe_spark.taxonomy import sparse_to_dense

# driver-local fused stage budget: design cells (entity x competitor x fit)
# summed over a stage's competitions
DRIVER_STAGE_MAX_CELLS = 64_000_000
# vector payload up to which the vectors are collected and broadcast; above
# it they stay distributed (see the module docstring)
BROADCAST_MAX_BYTES = 128 * 1024 * 1024


@dataclass
class CompetitionParams:
    lowest_level: int = 2  # in path-segment units (reference level 3 == 2 segments)
    max_level: int = 14  # reference level 15 == 14 segments
    corr_threshold: float = 0.95
    corr_method: str = "pearson"  # reference default; "spearman" supported
    feature_type: str = "factor"  # "factor" (classification) | "numeric"
    nperm: int = 4  # averaged fits per competition
    num_trees: int = 100  # trees per fit (reference ranger default 500)
    seed: int = 42
    disable_super_filter: bool = False
    super_filter_nperm_factor: int = 10  # reference: nperm*10 for the final RF
    # "full" runs the RF stage; "corr_only" is a deterministic collapse where
    # corr survivors win and the parent loses (SQL-oracle-checkable prefix of
    # the full competition — the RF decisions are the only randomized part)
    competition_mode: str = "full"
    # repeated-measures competition (reference --random_effects)
    random_effects: bool = False
    # Entity-dimension bound. The competition design matrix is inherently
    # n_entities wide (the reference's RF is fit over all samples), so the
    # label/covariate context broadcast is n_entities x 8B x (1 + n_cov) and
    # each task materializes an (n_entities x competitors) dense block: at
    # ~10^8+ entities that ceiling is real. design_sample_frac < 1 applies a
    # SEEDED, LAYOUT-INVARIANT hash subsample of entity positions to every
    # design (the reference's ranger sample.fraction analog, applied once,
    # consistently, so all competitors see the same rows). 1.0 = exact
    # reference behavior, bit-identical to the pre-option code path.
    design_sample_frac: float = 1.0


@dataclass
class NodeState:
    """Driver-side bookkeeping for one taxonomy node."""

    path: str
    level: int
    passed_filters: bool
    winner: bool = False
    sf_winner: bool = False
    highly_correlated: bool = False
    lost_rf: bool = False
    competed: bool = False
    outcomes: list[str] = field(default_factory=list)


_STAGE_SCHEMA = T.StructType(
    [
        T.StructField("competition_id", T.StringType()),
        T.StructField("path", T.StringType()),
        T.StructField("chunk_lo", T.IntegerType()),
        T.StructField("corr", T.DoubleType()),
        T.StructField("importance", T.DoubleType()),
    ]
)


def group_seed(seed: int, key: str) -> int:
    """Partition-layout-invariant per-group seed."""
    return (seed * 1_000_003 + zlib.crc32(key.encode())) % (2**31)


def _to_dense(idxs, vals, n_entities: int, remap: np.ndarray | None) -> np.ndarray:
    """Sparse (idxs, vals) -> dense design column, optionally through the
    design_sample_frac position remap (original position -> kept position or
    -1)."""
    if remap is None:
        return sparse_to_dense(idxs, vals, n_entities)
    sel = remap[np.asarray(idxs, dtype=np.int64)]
    m = sel >= 0
    out = np.zeros(n_entities)
    out[sel[m]] = np.asarray(vals, dtype=np.float64)[m]
    return out


def _corr_with_parent(mat: np.ndarray, method: str) -> np.ndarray:
    """Correlation of column 0 (parent) with each other column.

    corrr::correlate default is Pearson (reference lib/tree.R:724-732);
    spearman = Pearson on ranks. Constant columns give NaN, which must NOT
    prune (the reference's dplyr::filter drops NA rows).
    """
    x = mat.astype(np.float64)
    if method == "spearman":
        x = np.apply_along_axis(
            lambda c: pd.Series(c).rank(method="average").to_numpy(), 0, x
        )
    xc = x - x.mean(axis=0)
    ss = (xc**2).sum(axis=0)
    denom = np.sqrt(ss)
    num = xc[:, :1].T @ xc  # (1, k)
    with np.errstate(divide="ignore", invalid="ignore"):
        r = (num / (denom[0] * denom))[0]
    # (effectively-)constant columns must yield NaN, never a prune: without
    # the relative floor, catastrophic cancellation in the mean subtraction
    # can turn an exactly-constant column into denom ~ 1e-20 and a spurious
    # r = +/-1; and a column whose variance underflows to 0 (deviations below
    # ~1e-162) is constant in float64 even when its entries differ, where
    # the floor alone let a one-subnormal ss give r = 1 (both found by
    # hypothesis)
    tiny = (denom <= np.abs(x).max(axis=0) * x.shape[0] * 1e-14) | (
        ss / x.shape[0] == 0
    )
    r = r[1:]
    r[tiny[0] | tiny[1:]] = np.nan
    return r


def _decide_parent_descendant(
    names: list[str], importance: np.ndarray, parent_name: str
) -> list[str]:
    """RF decision, parent-descendant mode (reference lib/tree.R:817-850)."""
    imp = {n: v for n, v in zip(names, importance)}
    ordered = sorted(names, key=lambda n: -imp[n])
    if len(ordered) >= 2 and imp[ordered[0]] == imp[ordered[1]]:
        if parent_name in ordered[:2]:
            imp[parent_name] += 0.000001
            ordered = sorted(names, key=lambda n: -imp[n])
    if ordered[0] == parent_name:
        return [parent_name]
    parent_imp = imp[parent_name]
    return [n for n in names if n != parent_name and imp[n] >= parent_imp]


def _decide_final(names: list[str], importance: np.ndarray) -> list[str]:
    """RF decision, final/super-filter mode (reference lib/tree.R:815-822)."""
    mean_imp = float(np.mean(importance))
    return [n for n, v in zip(names, importance) if v > mean_imp and v > 0]


# -- per-group importance kernels (executor-side numpy) ----------------------


def _group_slopes(
    X: np.ndarray, t: np.ndarray, gidx: np.ndarray, n_groups: int
) -> np.ndarray:
    """Per-group OLS slope of each X column over t; shape (n_groups, p).

    Closed form of the reference's per-feature ``lm(. ~ time)$coef[2]``
    (lib/tree.R:1127-1133); degenerate groups (one obs / constant time)
    yield 0 like the reference's replace_na(0).
    """
    p = X.shape[1]
    cnt = np.zeros(n_groups)
    st = np.zeros(n_groups)
    stt = np.zeros(n_groups)
    np.add.at(cnt, gidx, 1.0)
    np.add.at(st, gidx, t)
    np.add.at(stt, gidx, t * t)
    sv = np.zeros((n_groups, p))
    stv = np.zeros((n_groups, p))
    np.add.at(sv, gidx, X)
    np.add.at(stv, gidx, X * t[:, None])
    with np.errstate(divide="ignore", invalid="ignore"):
        denom = stt - st * st / np.where(cnt > 0, cnt, 1)
        num = stv - (st[:, None] * sv) / np.where(cnt > 0, cnt, 1)[:, None]
        slopes = num / denom[:, None]
    slopes[~np.isfinite(slopes)] = 0.0
    return slopes


def _group_means(
    X: np.ndarray, gidx: np.ndarray, n_groups: int
) -> np.ndarray:
    p = X.shape[1]
    cnt = np.zeros(n_groups)
    np.add.at(cnt, gidx, 1.0)
    s = np.zeros((n_groups, p))
    np.add.at(s, gidx, X)
    return s / np.where(cnt > 0, cnt, 1)[:, None]


def _rank_avg(v: np.ndarray) -> np.ndarray:
    """R rank(): ascending, average ties (reference lib/tree.R:780-790)."""
    return pd.Series(v).rank(method="average").to_numpy()


def _bin(X: np.ndarray) -> np.ndarray:
    return _apply_bins(X, _quantile_edges(X))


def make_importance_runner(
    Xf: np.ndarray,
    label: np.ndarray,
    cov: np.ndarray | None,
    re_individual: np.ndarray | None,
    re_time: np.ndarray | None,
    params: "CompetitionParams",
):
    """Per-competition importance closure ``fit(seed)``: each design is
    binned ONCE here and the closure keeps only its uint8 codes, so every
    chunk fit reads them (binning is a large share of a small-forest fit;
    results are bit-identical). ``fit.nbytes`` is the size of those codes.

    Non-RE: one corrected-impurity forest on [features | covariates]
    (reference lib/tree.R:799-803). RE: two forests on the per-(individual,
    label) mean and slope designs, rank-averaged (lib/tree.R:776-793).
    """
    classification = params.feature_type == "factor"
    p = Xf.shape[1]
    if not params.random_effects:
        codes = _bin(Xf if cov is None or not cov.size else np.column_stack([Xf, cov]))

        def run(seed: int) -> np.ndarray:
            return forest_importance(
                codes, label, classification=classification,
                num_trees=params.num_trees, seed=seed,
            )[:p]

        run.nbytes = codes.nbytes
        return run

    # repeated measures: pseudo-sample = (individual, label) pair
    _, lab_codes = np.unique(label.astype(str), return_inverse=True)
    pair_keys = re_individual.astype(np.int64) * (lab_codes.max() + 1) + lab_codes
    uniq, gidx = np.unique(pair_keys, return_inverse=True)
    n_groups = len(uniq)
    # group label = the label component of the pair key
    y_group = np.empty(n_groups, dtype=label.dtype)
    y_group[gidx] = label
    Xall = Xf if cov is None or not cov.size else np.column_stack([Xf, cov])
    X_mean = _group_means(Xall, gidx, n_groups)
    slopes = _group_slopes(Xf, re_time.astype(np.float64), gidx, n_groups)
    # slope design keeps the (mean-encoded) covariates (reference merges the
    # one-hot covariate means back onto the slope table, lib/tree.R:1139)
    X_slope = (
        slopes if cov is None or not cov.size
        else np.column_stack([slopes, X_mean[:, p:]])
    )
    codes_mean, codes_slope = _bin(X_mean), _bin(X_slope)

    def run_re(seed: int) -> np.ndarray:
        imp_a = forest_importance(
            codes_mean, y_group, classification=classification,
            num_trees=params.num_trees, seed=seed,
        )
        imp_s = forest_importance(
            codes_slope, y_group, classification=classification,
            num_trees=params.num_trees, seed=seed + 1,
        )
        # rank within each fit (over features AND covariates), avg the ranks
        return ((_rank_avg(imp_a) + _rank_avg(imp_s)) / 2.0)[:p]

    run_re.nbytes = codes_mean.nbytes + codes_slope.nbytes
    return run_re


# per-process memo of prepared tasks: the chunk fan-out runs MANY tasks per
# competition, and each would re-densify the competitors' sparse vectors,
# re-run the correlation prune, re-stack the design and re-bin it before its
# chunk fits (at the sf0.1 super filter's 15k x 1000 shape that is ~100 MB
# of pure memory traffic and 1.8 s of binning per task). Workers (Spark's
# Python workers, the driver fork pool's children) are reused across tasks,
# so the last two competitions' (corr, competitors, fit closure over the bin
# codes) live here, keyed by the run token + competition key + names crc: a
# different run or node set never reads another's entry. Size-capped on the
# codes so a beyond-budget design never pins worker memory.
_DESIGN_MEMO: dict[str, tuple] = {}
_DESIGN_MEMO_MAX_BYTES = 256 * 1024 * 1024


def _prepare_task(
    parent_path: str | None,
    names: list[str],
    get_dense,
    ctx: tuple,
    params: "CompetitionParams",
    memo_key: str,
) -> tuple[np.ndarray | None, list[str], object]:
    """(corr vs parent over sorted descendants | None, competitors, fit |
    None): the chunk-invariant prefix of a competition, memoized per
    process. ``competitors`` is empty and ``fit`` None when the RF stage
    must not run (all pruned, or corr_only mode)."""
    hit = _DESIGN_MEMO.get(memo_key)
    if hit is not None:
        return hit
    descs = [n for n in names if n != parent_path]
    competitors = list(descs)
    r = None
    if parent_path is not None:
        # correlation prune (reference lib/tree.R:505-545): signed r >=
        # threshold prunes; NaN keeps
        mat = np.column_stack(
            [get_dense(parent_path)] + [get_dense(d) for d in descs]
        )
        r = _corr_with_parent(mat, params.corr_method)
        keep = [
            d for d, rv in zip(descs, r)
            if np.isnan(rv) or rv < params.corr_threshold
        ]
        if not keep or params.competition_mode == "corr_only":
            competitors = []
        else:
            competitors = [parent_path] + keep
    fit = None
    if competitors:
        label, cov, re_ind, re_time, _ = ctx
        fit = make_importance_runner(
            np.column_stack([get_dense(n) for n in competitors]),
            label, cov, re_ind, re_time, params,
        )
    entry = (r, competitors, fit)
    if fit is None or fit.nbytes <= _DESIGN_MEMO_MAX_BYTES:
        if len(_DESIGN_MEMO) >= 2:
            _DESIGN_MEMO.pop(next(iter(_DESIGN_MEMO)))
        _DESIGN_MEMO[memo_key] = entry
    return entry


def _run_group(
    task: tuple, vecs, ctx: tuple, params: "CompetitionParams", run_token: str
) -> list[tuple]:
    """Fused corr + prune + forest pass for one task — the one body every
    executor runs (fork pool, ``mapInPandas``, ``applyInPandas``).

    ``task`` is (competition key, parent | None, names, chunk_lo, chunk_hi);
    ``names`` is the parent first (when present), then the sorted
    descendants. ``vecs``: path -> sparse (idxs, vals); ``ctx``: the run's
    (label, covariates, re_individual, re_time, remap). Returns the flat
    stage rows (key, path, chunk_lo, corr, importance): on the first range
    one corr row per descendant, then ONE importance row per competitor
    carrying the sum over this range's chunk fits (summed HERE, in ascending
    chunk order, so :func:`_reduce_stage` stays bit-deterministic regardless
    of task scheduling). Densification, the corr prune, the design stack
    and its binning are chunk-invariant and served from _DESIGN_MEMO when
    another range of the same competition already ran in this process;
    ``run_token`` names the run in the memo key.
    """
    key, parent_path, names, chunk_lo, chunk_hi = task
    n_entities = len(ctx[0])
    r, competitors, run_fit = _prepare_task(
        parent_path, names, lambda n: _to_dense(*vecs[n], n_entities, ctx[4]),
        ctx, params, f"{run_token}|{key}|{zlib.crc32('|'.join(names).encode())}",
    )
    rows: list[tuple] = []
    if parent_path is not None:
        if chunk_lo == 0:
            rows += [(key, d, 0, float(v), None) for d, v in zip(names[1:], r)]
        if not competitors:
            return rows
    parent_key = parent_path if parent_path is not None else "__final__"
    imp_sum = np.zeros(len(competitors))
    imp_cnt = np.zeros(len(competitors), dtype=np.int64)
    for chunk in range(chunk_lo, chunk_hi):
        imp = run_fit(group_seed(params.seed, parent_key) + 7919 * chunk)
        m = ~np.isnan(imp)
        imp_sum[m] += imp[m]
        imp_cnt[m] += 1
    rows += [
        (key, n, chunk_lo, None, float(s) if c else None)
        for n, s, c in zip(competitors, imp_sum, imp_cnt)
    ]
    return rows


def _reduce_stage(rows, n_chunks: int) -> tuple[dict, dict]:
    """Flat stage rows -> (corrs, importances), each competition key ->
    {path: value}, whichever executor produced the rows. A NaN correlation
    (which must NOT prune) stays absent; each competitor's per-range
    partials are summed in chunk_lo order and divided by ``n_chunks``, so
    the float result is bit-identical regardless of scheduling."""
    corrs: dict[str, dict[str, float]] = {}
    parts: dict[tuple[str, str], list[tuple[int, float]]] = {}
    for key, path, lo, c, v in rows:
        if c is not None and not np.isnan(c):
            corrs.setdefault(key, {})[path] = float(c)
        if v is not None and not np.isnan(v):
            parts.setdefault((key, path), []).append((lo, float(v)))
    imps: dict[str, dict[str, float]] = {}
    for (key, path), pl in parts.items():
        total = 0.0
        for _, v in sorted(pl):
            total += v
        imps.setdefault(key, {})[path] = total / n_chunks
    return corrs, imps


def _rows_frame(rows: list[tuple]) -> pd.DataFrame:
    """Flat stage rows as the pandas frame a Spark runner returns."""
    return pd.DataFrame.from_records(rows, columns=_STAGE_SCHEMA.names).astype(
        {"chunk_lo": "int32", "corr": "float64", "importance": "float64"}
    )


def _spark_task(row, names) -> tuple:
    """A task back from its Spark input row (a null parent is the super
    filter's)."""
    parent = row.parent_path if isinstance(row.parent_path, str) else None
    return (row.competition_id, parent, list(names), int(row.chunk_lo),
            int(row.chunk_hi))


def _collect_vectors_arrow(vectors: DataFrame) -> dict:
    """(path, idxs, vals) frame -> {path: (int32 idxs, float64 vals)} via one
    Arrow transfer (flat buffer slices, no per-element deserialization); a
    null value becomes NaN."""
    tbl = vectors.select("path", "idxs", "vals").toArrow()
    paths = tbl.column("path").to_pylist()
    idxs_col = tbl.column("idxs").combine_chunks()
    vals_col = tbl.column("vals").combine_chunks()
    off_i = idxs_col.offsets.to_numpy()
    flat_i = idxs_col.values.to_numpy().astype(np.int32, copy=False)
    off_v = vals_col.offsets.to_numpy()
    flat_v = vals_col.values.to_numpy(zero_copy_only=False)
    return {
        p: (flat_i[off_i[i]: off_i[i + 1]], flat_v[off_v[i]: off_v[i + 1]])
        for i, p in enumerate(paths)
    }


# per-run memo-identity tokens (driver-side counter + pid; Broadcast has no
# worker-visible id). A token is unique per TreeCompetition instance, so a
# _DESIGN_MEMO entry can never cross runs.
_RUN_TOKEN_COUNTER = [0]


def _next_run_token() -> str:
    _RUN_TOKEN_COUNTER[0] += 1
    return f"{os.getpid()}:{_RUN_TOKEN_COUNTER[0]}"


def make_broadcast_stage_udf(
    parts: list[list[tuple]], bc_vectors, bc_ctx, params: CompetitionParams,
    run_token: str,
):
    """mapInPandas runner for the broadcast strategy over
    ``spark.range(len(parts))``: input row ``i`` runs the tasks
    ``parts[i]``, which ship in this closure; vectors come from the
    explicit broadcast."""

    def fn(batches):
        vecs, ctx = bc_vectors.value, bc_ctx.value
        for pdf in batches:
            yield _rows_frame([
                row
                for i in pdf["id"]
                for task in parts[i]
                for row in _run_group(task, vecs, ctx, params, run_token)
            ])

    return fn


def make_shuffle_stage_udf(bc_ctx, params: CompetitionParams, run_token: str):
    """applyInPandas runner for the shuffle strategy: one GROUP per task,
    one row per name carrying its position in the task's names and its
    sparse vector (joined in, never via the driver)."""

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("pos")
        vecs = dict(zip(pdf["path"], zip(pdf["idxs"], pdf["vals"])))
        task = _spark_task(pdf.iloc[0], pdf["path"])
        return _rows_frame(
            _run_group(task, vecs, bc_ctx.value, params, run_token)
        )

    return fn


class TreeCompetition:
    """Level-by-level tree competition over sparse per-node vectors.

    vectors: DataFrame (path, level, idxs, vals) - SPARSE, from
    taxonomy.to_feature_vectors - or the same vectors already on the driver
    as a dict path -> (idxs, vals) (a driver ResolvedTree's ``vectors``);
    entity index order == order of ``label``.
    flags:   pandas (path -> level, passed_filters) from feature_filter_flags.
    re_individual / re_time: per-entity arrays (aligned to ``label``) for the
    repeated-measures competition; required when params.random_effects.
    """

    def __init__(
        self,
        vectors: DataFrame | dict,
        flags_pdf: pd.DataFrame,
        label: np.ndarray,
        covariates: np.ndarray | None,
        params: CompetitionParams,
        re_individual: np.ndarray | None = None,
        re_time: np.ndarray | None = None,
    ):
        if params.random_effects and (re_individual is None or re_time is None):
            raise ValueError(
                "random_effects competition requires re_individual and re_time "
                "arrays (metadata columns 'individual' and 'time', reference "
                "lib/tree.R:116-122)"
            )
        self.spark = (
            SparkSession.active() if isinstance(vectors, dict) else vectors.sparkSession
        )
        self.params = params
        self._memo_token = _next_run_token()
        self._pool = None  # the run's driver fork pool (see _run_stage)
        # design_sample_frac < 1: seeded hash subsample of entity POSITIONS,
        # applied to label/cov/RE arrays here and to every sparse vector at
        # densify time via the remap (see CompetitionParams docstring). A
        # pure function of (seed, position) — layout-invariant, identical
        # across vector strategies and reruns.
        remap = None
        if params.design_sample_frac < 1.0:
            n0 = len(label)
            cut = params.design_sample_frac * 2**32
            keep = np.fromiter(
                (
                    zlib.crc32(f"{params.seed}:e{i}".encode()) % 2**32 < cut
                    for i in range(n0)
                ),
                dtype=bool,
                count=n0,
            )
            if keep.sum() < 2:  # degenerate frac on tiny data: keep all
                keep[:] = True
            remap = np.full(n0, -1, dtype=np.int64)
            remap[np.flatnonzero(keep)] = np.arange(int(keep.sum()))
            label = label[keep]
            covariates = covariates[keep] if covariates is not None else None
            re_individual = (
                re_individual[keep] if re_individual is not None else None
            )
            re_time = re_time[keep] if re_time is not None else None
        # the design context: label/covariates/RE arrays are one-per-entity
        # (not per-node), so a Spark stage ships them once per executor via
        # an explicit broadcast, not per-task closures. Broadcasts pickle
        # their value to a file, so each is created at the first Spark stage
        # that needs it; the fork pool needs neither.
        self._ctx = (label, covariates, re_individual, re_time, remap)
        self.bc_ctx = self.bc_vectors = None

        # driver-side vectors: serve the driver-local stages, the vector
        # broadcast and taxa_hfe's winner matrix
        self.vectors_dict = None
        self.vectors = None  # the shuffle path's distributed vector frame
        collected = isinstance(vectors, dict)
        if collected:
            # size the decision from the dict itself — no persist, no sizing
            # agg, no second collect
            nnz = sum(len(i) for i, _ in vectors.values())
        else:
            # persist BEFORE the sizing agg so the (collect_list pivot)
            # vector build runs once, whichever strategy wins
            vectors = vectors.persist()
            nnz = vectors.agg(F.sum(F.size("idxs"))).first()[0] or 0
        self.strategy = (
            "broadcast" if nnz * 12 <= BROADCAST_MAX_BYTES else "shuffle"
        )
        if self.strategy == "broadcast":
            if collected:
                self.vectors_dict = vectors
            else:
                # vectors are taxonomy-sized here; collect ONCE, so a Spark
                # stage broadcasts them and ships only task rows.
                # Stored as NUMPY arrays: a dict of Python int lists measured
                # 13s PER UNPICKLE on executors; numpy buffers deserialize at
                # memory speed. Collected via toArrow(), not collect(): Row
                # deserialization of ~10^6 array elements is per-object
                # Python work (measured 0.7 s at the sf0.1 flagship's 949k
                # nnz), while the Arrow list columns expose flat
                # values+offsets buffers that slice into numpy with no
                # per-element cost (0.15 s same shape).
                self.vectors_dict = _collect_vectors_arrow(vectors)
                vectors.unpersist()
        else:
            if collected:
                vectors = local_frame(
                    self.spark,
                    [(p, i, v) for p, (i, v) in vectors.items()],
                    "path string, idxs array<int>, vals array<double>",
                )
            # the 100 TB path: vectors never touch the driver; persist so the
            # per-level join doesn't recompute the pivot each iteration
            self.vectors = vectors.select("path", "idxs", "vals").persist()
            self.vectors.count()
            vectors.unpersist()  # superseded by the projected cache

        self.nodes: dict[str, NodeState] = {}
        for r in flags_pdf.itertuples():
            self.nodes[r.path] = NodeState(
                path=r.path, level=int(r.level), passed_filters=bool(r.passed_filters)
            )
        self.children: dict[str, list[str]] = {}
        for path in self.nodes:
            if "|" in path:
                self.children.setdefault(path.rsplit("|", 1)[0], []).append(path)

    # -- reference get_descendant_winners (lib/tree.R:310-330) --------------
    def descendant_winners(self, path: str) -> list[str]:
        node = self.nodes[path]
        if node.level >= self.params.max_level:
            return []
        found: list[str] = []
        for child in sorted(self.children.get(path, [])):
            cn = self.nodes[child]
            if cn.winner:
                found.append(child)
            else:
                found.extend(self.descendant_winners(child))
        return found

    # -- resume (north rule: restart from per-level checkpoints) ------------

    def _run_fingerprint(self) -> str:
        """Identity of this competition run: params + node universe + the
        DESIGN DATA (label / covariates / RE arrays). A resume dir holding a
        different fingerprint is ignored, never mixed — without the data
        hash, re-pointing resume_dir at a run whose metadata changed under
        an unchanged taxonomy would silently mix stale winners (ADVICE r2)."""
        import hashlib

        def arr_bytes(a) -> bytes:
            if a is None:
                return b"none"
            a = np.asarray(a)
            if a.dtype.kind in "OUS":  # strings / objects: join repr
                return "\x1f".join(map(str, a.ravel())).encode()
            return np.ascontiguousarray(a).tobytes()

        p = self.params
        key = "|".join(
            [
                str(p.seed), str(p.nperm), str(p.corr_threshold), p.corr_method,
                p.feature_type, p.competition_mode, str(p.num_trees),
                str(p.lowest_level), str(p.max_level), str(p.random_effects),
                str(p.design_sample_frac),
            ]
        )
        h = hashlib.sha256(key.encode())
        label, cov, re_ind, re_time, _ = self._ctx
        for a in (label, cov, re_ind, re_time):
            h.update(arr_bytes(a))
            h.update(b"\x00")
        for path in sorted(self.nodes):
            h.update(path.encode())
            h.update(b"\x00")
        return h.hexdigest()[:16]

    def _save_progress(self, resume_dir: str, completed: list) -> None:
        import json
        import os

        os.makedirs(resume_dir, exist_ok=True)
        state = {
            "fingerprint": self._run_fingerprint(),
            "completed": completed,
            "nodes": [
                {
                    "path": n.path,
                    "winner": n.winner,
                    "sf_winner": n.sf_winner,
                    "highly_correlated": n.highly_correlated,
                    "lost_rf": n.lost_rf,
                    "competed": n.competed,
                    "outcomes": n.outcomes,
                }
                for n in self.nodes.values()
            ],
        }
        tmp = os.path.join(resume_dir, "competition_state.json.tmp")
        dst = os.path.join(resume_dir, "competition_state.json")
        with open(tmp, "w") as f:
            json.dump(state, f)
        os.replace(tmp, dst)  # commit-last: a crash mid-write leaves the
        # previous committed level intact

    def _load_progress(self, resume_dir: str) -> list:
        import json
        import os

        path = os.path.join(resume_dir, "competition_state.json")
        if not os.path.exists(path):
            return []
        with open(path) as f:
            state = json.load(f)
        if state.get("fingerprint") != self._run_fingerprint():
            return []
        for rec in state["nodes"]:
            n = self.nodes.get(rec["path"])
            if n is None:
                continue
            n.winner = rec["winner"]
            n.sf_winner = rec["sf_winner"]
            n.highly_correlated = rec["highly_correlated"]
            n.lost_rf = rec["lost_rf"]
            n.competed = rec["competed"]
            n.outcomes = list(rec["outcomes"])
        return state["completed"]

    def run(self, resume_dir: str | None = None) -> pd.DataFrame:
        """Compete the tree. With ``resume_dir``, node state is committed
        after every level (driver-side JSON, taxonomy-sized, commit-last) and
        a restarted run with the same inputs skips completed levels — the
        level-loop analog of StageCheckpointer for the distributed frames.
        The run's pool and broadcasts are released on the way out."""
        p = self.params
        done = self._load_progress(resume_dir) if resume_dir else []
        levels = sorted({n.level for n in self.nodes.values()}, reverse=True)
        try:
            for lvl in levels:
                if lvl > p.max_level or lvl < p.lowest_level:
                    continue
                if lvl in done:
                    continue
                self._compete_level(lvl)
                if resume_dir:
                    self._save_progress(resume_dir, done := done + [lvl])
            if not p.disable_super_filter and p.competition_mode == "full":
                if "super" not in done:
                    self._super_filter()
                    if resume_dir:
                        self._save_progress(resume_dir, done + ["super"])
        finally:
            self.close()
        if self.strategy == "shuffle":
            self.vectors.unpersist()
        return self.state_frame()

    # -- fused stage runner ---------------------------------------------------

    def _chunk_ranges(self, n_comps: int, n_chunks: int) -> list[tuple[int, int]]:
        """Split nperm fits into contiguous chunk ranges, adaptively: few
        competitions -> full fan-out (wall time ~ one fit); many competitions
        -> one range per competition (vectors ship once per level). The
        range count targets ~8x parallelism total tasks so a near-core-count
        competition list doesn't end on a one-task straggler wave (25 tasks
        on 8 cores = waves of 8,8,8,1 — the tail wave is a full per-task
        latency), and so heterogeneous competition costs level out (the
        worker-process design memo makes extra ranges nearly free: the
        densify+corr+stack prefix is computed once per worker, not per
        task). Seeds depend only on the absolute chunk index, so scheduling
        never changes results."""
        par = self.spark.sparkContext.defaultParallelism
        per_comp = max(1, min(n_chunks, -(-8 * par // max(n_comps, 1))))
        step = (n_chunks + per_comp - 1) // per_comp
        return [(lo, min(lo + step, n_chunks)) for lo in range(0, n_chunks, step)]

    def _driver_stage_cells(
        self, comps: dict[str, tuple[str | None, list[str]]], n_chunks: int
    ) -> int:
        """Work proxy for the fused stage: design cells x fits summed over
        competitions (n_entities x competitors x chunk fits)."""
        n_entities = len(self._ctx[0])
        return sum(
            n_chunks * n_entities * (len(paths) + 1)
            for (_parent, paths) in comps.values()
        )

    def _run_stage(
        self,
        comps: dict[str, tuple[str | None, list[str]]],
        n_chunks: int,
    ) -> tuple[dict[str, dict[str, float]], dict[str, dict[str, float]]]:
        """comps: key -> (parent_path | None, competitor paths). Runs the
        fused corr+RF stage; returns (corrs, importances) keyed by
        competition key -> {path: value}. Importances are averaged over
        n_chunks fits.

        One protocol, three executors. The task list — (key, parent, names,
        chunk_lo, chunk_hi) per competition x chunk range, names being the
        parent then the sorted descendants — is built here once; every
        executor runs :func:`_run_group` on each task and yields the same
        flat rows, and :func:`_reduce_stage` turns them into the result.

        Small stages run DRIVER-LOCAL on the run's ``session.ForkPool``
        when the vectors are already on the driver (broadcast strategy) and
        the total design work is within ``DRIVER_STAGE_MAX_CELLS``
        (``session.driver_side``): a megabyte-scale stage pays more in Spark
        scheduling (~1 s/stage measured at sf0.1) than in compute, the same
        size-gated driver fast-path rule as dietml's small-n CV. The
        children inherit the vectors and the design context by COW memory —
        zero serialization, no Spark job, no broadcast — and ONE pool serves
        the whole run, closed in run(): 20-30 forks of a driver holding the
        vector dict measured ~0.5 s, paid once, not per level. Otherwise, or
        when the pool cannot fork, the stage runs on Spark
        (:meth:`_run_stage_spark`). Results are bit-identical: _run_group is
        a pure function of (inputs, seeds) and the partials reduce in chunk
        order whatever ran them; cluster-scale inputs always take the Spark
        path (the gate scales with n_entities, so it closes itself at
        scale)."""
        tasks = []
        ranges = self._chunk_ranges(len(comps), n_chunks)
        for key, (parent, paths) in comps.items():
            names = [] if parent is None else [parent]
            names += sorted(set(paths) - {parent})
            tasks += [(key, parent, names, lo, hi) for lo, hi in ranges]
        rows = None
        if self.strategy == "broadcast" and driver_side(
            self._driver_stage_cells(comps, n_chunks), DRIVER_STAGE_MAX_CELLS
        ):
            try:
                if self._pool is None:
                    self._pool = ForkPool(lambda task: _run_group(
                        task, self.vectors_dict, self._ctx, self.params,
                        self._memo_token,
                    ))
                rows = [row for part in self._pool.map(tasks) for row in part]
            except (ImportError, OSError) as e:  # no fork, or the pool failed
                warnings.warn(
                    f"driver-local competition stage unavailable ({e}); "
                    "running the stage on Spark",
                    RuntimeWarning,
                    stacklevel=2,
                )
        if rows is None:
            rows = self._run_stage_spark(tasks)
        return _reduce_stage(rows, n_chunks)

    def _run_stage_spark(self, tasks: list[tuple]):
        """The stage on Spark: one input row per slot of tasks (broadcast
        strategy, ``mapInPandas`` over ``spark.range``, the task list in the
        runner's closure: no exchange, one Spark job) or one group per task
        (shuffle strategy, ``applyInPandas`` over the names' vectors joined
        in). The driver collects the flat rows through Arrow —
        taxonomy-sized: descendants plus competitors x ranges per level —
        with no second exchange."""
        sc = self.spark.sparkContext
        if self.bc_ctx is None:
            self.bc_ctx = sc.broadcast(self._ctx)
        if self.strategy == "broadcast":
            if self.bc_vectors is None:
                self.bc_vectors = sc.broadcast(self.vectors_dict)
            # one task per partition (capped): competitions differ wildly in
            # cost (competitor count x prune outcome), so packing several
            # per partition made stage wall = the unluckiest packing. Spark
            # launches partitions in index order, so the costliest tasks
            # (names x fits) go first and the capped remainder deals out
            # round-robin
            n_part = max(1, min(len(tasks), sc.defaultParallelism * 16))
            by_cost = sorted(
                tasks, key=lambda t: len(t[2]) * (t[4] - t[3]), reverse=True
            )
            fn = make_broadcast_stage_udf(
                [by_cost[i::n_part] for i in range(n_part)],
                self.bc_vectors, self.bc_ctx, self.params, self._memo_token,
            )
            stage = self.spark.range(n_part, numPartitions=n_part).mapInPandas(
                fn, _STAGE_SCHEMA
            )
        else:
            assign = local_frame(
                self.spark,
                tasks,
                "competition_id string, parent_path string, "
                "paths array<string>, chunk_lo int, chunk_hi int",
            ).select(
                "competition_id", "parent_path", "chunk_lo", "chunk_hi",
                F.posexplode("paths").alias("pos", "path"),
            )
            fn = make_shuffle_stage_udf(self.bc_ctx, self.params, self._memo_token)
            stage = (
                assign.join(self.vectors, "path")
                .groupBy("competition_id", "chunk_lo")
                .applyInPandas(fn, _STAGE_SCHEMA)
            )
        return list(zip(*stage.toArrow().to_pydict().values()))

    def close(self) -> None:
        """Release the driver fork pool and the broadcasts a Spark stage
        created (vectors and design context); ``vectors_dict`` stays for a
        caller that still needs the vectors. Idempotent."""
        if self._pool is not None:
            self._pool.close()
            self._pool = None
        for bc in (self.bc_vectors, self.bc_ctx):
            if bc is not None:
                bc.destroy()
        self.bc_vectors = self.bc_ctx = None

    # -- level competition ---------------------------------------------------

    def _compete_level(self, lvl: int) -> None:
        p = self.params
        comps: dict[str, list[str]] = {}  # parent -> descendant winners
        for path, node in self.nodes.items():
            if node.level != lvl:
                continue
            node.competed = True
            if not node.passed_filters:
                node.outcomes.append("loss: did not pass filters")
                continue
            if not self.children.get(path):
                node.outcomes.append("win: no children")
                node.winner = True
                continue
            if node.level == p.max_level:
                node.outcomes.append("win: max_level reached")
                node.winner = True
                continue
            dws = self.descendant_winners(path)
            if not dws:
                node.outcomes.append("win: no descendant winners")
                node.winner = True
                continue
            comps[path] = dws
        if not comps:
            return

        n_chunks = 1 if p.competition_mode == "corr_only" else max(1, p.nperm)
        corrs, imps = self._run_stage(
            {parent: (parent, descs) for parent, descs in comps.items()}, n_chunks
        )

        for parent, descs in comps.items():
            pname = parent.rsplit("|", 1)[-1]
            pruned, survivors = [], []
            for d in descs:
                r = corrs.get(parent, {}).get(d)
                if r is not None and not np.isnan(r) and r >= p.corr_threshold:
                    pruned.append(d)
                else:
                    survivors.append(d)
            for d in pruned:
                nd = self.nodes[d]
                nd.winner = False
                nd.highly_correlated = True
                nd.outcomes.append(f"loss: highly correlated to ancestor {pname}")
            if not survivors:
                names = ", ".join(d.rsplit("|", 1)[-1] for d in descs)
                node = self.nodes[parent]
                node.winner = True
                node.outcomes.append(
                    f"win: all descendant winners highly correlated, {names}"
                )
                continue
            if p.competition_mode == "corr_only":
                # deterministic collapse: survivors win, parent loses
                self.nodes[parent].winner = False
                self.nodes[parent].outcomes.append(
                    "loss: corr-only mode, descendants survived"
                )
                for d in survivors:
                    self.nodes[d].winner = True
                    self.nodes[d].outcomes.append("win: corr survivor")
                continue
            names = [parent] + sorted(survivors)
            avg = np.array([imps[parent][n] for n in names])
            winners = set(_decide_parent_descendant(names, avg, parent))
            wstr = ",".join(sorted(n.rsplit("|", 1)[-1] for n in winners))
            lstr = ",".join(
                sorted(n.rsplit("|", 1)[-1] for n in set(names) - winners)
            )
            oc = f"winners: {wstr}; losers: {lstr}"
            for n in names:
                node = self.nodes[n]
                if n in winners:
                    node.winner = True
                    node.outcomes.append(f"win: rf winner, {oc}")
                else:
                    node.winner = False
                    node.lost_rf = True
                    node.outcomes.append(f"loss: rf loser, {oc}")

    # -- super filter --------------------------------------------------------

    def _super_filter(self) -> None:
        # nearest winners from the virtual root == the full winner antichain
        roots = sorted(pth for pth in self.nodes if "|" not in pth)
        competitors: list[str] = []
        for rt in roots:
            if self.nodes[rt].winner:
                competitors.append(rt)
            else:
                competitors.extend(self.descendant_winners(rt))
        if not competitors:
            return
        p = self.params
        n_chunks = max(1, p.nperm * p.super_filter_nperm_factor)
        _, imps = self._run_stage({"__final__": (None, competitors)}, n_chunks)
        names = sorted(imps["__final__"])
        avg = np.array([imps["__final__"][n] for n in names])
        winners = set(_decide_final(names, avg))
        wstr = ",".join(sorted(winners))
        lstr = ",".join(sorted(set(names) - winners))
        oc = f"winners: {wstr}; losers: {lstr}"
        for n in names:
            node = self.nodes[n]
            if n in winners:
                node.sf_winner = True
                node.outcomes.append(f"win: final rf winner, {oc}")
            else:
                node.sf_winner = False
                node.outcomes.append(f"loss: final rf loser, {oc}")

    def state_frame(self) -> pd.DataFrame:
        rows = [
            {
                "path": n.path,
                "level": n.level,
                "passed_filters": n.passed_filters,
                "winner": n.winner,
                "sf_winner": n.sf_winner,
                "highly_correlated": n.highly_correlated,
                "lost_rf": n.lost_rf,
                "outcomes": "|\n".join(n.outcomes),
            }
            for n in self.nodes.values()
        ]
        return pd.DataFrame(rows).sort_values(["level", "path"]).reset_index(drop=True)
