"""End-to-end taxaHFE pipeline: scan -> rollup -> filter -> compete -> export.

The Spark analog of the reference entry point cmd/taxa_hfe.R ->
lib/methods.R:11-53 (method_taxa_hfe): read metadata + hierarchical matrix,
build the tree, compete it, and emit the collapsed winner feature matrix.

Levels here are in path-segment units; reference CLI levels count a synthetic
root as 1, so ``reference_level == segments + 1`` (pass CLI-style values
through ``from_reference_levels=True``).
"""

from __future__ import annotations

from dataclasses import replace

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from taxahfe_spark.naming import clean_entity, clean_entity_expr, clean_name, clean_names_df
from taxahfe_spark.operators.competition import CompetitionParams, TreeCompetition
from taxahfe_spark.operators.filters import feature_filter_flags
from taxahfe_spark.session import driver_side, local_frame
from taxahfe_spark.taxonomy import (
    ResolvedTree,
    melt_wide_matrix,
    resolve_tree,
    to_feature_vectors,
)

# winner-matrix cells (entities x winners) up to which a driver tree's
# winner columns densify locally (``session.driver_side``); above it, or
# under TAXAHFE_DISTRIBUTED=1, the winners are pivoted from the resolved
# frame
WINNER_MATRIX_MAX_CELLS = 50_000_000


def read_metadata(
    spark: SparkSession,
    path: str,
    subject_identifier: str,
    label: str,
    sep: str | None = None,
    limit_covariates: bool = True,
    feature_type: str | None = None,
) -> DataFrame:
    """CSV/TSV metadata scan (reference lib/tree.R:49-138): rename the id and
    label columns to canonical names, clean names, drop NA rows.

    ``limit_covariates`` (reference lib/tree.R:100-107, on for taxa_hfe /
    taxa_hfe_ml, off for diet_ml): warn past 8 covariates — taxaHFE merely
    appends covariates to the RF design, so many covariates change the
    competition without being its purpose. ``feature_type`` enables the
    response-shape diagnostics: the reference logs the level count, and a
    numeric-valued label declared ``factor`` silently becomes one class PER
    VALUE, which is almost never intended — warn loudly."""
    import warnings

    if sep is None:
        sep = "\t" if path.endswith((".tsv", ".txt")) else ","
    df = spark.read.option("header", True).option("sep", sep).csv(path)
    df = df.withColumnsRenamed(
        {subject_identifier: "subject_id", label: "feature_of_interest"}
    )
    df = clean_names_df(df, skip=("subject_id", "feature_of_interest"))
    df = df.na.drop()
    if limit_covariates and len(df.columns) > 10:
        warnings.warn(
            "You have selected quite a few covariates (this warning shows at "
            "> 8 covariates). TaxaHFE merely adds the covariates to the RF "
            "models; its primary purpose is hierarchical feature engineering."
        )
    if feature_type == "factor":
        # one aggregate; try_cast: ANSI mode makes a plain cast THROW on
        # non-numeric strings
        n_levels, n_numeric, n_rows = df.selectExpr(
            "count(DISTINCT feature_of_interest)",
            "count(try_cast(feature_of_interest AS double))",
            "count(*)",
        ).first()
        if n_numeric == n_rows and n_levels > 10:
            warnings.warn(
                f"feature_type=factor with a numeric-valued label produces "
                f"one class PER VALUE ({n_levels} levels). If the response "
                "is continuous, use -t numeric, or --random_effects for "
                "kmeans binning (reference lib/tree.R:114-131)."
            )
    return df


def read_hierarchical_data(
    spark: SparkSession, path: str, sep: str | None = None, validate_na: bool = False
) -> DataFrame:
    """Wide hierarchical matrix scan (reference lib/tree.R:143-200): drop
    known-useless taxon-id columns at the scan.

    ``validate_na=True`` enforces the reference's NA-fatal contract
    (lib/tree.R:193-196: any NA in the hierarchical matrix stops the run —
    silent NA ingestion would propagate nulls into every rollup sum). It
    costs one scan-time validation pass; leave off for huge inputs you have
    already validated upstream.
    """
    if sep is None:
        sep = "\t" if path.endswith((".tsv", ".txt")) else ","
    df = spark.read.option("header", True).option("sep", sep).csv(path)
    drop = [c for c in ("NCBI_tax_id", "clade_taxid") if c in df.columns]
    df = df.drop(*drop)
    if validate_na:
        assert_no_na(df)
    return df


def assert_no_na(df: DataFrame) -> None:
    """NA-fatal guard (reference lib/tree.R:193-196, P8): raise if ANY cell
    is null/NaN. One aggregation pass; counts per column for the message.
    The aggregate is SQL text, one string per column: a wide matrix then
    costs one py4j call, not several per column to build Column trees."""
    checks = []
    for c, t in df.dtypes:
        q = "`" + c.replace("`", "``") + "`"
        cond = f"{q} IS NULL" + (f" OR isnan({q})" if t in ("double", "float") else "")
        checks.append(f"count_if({cond}) AS {q}")
    row = df.selectExpr(*checks).first()
    bad = {c: row[c] for c, _ in df.dtypes if row[c]}
    if bad:
        raise ValueError(
            f"hierarchical data contains NA cells (fatal, reference "
            f"lib/tree.R:193-196): {bad}"
        )


def prepare_label_covariates(
    metadata_pdf: pd.DataFrame, feature_type: str, random_effects: bool = False
) -> tuple[np.ndarray, np.ndarray | None, list[str]]:
    """Label vector + one-hot covariate matrix aligned to metadata row order.
    Under random effects the reserved ``individual``/``time`` columns are
    structural, not covariates (reference lib/tree.R:116-122)."""
    label = metadata_pdf["feature_of_interest"].to_numpy()
    if feature_type == "numeric":
        label = label.astype(np.float64)
    reserved = {"subject_id", "feature_of_interest"}
    if random_effects:
        reserved |= {"individual", "time"}
    cov_cols = [c for c in metadata_pdf.columns if c not in reserved]
    cov = None
    if cov_cols:
        cov = pd.get_dummies(metadata_pdf[cov_cols], dummy_na=False).to_numpy(
            dtype=np.float64
        )
    return label, cov, cov_cols


def discretize_label(
    metadata_pdf: pd.DataFrame, k: int = 3, seed: int = 42, max_iter: int = 50
) -> pd.DataFrame:
    """KMeans label binning (reference lib/tree.R:125-131, G10): a numeric
    response becomes 'feature_of_interest_{i}' factor levels, with cluster
    ids REINDEXED BY SORTED CENTER MEAN so level 1 is always the smallest-
    center cluster (the reference's determinism trick). 1-D k-means on the
    driver — the label vector is metadata-sized.
    """
    y = metadata_pdf["feature_of_interest"].to_numpy(dtype=np.float64)
    rng = np.random.default_rng(seed)
    # k-means++ style deterministic init on quantiles (stable for 1-D data)
    centers = np.quantile(y, np.linspace(0, 1, k + 2)[1:-1])
    centers = centers + rng.normal(0, 1e-9, k)  # break exact ties
    for _ in range(max_iter):
        assign = np.argmin(np.abs(y[:, None] - centers[None, :]), axis=1)
        new = np.array(
            [y[assign == j].mean() if (assign == j).any() else centers[j] for j in range(k)]
        )
        if np.allclose(new, centers):
            break
        centers = new
    order = np.argsort(centers)
    relabel = np.empty(k, dtype=np.int64)
    relabel[order] = np.arange(1, k + 1)
    out = metadata_pdf.copy()
    out["feature_of_interest"] = [
        f"feature_of_interest_{relabel[a]}" for a in assign
    ]
    return out


def _driver_flags(
    vectors: dict, n_entities: int, filter_prevalence: float,
    filter_mean_abundance: float,
) -> pd.DataFrame:
    """feature_filter_flags over driver-held sparse vectors: prevalence
    counts nonzero present values, the mean divides by the full entity
    universe (absent pairs are implicit zeros), strict > on both."""
    rows = []
    for p, (_, v) in vectors.items():
        mean = float(v.sum()) / n_entities if n_entities else 0.0
        rows.append((
            p,
            p.count("|") + 1,
            int(np.count_nonzero(v)) > n_entities * filter_prevalence
            and mean > filter_mean_abundance,
        ))
    return pd.DataFrame(rows, columns=["path", "level", "passed_filters"])


def taxa_hfe(
    metadata: DataFrame,
    hierarchical_long: DataFrame,
    params: CompetitionParams | None = None,
    filter_prevalence: float = 0.01,
    filter_mean_abundance: float = 0.0,
    from_reference_levels: bool = False,
    resume_dir: str | None = None,
    k_splits: int = 3,
) -> tuple[ResolvedTree, pd.DataFrame]:
    """Run the full HFE collapse.

    ``k_splits``: kmeans bin count for discretizing a numeric response under
    random_effects (reference -k/--k_splits, lib/options.R:30 + tree.R:129).

    ``resume_dir``: commit per-level competition state there and skip
    completed levels on restart (see TreeCompetition.run).

    metadata: (subject_id, feature_of_interest, covariates...) — small, used
    both to prune entities (reference lib/tree.R:177-178) and as the RF design.
    hierarchical_long: (clade_name, entity_id, value) long frame
    (use taxonomy.melt_wide_matrix for reference-shaped wide CSVs).

    Entity-dimension bound (documented ceiling): the reference's competition
    semantics make every RF design n_entities wide, so this driver holds the
    metadata frame (n_entities x covariates) in pandas and broadcasts an
    n_entities-long label/covariate context to executors — at 8 B/entity/
    column that is ~1 GB per 10^8 entities, the practical ceiling of the
    exact-reference path. Past it, set
    ``params.design_sample_frac < 1`` (seeded, layout-invariant entity
    subsampling applied consistently to every design — the ranger
    sample.fraction analog); the taxonomy/abundance side stays fully
    distributed either way and has no such bound.

    Returns (tree, state). ``tree`` is the :class:`ResolvedTree` of the
    metadata subjects' rows (taxonomy.resolve_tree decides driver vs
    distributed once): ``tree.frame()`` is the resolved long frame with
    per-node values, built on first call; ``tree.vectors`` holds every
    node's sparse vector whenever the competition had them on the driver.
    ``state`` is the node-state pandas frame with winner/sf_winner flags and
    audit outcomes.
    """
    params = params or CompetitionParams()
    if from_reference_levels:
        params = replace(
            params, lowest_level=params.lowest_level - 1, max_level=params.max_level - 1
        )

    meta_pdf = metadata.toPandas()
    meta_pdf["subject_id"] = meta_pdf["subject_id"].map(clean_entity)
    if meta_pdf["subject_id"].duplicated().any():
        dupes = meta_pdf["subject_id"][meta_pdf["subject_id"].duplicated()].tolist()
        raise ValueError(
            "subject ids collide after clean_names normalization "
            f"(janitor-style cleaning maps distinct raw ids to {dupes[:5]}...); "
            "rename the colliding subjects"
        )

    # entity pruning to metadata subjects (left-semi in long layout)
    spark = metadata.sparkSession
    ids_df = local_frame(spark, meta_pdf[["subject_id"]], "entity_id string")
    long = hierarchical_long.withColumn(
        "entity_id", clean_entity_expr("entity_id")
    ).join(F.broadcast(ids_df), "entity_id", "left_semi")
    tree = resolve_tree(long, entity_order=meta_pdf["subject_id"].tolist())
    # the design universe is metadata INTERSECT data subjects (reference
    # lib/tree.R:177-178 prunes data columns to metadata, and every
    # downstream denominator/merge is over the data's sample columns);
    # metadata-only subjects contribute neither filter denominators nor
    # competition rows. tree.entities keeps metadata order, so it indexes
    # the label/covariate rows below.
    entity_ids = tree.entities
    meta_pdf = meta_pdf[meta_pdf["subject_id"].isin(set(entity_ids))].reset_index(
        drop=True
    )
    if tree.on_driver:
        vectors = tree.vectors
        flags_pdf = _driver_flags(
            vectors, len(entity_ids), filter_prevalence, filter_mean_abundance
        )
    else:
        # Vectors FIRST, flags FROM the vectors: both filter statistics are
        # pure functions of a path's (entity, value) pairs, and the vector
        # frame already groups exactly those pairs per path — so the filter
        # pass is a map-only job over the taxonomy-sized vector frame
        # instead of a second full groupBy scan + shuffle of resolved
        # (measured ~0.6 s at sf0.1). Semantics identical to
        # feature_filter_flags and _driver_flags. The persist is released
        # after the competition (TreeCompetition's auto branch also
        # unpersists once it has chosen a delivery strategy).
        vectors = to_feature_vectors(tree.frame(), entity_ids).persist()
        flags_pdf = (
            vectors.select(
                "path",
                "level",
                (
                    (
                        F.size(F.filter("vals", lambda v: v != 0))
                        > F.lit(float(len(entity_ids)) * filter_prevalence)
                    )
                    & (
                        F.aggregate(
                            "vals", F.lit(0.0), lambda acc, v: acc + v
                        ) / F.lit(float(len(entity_ids)))
                        > F.lit(float(filter_mean_abundance))
                    )
                ).alias("passed_filters"),
            )
            .toPandas()
        )
    re_individual = re_time = None
    if params.random_effects:
        # reference lib/tree.R:116-131: individual/time required; a numeric
        # response is kmeans-discretized into k factor levels first
        missing = {"individual", "time"} - set(meta_pdf.columns)
        if missing:
            raise ValueError(
                f"random_effects requires metadata columns {sorted(missing)} "
                "(reference lib/tree.R:116-119)"
            )
        if params.feature_type == "numeric":
            meta_pdf = discretize_label(meta_pdf, k=int(k_splits), seed=params.seed)
            params = replace(params, feature_type="factor")
        # np.unique codes sort by value -> the RE design-matrix row order is
        # a pure function of the data, not of metadata row order
        re_individual = np.unique(
            meta_pdf["individual"].astype(str).to_numpy(), return_inverse=True
        )[1].astype(np.int64)
        re_time = meta_pdf["time"].to_numpy(dtype=np.float64)

    label, cov, _ = prepare_label_covariates(
        meta_pdf, params.feature_type, params.random_effects
    )

    comp = TreeCompetition(
        vectors, flags_pdf, label, cov, params,
        re_individual=re_individual, re_time=re_time,
    )
    try:
        state = comp.run(resume_dir=resume_dir)
    finally:
        if not tree.on_driver:
            vectors.unpersist()  # no-op when TreeCompetition already released it
    if tree.vectors is None:
        # a broadcast competition collected the vectors to the driver: the
        # winner matrix then densifies them instead of re-scanning resolved
        tree.vectors = comp.vectors_dict
    return tree, state


def levels_tree(
    metadata: DataFrame,
    hierarchical_long: DataFrame,
    filter_prevalence: float = 0.01,
    filter_mean_abundance: float = 0.0,
) -> tuple[DataFrame, pd.DataFrame]:
    """Full-data tree with filter flags and NO competition — the input for
    summarized-levels mode (reference method_levels, lib/methods.R:144-181:
    build_tree over ALL subjects, per-level summaries of filter-passing
    features). Returns (resolved long frame, flags pandas frame shaped like
    a competition state with passed_filters)."""
    meta_pdf = metadata.select("subject_id").toPandas()
    meta_pdf["subject_id"] = meta_pdf["subject_id"].map(clean_entity)
    spark = metadata.sparkSession
    ids_df = local_frame(spark, meta_pdf[["subject_id"]], "entity_id string")
    long = hierarchical_long.withColumn(
        "entity_id", clean_entity_expr("entity_id")
    ).join(F.broadcast(ids_df), "entity_id", "left_semi")
    tree = resolve_tree(long)
    resolved = tree.frame()
    flags = feature_filter_flags(
        resolved, len(tree.entities), filter_prevalence, filter_mean_abundance
    )
    return resolved, flags.select("path", "level", "passed_filters").toPandas()


def winner_feature_matrix(
    tree: ResolvedTree | DataFrame,
    state: pd.DataFrame,
    metadata: DataFrame | None = None,
    use_super_filter: bool = False,
) -> DataFrame:
    """Collapsed output matrix: one row per entity, one column per winning
    feature (reference lib/tree.R:880-950 prepare_flattened_df +
    write_output_file).

    ``tree`` is a :class:`ResolvedTree` (taxa_hfe's, or ml.py's test tree,
    whose winners come from another tree), or any resolved long frame (e.g.
    a hierarchical_rollup result). A tree already knows its entities, and
    when its vectors are on the driver the winner columns (winner count x
    entities — small by construction, the whole point of the collapse)
    densify locally and ship back as ONE Arrow local frame, leaving
    ``tree.frame()`` unbuilt. Otherwise the winners are a filter + pivot of
    the resolved frame — winner count is small, so a bounded-width groupBy.
    Both give the same values: present pairs keep their value, absent pairs
    (a winner the tree never saw included) are zeros."""
    flag = "sf_winner" if use_super_filter else "winner"
    winners = [r.path for r in state[state[flag]].itertuples()]
    if isinstance(tree, ResolvedTree):
        spark, entity_ids, vecs = tree.spark, tree.entities, tree.vectors
    else:
        spark, vecs = tree.sparkSession, None

    # ALL data entities appear in the output, even those whose every winner
    # value is an implicit zero (the reference's transposed flattened frame
    # keeps one row per sample column regardless of abundance)
    def entities() -> DataFrame:
        if isinstance(tree, ResolvedTree):
            return local_frame(  # key=str: a null id sorts too
                spark, [(e,) for e in sorted(entity_ids, key=str)], "subject_id string"
            )
        return tree.select(F.col("entity_id").alias("subject_id")).distinct()

    if not winners:
        base = entities()
    elif (
        vecs is not None
        and driver_side(len(entity_ids) * len(winners), WINNER_MATRIX_MAX_CELLS)
        and len({clean_name(w) for w in winners}) == len(winners)
    ):
        # the cell gate falls back to the pivot for pathological winner counts
        pdf = pd.DataFrame({"subject_id": list(entity_ids)})
        for w in winners:
            col = np.zeros(len(entity_ids))
            if w in vecs:
                idxs, vals = vecs[w]
                col[np.asarray(idxs, dtype=np.int64)] = vals
            pdf[clean_name(w)] = col
        base = local_frame(spark, pdf, None)
    else:
        resolved = tree.frame() if isinstance(tree, ResolvedTree) else tree
        pivoted = (
            resolved.filter(F.col("path").isin(winners))
            .groupBy(F.col("entity_id").alias("subject_id"))
            .pivot("path", winners)
            .agg(F.first("value"))
        )
        base = entities().join(pivoted, "subject_id", "left").na.fill(
            0.0, subset=winners
        )
        renames = {w: clean_name(w) for w in winners}
        base = base.withColumnsRenamed(renames)
    if metadata is not None:
        meta = metadata.withColumn("subject_id", clean_entity_expr("subject_id"))
        base = base.join(F.broadcast(meta), "subject_id", "inner")
    return base


def write_output_file(matrix: DataFrame, output_path: str) -> None:
    """Final winner matrix sink (reference lib/tree.R:933-950)."""
    matrix.coalesce(1).write.mode("overwrite").option("header", True).csv(output_path)


def write_level_summary_csvs(
    resolved: DataFrame,
    state: pd.DataFrame,
    metadata: DataFrame,
    output_dir: str,
) -> list[str]:
    """True per-depth transposed summary CSVs (reference lib/tree.R:205-245):
    for each tree depth, the features passing filters at that level become
    columns, one row per entity, joined to metadata.

    Feature counts per level are taxonomy-sized, so each pivot is a
    bounded-width groupBy; levels are independent jobs.
    """
    passed = state[state["passed_filters"]]
    written: list[str] = []
    for lvl in sorted(passed["level"].unique()):
        paths = passed[passed["level"] == lvl]["path"].tolist()
        lvl_df = (
            resolved.filter(F.col("level") == int(lvl))
            .filter(F.col("path").isin(paths))
            .groupBy(F.col("entity_id").alias("subject_id"))
            .pivot("path", paths)
            .agg(F.first("value"))
            .na.fill(0.0, subset=paths)
            .withColumnsRenamed({p: clean_name(p) for p in paths})
        )
        meta = metadata.withColumn("subject_id", clean_entity_expr("subject_id"))
        out = lvl_df.join(F.broadcast(meta), "subject_id", "inner")
        dest = f"{output_dir}/level_{int(lvl)}"
        out.coalesce(1).write.mode("overwrite").option("header", True).csv(dest)
        written.append(dest)
    return written


def write_v1_input_file(resolved: DataFrame, output_dir: str) -> str:
    """S5: legacy taxaHFE-v1 input export (reference lib/tree.R:247-257):
    one row per tree node at EVERY level, clade_name = pipe path, one column
    per entity. Wide one-column-per-entity layout is inherent to the legacy
    format — this sink exists for interop with the v1 tool and is bounded by
    what that tool can read, not a 100 TB path."""
    entities = sorted(
        r["entity_id"] for r in resolved.select("entity_id").distinct().collect()
    )
    wide = (
        resolved.groupBy(F.col("path").alias("clade_name"))
        .pivot("entity_id", entities)
        .agg(F.first("value"))
        .na.fill(0.0, subset=entities)
    )
    dest = f"{output_dir}/v1_input"
    wide.coalesce(1).write.mode("overwrite").option("header", True).csv(dest)
    return dest


def write_oudah_input(
    resolved: DataFrame,
    state: pd.DataFrame,
    metadata: DataFrame,
    output_dir: str,
) -> dict[str, str]:
    """S6/T8/J3: legacy Oudah-HFE 3-file export (reference lib/tree.R:
    261-305): taxonomy.tab (deepest filter-passing paths split into level
    columns, index from 1001, first level forced 'k__Bacteria' — a verbatim
    reference quirk), otu.tab (index + per-entity abundances), labels.tab
    (one row: 'label' then the response ordered by the abundance columns).
    Legacy-tool-sized by definition; shaped driver-side."""
    import os

    os.makedirs(output_dir, exist_ok=True)
    max_level = int(state["level"].max())
    keep = state[
        (state["level"] == max_level) & state["passed_filters"]
    ]["path"].tolist()
    entities = sorted(
        r["entity_id"] for r in resolved.select("entity_id").distinct().collect()
    )
    spark = resolved.sparkSession
    keep_df = local_frame(spark, [(p,) for p in keep], "path string")
    abundance = (
        resolved.filter(F.col("level") == max_level)
        .join(F.broadcast(keep_df), "path", "left_semi")
        .groupBy("path")
        .pivot("entity_id", entities)
        .agg(F.first("value"))
        .na.fill(0.0, subset=entities)
        .toPandas()
        .sort_values("path")
        .reset_index(drop=True)
    )
    # T8: path -> L1..Lmax columns
    parts = abundance["path"].str.split("|", expand=True)
    parts.columns = [f"L{i+1}" for i in range(parts.shape[1])]
    parts["L1"] = "k__Bacteria"  # reference lib/tree.R:290 verbatim quirk
    index = pd.Series(range(1001, 1001 + len(abundance)), name="index")
    taxa = pd.concat([index, parts], axis=1)
    otu = pd.concat([index, abundance[entities]], axis=1)
    paths = {
        "taxa": f"{output_dir}/oudah_hfe_taxa.txt",
        "otu": f"{output_dir}/oudah_hfe_otu.txt",
        "label": f"{output_dir}/oudah_hfe_label.txt",
    }
    taxa.to_csv(paths["taxa"], sep="\t", header=False, index=False)
    otu.to_csv(paths["otu"], sep="\t", header=False, index=False)
    # J3/O2: labels ordered by the abundance matrix's entity column order
    meta_pdf = metadata.select("subject_id", "feature_of_interest").toPandas()
    meta_pdf["subject_id"] = meta_pdf["subject_id"].map(clean_entity)
    lab = (
        meta_pdf.set_index("subject_id")
        .reindex(entities)["feature_of_interest"]
        .tolist()
    )
    with open(paths["label"], "w") as f:
        f.write("\t".join(["label", *[str(x) for x in lab]]) + "\n")
    return paths
