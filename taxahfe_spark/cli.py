"""CLI entry points with option/validator parity to the reference.

The reference's ONLY unit-tested surface is its option parsing
(reference tests/test_options.R, lib/options.R:21-96 argument groups,
lib/validators.R:4-54 numeric validator combinator, lib/options.R:188-228
load_args with --data_dir path resolution and seed rooting). This module
mirrors that contract: same flags, same defaults, same bounds, same
warning thresholds — then drives the Spark pipeline.

Usage:
    python -m taxahfe_spark run-hfe     METADATA DATA [options]
    python -m taxahfe_spark run-hfe-ml  METADATA DATA [options]
    python -m taxahfe_spark run-dietml  DATA [options]
"""

from __future__ import annotations

import argparse
import os
import random
import sys
import warnings


def validate_numeric(
    minimum=None, maximum=None, min_warning=None, max_warning=None
):
    """Numeric validator combinator (reference lib/validators.R:4-54):
    hard-stops outside [min, max], warns past the warning bounds."""

    def check(flag_name: str, value):
        if not isinstance(value, (int, float)):
            raise SystemExit(f"--{flag_name} must be numeric, got {value!r}")
        if minimum is not None and value < minimum:
            raise SystemExit(f"--{flag_name} must be >= {minimum}, got {value}")
        if maximum is not None and value > maximum:
            raise SystemExit(f"--{flag_name} must be <= {maximum}, got {value}")
        if min_warning is not None and value < min_warning[0]:
            warnings.warn(f"--{flag_name}: {min_warning[1]}")
        if max_warning is not None and value > max_warning[0]:
            warnings.warn(f"--{flag_name}: {max_warning[1]}")

    return check


# flag -> validator, mirroring lib/options.R:103-123 one for one
VALIDATORS = {
    "cor_level": validate_numeric(0, 1, min_warning=(0.6, "A correlation this low will likely group many features together! You probably know what you are doing...?")),
    "k_splits": validate_numeric(2, max_warning=(6, "these are a lot of splits...using this many splits with small data is probably unwise")),
    "prevalence": validate_numeric(0, 1),
    "abundance": validate_numeric(0),
    "lowest_level": validate_numeric(1, min_warning=(2, "values below 2 may include an artificial taxonomic root")),
    "max_level": validate_numeric(1, 1000, max_warning=(16, "you have many hierarchical levels, which may increase run time")),
    "ncores": validate_numeric(1, os.cpu_count() or 1),
    "parallel_workers": validate_numeric(1, os.cpu_count() or 1),
    "nperm": validate_numeric(1, 99999, max_warning=(200, "this nperm value is high and will likely increase run time")),
    "train_split": validate_numeric(0, 1, min_warning=(0.5, "a train test split below 50-50 is very unusual")),
    "folds": validate_numeric(2, max_warning=(11, "a value above 10 may result in very small splits")),
    "cv_repeats": validate_numeric(1, max_warning=(5, "a high about of repeats can result in a large amount of model fits, increasing run time")),
    "tune_time": validate_numeric(0, max_warning=(480, "spending excessive time tuning hyperparameters my not result in substaintal increases in accuracy")),
    "seed": validate_numeric(-(2**31 - 1), 2**31 - 1),
    "info_gain_n": validate_numeric(0),
    "vif_threshold": validate_numeric(0, max_warning=(11, "a VIF score above 10 may result in features that are significantly collinear.")),
    "pct_loss": validate_numeric(0, 100, max_warning=(10, "an acceptable pct_loss greater than 10 may include underfit models")),
}

MODELS = ("rf", "enet", "lasso", "ridge", "xgboost", "mars", "svm")
METRICS = ("roc_auc", "bal_accuracy", "accuracy", "mae", "rmse", "rsq", "kap", "f_meas", "ccc")


def _add_common(p: argparse.ArgumentParser, with_metadata: bool) -> None:
    if with_metadata:
        p.add_argument("METADATA", help="path to metadata input (txt | tsv | csv)")
    p.add_argument("DATA", help="path to hierarchical data input (txt | tsv | csv)")
    p.add_argument("-o", "--output_dir", default="outputs")
    p.add_argument("--data_dir", default=".")
    p.add_argument("--seed", type=float, default=None,
                   help="random seed; default: a random 32-bit integer (reference lib/options.R:6-8)")


def _add_hfe_args(p: argparse.ArgumentParser) -> None:
    # taxa_hfe_base_args (lib/options.R:22-45), same defaults
    p.add_argument("-s", "--subject_identifier", default="subject_id")
    p.add_argument("-l", "--label", default="feature_of_interest")
    p.add_argument("-t", "--feature_type", default="factor", choices=("factor", "numeric"))
    p.add_argument("-R", "--random_effects", action="store_true")
    p.add_argument("-k", "--k_splits", type=float, default=3)
    p.add_argument("-a", "--abundance", type=float, default=0)
    p.add_argument("-p", "--prevalence", type=float, default=0.01)
    p.add_argument("-L", "--lowest_level", type=int, default=3)
    p.add_argument("-m", "--max_level", type=int, default=15)
    p.add_argument("-c", "--cor_level", type=float, default=0.95)
    p.add_argument("-d", "--disable_super_filter", action="store_true")
    p.add_argument("-w", "--write_old_files", action="store_true")
    p.add_argument("-W", "--write_flattened_tree", action="store_true")
    p.add_argument("-D", "--write_both_outputs", action="store_true")
    p.add_argument("--nperm", type=int, default=40)
    p.add_argument("-n", "--ncores", type=int, default=2)


def _add_ml_args(p: argparse.ArgumentParser) -> None:
    # taxa_hfe_ml_args / diet_ml_args (lib/options.R:47-96), same defaults
    p.add_argument("--train_split", type=float, default=0.8)
    p.add_argument("--info_gain_n", type=float, default=0)
    p.add_argument("--vif_threshold", type=float, default=0)
    p.add_argument("--model", default="rf", choices=MODELS)
    p.add_argument("--folds", type=float, default=10)
    p.add_argument("--cv_repeats", type=float, default=3)
    p.add_argument("--metric", default="bal_accuracy", choices=METRICS)
    p.add_argument("--tune_length", type=float, default=80)
    p.add_argument("--tune_time", type=float, default=2)
    p.add_argument("--tune_stop", type=float, default=10)
    p.add_argument("--pct_loss", type=float, default=0)
    p.add_argument("--parallel_workers", type=int, default=1)
    p.add_argument("--shap", action="store_true")
    p.add_argument("--summarized_levels", action="store_true")
    # tidymodels-fidelity mode: re-estimate the recipe inside every
    # (repeat, fold) instead of once per training split (see run_dietml's
    # leakage contract note); default off = the documented approximation
    p.add_argument("--reprep_per_fold", action="store_true")
    # "bayes" = true tune_bayes analog (GP + EI, functions/bayes.py); the
    # reference always tunes bayesian (lib/diet_ml_funcs.R:789-806), here
    # it is selectable next to the deterministic grid/halving idioms
    p.add_argument(
        "--tune_strategy", default="grid", choices=("grid", "halving", "bayes")
    )


def build_parser() -> argparse.ArgumentParser:
    top = argparse.ArgumentParser(prog="taxahfe_spark")
    sub = top.add_subparsers(dest="command", required=True)

    hfe = sub.add_parser("run-hfe", help="taxaHFE collapse (cmd/taxa_hfe.R analog)")
    _add_common(hfe, with_metadata=True)
    _add_hfe_args(hfe)

    ml = sub.add_parser("run-hfe-ml", help="taxaHFE-ML (cmd/taxa_hfe_ml.R analog)")
    _add_common(ml, with_metadata=True)
    _add_hfe_args(ml)
    _add_ml_args(ml)

    dml = sub.add_parser("run-dietml", help="flat dietML (cmd/diet_ml.R analog)")
    _add_common(dml, with_metadata=False)
    dml.add_argument("-s", "--subject_identifier", default="subject_id")
    dml.add_argument("-l", "--label", default="feature_of_interest")
    dml.add_argument("-t", "--feature_type", default="factor", choices=("factor", "numeric"))
    dml.add_argument("-c", "--cor_level", type=float, default=1)
    dml.add_argument("-n", "--ncores", type=int, default=2)
    _add_ml_args(dml)
    return top


def load_args(argv: list[str] | None = None) -> argparse.Namespace:
    """Parse + validate + normalize (reference load_args, lib/options.R:
    188-228): resolve relative paths against --data_dir, root the seed."""
    opts = build_parser().parse_args(argv)
    for flag, check in VALIDATORS.items():
        if hasattr(opts, flag) and getattr(opts, flag) is not None:
            check(flag, getattr(opts, flag))
    if opts.seed is None:
        opts.seed = random.randint(-(2**31 - 1), 2**31 - 1)
    opts.seed = int(opts.seed)
    for attr in ("METADATA", "DATA", "output_dir"):
        if hasattr(opts, attr):
            path = getattr(opts, attr)
            if not os.path.isabs(path):
                setattr(opts, attr, os.path.join(opts.data_dir, path))
    return opts


def append_run_log(opts: argparse.Namespace, status: str) -> None:
    """S10: append-only run log keyed by program + seed (reference
    initiate_logger, lib/tree.R:15-39)."""
    import datetime

    os.makedirs(opts.output_dir, exist_ok=True)
    path = os.path.join(opts.output_dir, "run_log.csv")
    header = not os.path.exists(path)
    flags = " ".join(
        f"--{k}={v}" for k, v in sorted(vars(opts).items()) if k != "command"
    )
    with open(path, "a") as f:
        if header:
            f.write("timestamp,program,seed,status,options\n")
        ts = datetime.datetime.now(datetime.timezone.utc).isoformat()
        f.write(f'{ts},{opts.command},{opts.seed},{status},"{flags}"\n')


def main(argv: list[str] | None = None, spark=None) -> None:
    """CLI entry. ``spark``: inject an existing session (tests, notebooks) —
    the CLI then neither builds nor stops it; otherwise one is created for
    ``--ncores`` and stopped on exit."""
    opts = load_args(argv)
    owns_session = spark is None
    if owns_session:
        from taxahfe_spark.session import get_spark

        spark = get_spark(
            f"taxahfe_{opts.command}",
            master=f"local[{getattr(opts, 'ncores', 2)}]",
        )
    append_run_log(opts, "started")
    try:
        if opts.command == "run-hfe":
            _run_hfe(spark, opts)
        elif opts.command == "run-hfe-ml":
            _run_hfe_ml(spark, opts)
        else:
            _run_dietml_cmd(spark, opts)
        append_run_log(opts, "finished")
    except BaseException:
        append_run_log(opts, "failed")
        raise
    finally:
        if owns_session:
            spark.stop()


def _read_inputs(spark, opts):
    from taxahfe_spark.pipeline import (
        discretize_label,
        read_hierarchical_data,
        read_metadata,
    )
    from taxahfe_spark.session import local_frame
    from taxahfe_spark.taxonomy import melt_wide_matrix

    meta = read_metadata(
        spark, opts.METADATA,
        subject_identifier=opts.subject_identifier, label=opts.label,
        limit_covariates=True, feature_type=opts.feature_type,
    )
    if getattr(opts, "random_effects", False) and opts.feature_type == "numeric":
        # the reference bins at METADATA READ (lib/tree.R:114-131), so the
        # kmeans factor levels flow into every downstream artifact (output
        # matrix, summaries, dietML) — not just the competition design
        pdf = meta.toPandas()
        pdf["feature_of_interest"] = pdf["feature_of_interest"].astype(float)
        meta = local_frame(
            spark, discretize_label(pdf, k=int(opts.k_splits), seed=opts.seed), None
        )
        opts.feature_type = "factor"
    long = melt_wide_matrix(read_hierarchical_data(spark, opts.DATA, validate_na=True))
    return meta, long


def _hfe_params(opts):
    from taxahfe_spark.operators.competition import CompetitionParams

    return CompetitionParams(
        lowest_level=opts.lowest_level,
        max_level=opts.max_level,
        corr_threshold=opts.cor_level,
        feature_type=opts.feature_type,
        nperm=opts.nperm,
        seed=opts.seed,
        disable_super_filter=opts.disable_super_filter,
        random_effects=opts.random_effects,
    )


def _run_hfe(spark, opts) -> None:
    from taxahfe_spark.pipeline import (
        taxa_hfe,
        winner_feature_matrix,
        write_level_summary_csvs,
        write_output_file,
    )
    from taxahfe_spark.session import local_frame

    meta, long = _read_inputs(spark, opts)
    tree, state = taxa_hfe(
        meta, long, params=_hfe_params(opts),
        filter_prevalence=opts.prevalence,
        filter_mean_abundance=opts.abundance,
        from_reference_levels=True,
        k_splits=int(opts.k_splits),
    )
    try:
        use_sf = not opts.disable_super_filter
        out = winner_feature_matrix(tree, state, metadata=meta, use_super_filter=use_sf)
        write_output_file(out, os.path.join(opts.output_dir, "output"))
        if opts.write_both_outputs and use_sf:
            pre = winner_feature_matrix(tree, state, metadata=meta, use_super_filter=False)
            write_output_file(pre, os.path.join(opts.output_dir, "output_pre_sf"))
        if opts.write_old_files:
            from taxahfe_spark.pipeline import write_oudah_input, write_v1_input_file

            resolved = tree.frame()
            write_level_summary_csvs(resolved, state, meta, os.path.join(opts.output_dir, "levels"))
            write_v1_input_file(resolved, opts.output_dir)
            write_oudah_input(resolved, state, meta, os.path.join(opts.output_dir, "oudah"))
        if opts.write_flattened_tree:
            local_frame(spark, state, None).coalesce(1).write.mode("overwrite").option(
                "header", True
            ).option("compression", "gzip").csv(
                os.path.join(opts.output_dir, "flattened_tree")
            )
    finally:
        tree.unpersist()  # the distributed tree's cache
    print(f"taxaHFE collapse complete -> {opts.output_dir} (seed {opts.seed})")


def _dietml_kwargs(opts) -> dict:
    return dict(
        feature_type=opts.feature_type,
        model=opts.model,
        train_frac=opts.train_split,
        folds=int(opts.folds),
        cv_repeats=int(opts.cv_repeats),
        metric=opts.metric,
        tune_length=int(opts.tune_length),
        tune_stop=int(opts.tune_stop),
        tune_time_min=float(opts.tune_time),
        pct_loss=float(opts.pct_loss),
        cor_level=float(opts.cor_level) if opts.cor_level < 1 else 1.0,
        vif_threshold=float(opts.vif_threshold),
        info_gain_n=int(opts.info_gain_n),
        seed=opts.seed,
        shap=opts.shap,
        parallel_workers=int(opts.parallel_workers),
        reprep_per_fold=bool(getattr(opts, "reprep_per_fold", False)),
        tune_strategy=getattr(opts, "tune_strategy", "grid"),
    )


def _write_ml_sinks(res, opts, program: str) -> None:
    """S8 sink trio: ml_results.csv (append) + raw_predictions.csv
    (overwrite) + dummy_model_results.csv (append), reference
    lib/diet_ml_funcs.R:410-412 + 987-1013."""
    from taxahfe_spark.dietml import (
        append_dummy_results_csv,
        append_results_csv,
        write_raw_predictions_csv,
    )

    ml_dir = os.path.join(opts.output_dir, "ml_analysis")
    append_results_csv(
        res, os.path.join(ml_dir, "ml_results.csv"), seed=opts.seed, program=program
    )
    write_raw_predictions_csv(res, os.path.join(ml_dir, "raw_predictions.csv"))
    append_dummy_results_csv(
        res, os.path.join(ml_dir, "dummy_model_results.csv"), seed=opts.seed
    )
    if res.shap_ranking is not None:
        res.shap_ranking.to_csv(
            os.path.join(ml_dir, "shap_ranking.csv"), index=False
        )
    if res.shap_values is not None:
        # S9 plot artifact: SVG beeswarm (the reference's shapviz PDF
        # analog, lib/shap_funcs.R:104-111 — no plotting libs needed)
        from taxahfe_spark.functions.beeswarm import beeswarm_svg

        svg = beeswarm_svg(
            res.shap_values, res.shap_inputs, res.recipe.keep_cols
        )
        with open(os.path.join(ml_dir, "shap_beeswarm.svg"), "w") as f:
            f.write(svg)


def _run_hfe_ml(spark, opts) -> None:
    from pyspark.sql import functions as F

    from taxahfe_spark.dietml import run_dietml
    from taxahfe_spark.ml import taxa_hfe_ml
    from taxahfe_spark.pipeline import write_output_file

    meta, long = _read_inputs(spark, opts)
    train_m, test_m, state, trees = taxa_hfe_ml(
        meta, long, params=_hfe_params(opts),
        filter_prevalence=opts.prevalence,
        filter_mean_abundance=opts.abundance,
        train_frac=opts.train_split,
        seed=opts.seed,
        k_splits=int(opts.k_splits),
    )
    # each matrix is computed once: its CSV write fills the cache, and
    # dietML's union and the summarized levels read it from there
    train_m, test_m = train_m.persist(), test_m.persist()
    try:
        write_output_file(train_m, os.path.join(opts.output_dir, "train"))
        write_output_file(test_m, os.path.join(opts.output_dir, "test"))
        # dietML must honor the SAME split the competition saw (leakage
        # contract)
        full = train_m.withColumn("is_train", F.lit(True)).unionByName(
            test_m.withColumn("is_train", F.lit(False))
        )
        res = run_dietml(full, split_col="is_train", **_dietml_kwargs(opts))
        _write_ml_sinks(res, opts, program="taxaHFE-ML")
        if opts.summarized_levels:
            _run_summarized_levels(spark, opts, meta, long, train_m)
    finally:
        train_m.unpersist()
        test_m.unpersist()
        for tree in trees:
            tree.unpersist()
    print(res.full_results.to_string(index=False))


def _run_summarized_levels(spark, opts, meta, long, train_m) -> None:
    """M12 dispatch (reference cmd/taxa_hfe_ml.R:124-186): full-data tree
    with filters only, one dietML run per depth on that depth's passing
    features, split by the ORIGINAL train subject set, results appended to
    ml_results.csv with program=summarized_level_{depth}."""
    from pyspark.sql import functions as F

    from taxahfe_spark.dietml import append_results_csv, summarized_levels
    from taxahfe_spark.pipeline import levels_tree

    resolved, flags = levels_tree(
        meta, long,
        filter_prevalence=opts.prevalence,
        filter_mean_abundance=opts.abundance,
    )
    train_ids = train_m.select("subject_id").distinct()
    split_assign = (
        resolved.select(F.col("entity_id").alias("subject_id"))
        .distinct()
        .join(
            train_ids.withColumn("is_train", F.lit(True)), "subject_id", "left"
        )
        .na.fill(False, subset=["is_train"])
    )
    try:
        results = summarized_levels(
            resolved, flags, meta,
            split_assign=split_assign,
            csv_dir=opts.output_dir,
            csv_seed=opts.seed,
            **_dietml_kwargs(opts),
        )
    finally:
        resolved.unpersist()  # the distributed tree's cache
    for lvl, r in sorted(results.items()):
        append_results_csv(
            r, os.path.join(opts.output_dir, "ml_analysis", "ml_results.csv"),
            seed=opts.seed, program=f"summarized_level_{lvl}",
        )


def _run_dietml_cmd(spark, opts) -> None:
    from taxahfe_spark.dietml import run_dietml

    sep = "\t" if opts.DATA.endswith((".tsv", ".txt")) else ","
    df = (
        spark.read.option("header", True).option("inferSchema", True)
        .option("sep", sep).csv(opts.DATA)
        .withColumnsRenamed(
            {opts.subject_identifier: "subject_id", opts.label: "feature_of_interest"}
        )
    )
    res = run_dietml(df, **_dietml_kwargs(opts))
    _write_ml_sinks(res, opts, program="dietML")
    print(res.full_results.to_string(index=False))


if __name__ == "__main__":
    main(sys.argv[1:])
