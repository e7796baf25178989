"""CLI end-to-end runs on tiny synthetic inputs: the run-hfe kmeans label
binning contract (G10) and the --summarized_levels / S8 sink dispatch
(reference cmd/taxa_hfe.R + cmd/taxa_hfe_ml.R:124-186)."""

from __future__ import annotations

import glob
import os

import numpy as np
import pandas as pd
import pytest


def _write_inputs(tmp_path, n=36, with_re=False):
    rng = np.random.default_rng(3)
    meta = pd.DataFrame(
        {
            "Sample": [f"s{i}" for i in range(n)],
            "Category": (
                [float(i % 3) * 10 + float(rng.normal(0, 0.5)) for i in range(n)]
                if with_re
                else ["hi" if i % 2 else "lo" for i in range(n)]
            ),
        }
    )
    if with_re:
        meta["individual"] = [f"p{i // 3}" for i in range(n)]
        meta["time"] = [float(i % 3) for i in range(n)]
    meta_path = tmp_path / "meta.csv"
    meta.to_csv(meta_path, index=False)
    lab = meta["Category"]
    rows = {"clade_name": ["k__a|p__x", "k__a|p__y", "k__b"]}
    for i in range(n):
        is_hi = (lab[i] == "hi") if not with_re else (float(lab[i]) > 10)
        base = 4.0 if is_hi else 1.0
        rows[f"s{i}"] = [
            float(base + rng.normal(0, 0.2)),
            float(rng.normal(2, 0.3) ** 2),
            float(abs(rng.normal(1, 0.2))),
        ]
    data_path = tmp_path / "data.csv"
    pd.DataFrame(rows).to_csv(data_path, index=False)
    return str(meta_path), str(data_path)


def test_run_hfe_re_numeric_label_kmeans_binning(tmp_path, spark):
    """-R -t numeric: the label is kmeans-binned into feature_of_interest_{1..k}
    AT METADATA READ (reference lib/tree.R:114-131) so the binned factor
    reaches the output matrix, with -k controlling k."""
    from taxahfe_spark import cli

    meta_path, data_path = _write_inputs(tmp_path, with_re=True)
    out_dir = tmp_path / "out"
    cli.main(
        [
            "run-hfe", meta_path, data_path,
            "-s", "Sample", "-l", "Category", "-t", "numeric", "-R",
            "-k", "3", "--seed", "7", "-p", "0.01", "-L", "2", "--nperm", "2",
            "-n", "4", "-o", str(out_dir),
        ],
        spark=spark,
    )
    out_csv = glob.glob(str(out_dir / "output" / "*.csv"))
    assert out_csv, "winner matrix CSV missing"
    out = pd.read_csv(out_csv[0])
    labels = set(out["feature_of_interest"])
    assert labels <= {f"feature_of_interest_{i}" for i in (1, 2, 3)}
    assert len(labels) == 3  # three well-separated value clusters -> 3 bins
    log = pd.read_csv(out_dir / "run_log.csv")
    assert list(log["status"]) == ["started", "finished"]


def test_run_hfe_distributed_lane_matches_driver(tmp_path, spark, monkeypatch):
    """run-hfe end to end under TAXAHFE_DISTRIBUTED=1 — level-chain rollup,
    distributed vectors and flags, Spark competition stages — writes the
    same winner matrix and legacy sinks as the driver run, and leaves no
    persisted RDD behind on either path."""
    from taxahfe_spark import cli

    meta_path, data_path = _write_inputs(tmp_path)
    outputs = {}
    for mode in ("0", "1"):
        monkeypatch.setenv("TAXAHFE_DISTRIBUTED", mode)
        spark.catalog.clearCache()
        for rdd in spark.sparkContext._jsc.getPersistentRDDs().values():
            rdd.unpersist()
        out_dir = tmp_path / f"out{mode}"
        cli.main(
            [
                "run-hfe", meta_path, data_path,
                "-s", "Sample", "-l", "Category", "--seed", "7", "-p", "0.01",
                "-L", "2", "--nperm", "2", "-n", "4", "-w", "-o", str(out_dir),
            ],
            spark=spark,
        )
        assert dict(spark.sparkContext._jsc.getPersistentRDDs()) == {}, mode
        frames = []
        for sink in ("output", "v1_input"):
            (csv,) = glob.glob(str(out_dir / sink / "*.csv"))
            df = pd.read_csv(csv)
            frames.append(df.sort_values(df.columns[0]).reset_index(drop=True))
        outputs[mode] = frames
    for driver, distributed in zip(outputs["0"], outputs["1"]):
        pd.testing.assert_frame_equal(driver, distributed)


def test_run_hfe_ml_summarized_levels_and_sinks(tmp_path, spark):
    """run-hfe-ml --summarized_levels: S8 sink trio + one ml_results block
    per depth tagged program=summarized_level_{d} + per-level CSV export."""
    from taxahfe_spark import cli

    meta_path, data_path = _write_inputs(tmp_path)
    out_dir = tmp_path / "out"
    cli.main(
        [
            "run-hfe-ml", meta_path, data_path,
            "-s", "Sample", "-l", "Category", "-t", "factor",
            "-p", "0.01", "-L", "2", "--nperm", "2", "-n", "4",
            "--model", "rf", "--folds", "2", "--cv_repeats", "1",
            "--tune_length", "1", "--seed", "11", "--summarized_levels",
            "-o", str(out_dir),
        ],
        spark=spark,
    )
    ml_dir = out_dir / "ml_analysis"
    results = pd.read_csv(ml_dir / "ml_results.csv")
    programs = set(results["program"])
    assert "taxaHFE-ML" in programs
    assert any(p.startswith("summarized_level_") for p in programs)
    raw = pd.read_csv(ml_dir / "raw_predictions.csv")
    assert {".pred_class", "feature_of_interest", ".model_input_type"} <= set(
        raw.columns
    )
    assert set(raw[".model_input_type"]) == {"train", "test"}
    dummy = pd.read_csv(ml_dir / "dummy_model_results.csv")
    assert {"seed", "bal_accuracy", "f_meas", "accuracy"} <= set(dummy.columns)
    level_csvs = glob.glob(str(out_dir / "summarized_level_*_11.csv"))
    assert level_csvs, "per-level matrix CSVs missing"


def test_run_hfe_ml_shap_writes_ranking_and_beeswarm(tmp_path, spark):
    """--shap writes the S9 artifact pair: shap_ranking.csv (M11/W3) and
    the beeswarm SVG (the shapviz-PDF analog, lib/shap_funcs.R:104-111)."""
    import xml.etree.ElementTree as ET

    from taxahfe_spark import cli

    meta_path, data_path = _write_inputs(tmp_path)
    out_dir = tmp_path / "out"
    cli.main(
        [
            "run-hfe-ml", meta_path, data_path,
            "-s", "Sample", "-l", "Category", "-t", "factor",
            "-p", "0.01", "-L", "2", "--nperm", "2", "-n", "4",
            "--model", "rf", "--folds", "2", "--cv_repeats", "1",
            "--tune_length", "1", "--seed", "11", "--shap",
            "-o", str(out_dir),
        ],
        spark=spark,
    )
    ml_dir = out_dir / "ml_analysis"
    ranking = pd.read_csv(ml_dir / "shap_ranking.csv")
    assert {"feature", "mean_abs_shap", "rank"} <= set(ranking.columns)
    assert (ranking["rank"] <= 10).all()  # slice_head(10), W3
    svg_path = ml_dir / "shap_beeswarm.svg"
    assert svg_path.exists(), "beeswarm SVG missing"
    root = ET.fromstring(svg_path.read_text())
    assert root.tag.endswith("svg")
    # every ranked feature appears as an axis label in the plot
    texts = {t.text for t in root.iter() if t.tag.endswith("text")}
    assert set(ranking["feature"]) <= texts


def test_run_hfe_ml_leaves_nothing_cached(tmp_path, spark, monkeypatch):
    """run-hfe-ml releases every cache it makes (the split, the train/test
    matrices and trees, dietML's frames), on the driver paths and under
    TAXAHFE_DISTRIBUTED=1: after cli.main returns, the session holds no
    persisted RDD and no cached Dataset."""
    from taxahfe_spark import cli

    meta_path, data_path = _write_inputs(tmp_path)
    for mode in ("0", "1"):
        monkeypatch.setenv("TAXAHFE_DISTRIBUTED", mode)
        spark.catalog.clearCache()
        for rdd in spark.sparkContext._jsc.getPersistentRDDs().values():
            rdd.unpersist()
        cli.main(
            [
                "run-hfe-ml", meta_path, data_path,
                "-s", "Sample", "-l", "Category", "-t", "factor",
                "-p", "0.01", "-L", "2", "--nperm", "2", "-n", "4",
                "--model", "rf", "--folds", "2", "--cv_repeats", "1",
                "--tune_length", "1", "--seed", "11", "--shap",
                "--summarized_levels", "-o", str(tmp_path / f"out{mode}"),
            ],
            spark=spark,
        )
        assert dict(spark.sparkContext._jsc.getPersistentRDDs()) == {}, mode
        assert spark._jsparkSession.sharedState().cacheManager().isEmpty(), mode


def test_second_run_hfe_ml_compiles_no_class(tmp_path, spark):
    """A second identical run-hfe-ml --shap in one session finds every
    generated class it needs in the session's cache (``session`` module
    docstring), so it compiles none, and its ml_analysis artifacts are
    byte-identical to the first run's."""
    from taxahfe_spark import cli
    from test_session import compiled_classes

    meta_path, data_path = _write_inputs(tmp_path)
    compiled, artifacts = [], []
    for run in ("first", "second"):
        out_dir = tmp_path / run
        before = compiled_classes(spark)
        cli.main(
            [
                "run-hfe-ml", meta_path, data_path,
                "-s", "Sample", "-l", "Category", "-t", "factor",
                "-p", "0.01", "-L", "2", "--nperm", "2", "-n", "4",
                "--model", "rf", "--folds", "2", "--cv_repeats", "1",
                "--tune_length", "1", "--seed", "11", "--shap",
                "-o", str(out_dir),
            ],
            spark=spark,
        )
        compiled.append(compiled_classes(spark) - before)
        ml_dir = out_dir / "ml_analysis"
        artifacts.append(
            {f.name: f.read_bytes() for f in sorted(ml_dir.iterdir()) if f.is_file()}
        )
    assert compiled[1] == 0, compiled
    assert artifacts[0] and artifacts[0] == artifacts[1]


_NO_WORKER_SCRIPT = """
import sys
from taxahfe_spark import cli
from taxahfe_spark.session import get_spark

spark = get_spark("no_python_worker", master="local[2]", shuffle_partitions=4)
meta_path, data_path, out_dir = sys.argv[1:4]
cli.main(
    [
        "run-hfe-ml", meta_path, data_path,
        "-s", "Sample", "-l", "Category", "-t", "factor",
        "-p", "0.01", "-L", "2", "--nperm", "2", "-n", "4",
        "--model", "rf", "--folds", "2", "--cv_repeats", "1",
        "--tune_length", "1", "--seed", "11", "--shap", "-o", out_dir,
    ],
    spark=spark,
)
idle = spark._jvm.org.apache.spark.SparkEnv.get().pythonWorkers().isEmpty()
print("PYTHON_WORKERS_IDLE", idle)
spark.stop()
"""


def test_run_hfe_ml_starts_no_python_worker(tmp_path):
    """Every frame run-hfe-ml builds from driver-side data is an Arrow local
    relation, so a fresh session that runs it never starts a Spark Python
    worker (the daemon and its workers hold ~300 MB)."""
    import subprocess
    import sys

    meta_path, data_path = _write_inputs(tmp_path)
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = {
        **os.environ,
        "SPARK_DRIVER_MEMORY": "1g",
        "PYTHONPATH": os.pathsep.join([repo, os.environ.get("PYTHONPATH", "")]),
    }
    env.pop("TAXAHFE_DISTRIBUTED", None)
    r = subprocess.run(
        [sys.executable, "-c", _NO_WORKER_SCRIPT, meta_path, data_path,
         str(tmp_path / "out")],
        env=env, capture_output=True, text=True, timeout=600,
    )
    assert r.returncode == 0, r.stderr[-3000:]
    assert "PYTHON_WORKERS_IDLE True" in r.stdout, r.stdout[-3000:]
