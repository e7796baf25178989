"""Checkpoint/lineage tests: commit-last semantics, resume skips recompute,
per-partition metrics recorded, no job after the write."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from taxahfe_spark.checkpointing import StageCheckpointer, partition_metrics


def test_checkpoint_resume(spark, tmp_path):
    cp = StageCheckpointer(spark, str(tmp_path), "run1")
    df = spark.range(1000).withColumn("v", F.col("id") * 2)
    out1 = cp.checkpoint(df, "stage_a", inputs=[])
    assert out1.count() == 1000
    m = cp.load_manifest("stage_a")
    assert m["rows"] == 1000
    assert m["n_partitions"] >= 1
    assert sum(p["rows"] for p in m["partition_metrics"]) == 1000
    committed = m["committed_at"]

    # same plan -> resume, no rewrite (manifest timestamp unchanged)
    out2 = cp.checkpoint(df, "stage_a", inputs=[])
    assert out2.count() == 1000
    assert cp.load_manifest("stage_a")["committed_at"] == committed

    # changed plan -> recompute
    df2 = spark.range(500).withColumn("v", F.col("id") * 3)
    out3 = cp.checkpoint(df2, "stage_a", inputs=[])
    assert out3.count() == 500
    assert cp.load_manifest("stage_a")["rows"] == 500


def test_lineage_chain(spark, tmp_path):
    cp = StageCheckpointer(spark, str(tmp_path), "run2")
    a = cp.checkpoint(spark.range(10), "a", inputs=[])
    b = cp.checkpoint(a.withColumn("x", F.col("id") + 1), "b", inputs=["a"])
    lin = cp.lineage()
    assert [m["stage"] for m in lin] == ["a", "b"]
    assert lin[1]["inputs"] == ["a"]
    assert all("plan_fingerprint" in m for m in lin)


def test_no_commit_marker_means_rerun(spark, tmp_path):
    cp = StageCheckpointer(spark, str(tmp_path), "run3")
    df = spark.range(100)
    cp.checkpoint(df, "s", inputs=[])
    # simulate crash: manifest lost, data present
    os.remove(os.path.join(str(tmp_path), "run3", "s", "manifest.json"))
    out = cp.checkpoint(df, "s", inputs=[])
    assert out.count() == 100
    assert cp.load_manifest("s") is not None


def test_competition_level_resume(spark, tmp_path):
    """A restarted competition with the same inputs + resume_dir skips every
    completed level (no Spark stages run) and reproduces the state exactly;
    changed params invalidate the checkpoint via the run fingerprint."""
    import numpy as np
    import pandas as pd

    from taxahfe_spark.operators.competition import CompetitionParams, TreeCompetition
    from taxahfe_spark.operators.filters import feature_filter_flags
    from taxahfe_spark.taxonomy import hierarchical_rollup, to_feature_vectors

    rng = np.random.default_rng(2)
    entities = [f"s{i}" for i in range(40)]
    label = np.array(["a"] * 20 + ["b"] * 20)
    rows = []
    for i, e in enumerate(entities):
        sig = 4.0 if label[i] == "a" else 0.5
        rows.append(("k__x|p__sig", e, float(sig + rng.normal(0, 0.2))))
        rows.append(("k__x|p__junk", e, float(abs(rng.normal(1, 0.3)))))
    long = spark.createDataFrame(rows, "clade_name string, entity_id string, value double")
    resolved = hierarchical_rollup(long)
    flags = (
        feature_filter_flags(resolved, 40, 0.0, 0.0)
        .select("path", "level", "passed_filters")
        .toPandas()
    )
    vectors = to_feature_vectors(resolved, entities)
    params = CompetitionParams(lowest_level=1, nperm=2, num_trees=20, seed=3)
    rdir = str(tmp_path / "resume")

    comp1 = TreeCompetition(vectors, flags, label, None, params)
    state1 = comp1.run(resume_dir=rdir)

    comp2 = TreeCompetition(vectors, flags, label, None, params)
    comp2._run_stage = None  # any Spark stage attempt would raise TypeError
    state2 = comp2.run(resume_dir=rdir)
    pd.testing.assert_frame_equal(state1, state2)

    # different seed -> fingerprint mismatch -> checkpoint ignored (stages
    # WOULD run; verify by the loader returning no completed levels)
    comp3 = TreeCompetition(
        vectors, flags, label, None,
        CompetitionParams(lowest_level=1, nperm=2, num_trees=20, seed=4),
    )
    assert comp3._load_progress(rdir) == []


def test_same_lambda_stage_built_twice_resumes(spark, tmp_path):
    """Lambda variables are numbered by a JVM-wide counter (x_12, x_13, ...);
    the fingerprint renumbers them, so a stage built again in the same
    session fingerprints like the committed one and is reused."""
    cp = StageCheckpointer(spark, str(tmp_path), "run4")

    def build():
        arr = spark.range(6).select(F.array("id", F.col("id") + 1).alias("a"))
        return arr.select(
            F.filter("a", lambda x: x > 2).alias("b"),
            F.aggregate("a", F.lit(0).cast("long"), lambda acc, v: acc + v).alias("s"),
        )

    cp.checkpoint(build(), "lam", inputs=[])
    committed = cp.load_manifest("lam")["committed_at"]
    out = cp.checkpoint(build(), "lam", inputs=[])
    assert cp.load_manifest("lam")["committed_at"] == committed
    assert sorted(r["s"] for r in out.collect()) == [1, 3, 5, 7, 9, 11]


def _new_jobs(sc, action) -> int:
    """Spark jobs started by ``action`` (the test_bpe job-count idiom)."""
    tracker = sc.statusTracker()
    before = max(tracker.getJobIdsForGroup() or [0])
    action()
    return max(tracker.getJobIdsForGroup() or [0]) - before


def test_commit_runs_no_job_beyond_its_write(spark, tmp_path):
    """A commit of a narrow stage runs the write's jobs and nothing else: no
    per-partition metrics job and no schema-inference read. The footer
    metrics still add up to the stage's row count."""
    cp = StageCheckpointer(spark, str(tmp_path), "run5")
    df = spark.range(0, 5000, 1, 3).withColumn("v", F.col("id") * 2)
    sc = spark.sparkContext
    n_write = _new_jobs(sc, lambda: df.write.parquet(str(tmp_path / "plain")))
    n_commit = _new_jobs(sc, lambda: cp.checkpoint(df, "narrow", inputs=[]))
    assert n_commit == n_write, (n_commit, n_write)
    m = cp.load_manifest("narrow")
    assert m["rows"] == sum(p["rows"] for p in m["partition_metrics"]) == df.count()
    assert m["n_partitions"] == len(m["partition_metrics"]) == 3


@pytest.mark.parametrize("partition_by", [None, ["k"]])
def test_read_back_schema_matches_inference(spark, tmp_path, partition_by):
    """The stage is read back with the DataFrame's own schema, yet the result
    is what schema inference gives (nullable fields; partition columns last,
    typed from the directory names)."""
    cp = StageCheckpointer(spark, str(tmp_path), "run6")
    df = spark.range(40).select(
        "id",
        (F.col("id") % 3).alias("k"),
        F.array("id").alias("arr"),
        F.struct(F.col("id").cast("string").alias("s")).alias("st"),
    )
    out = cp.checkpoint(df, "st", inputs=[], partition_by=partition_by)
    data = os.path.join(str(tmp_path), "run6", "st", "data")
    assert out.schema == spark.read.parquet(data).schema
    assert out.count() == cp.load_manifest("st")["rows"] == 40
    assert cp.load_manifest("st")["partition_metrics"] == partition_metrics(data)
    resumed = cp.checkpoint(df, "st", inputs=[], partition_by=partition_by)
    assert resumed.schema == out.schema
