"""Stage checkpointing with per-partition lineage + metrics (north rule).

A run is a DAG of named stages. Each stage is materialized to parquet under
``{base}/{run_id}/{stage}/data`` with a manifest recording:

- lineage: stage name, declared inputs, a fingerprint of the logical plan;
- per-partition metrics: rows per parquet file the stage wrote. A write
  task writes one file (one per partition directory under
  ``partition_by``), so this is rows per write task; ``n_partitions`` is
  the number of files and ``rows`` their total.

A commit runs no Spark job after the write: the row counts come from the
parquet footers of the written files, and the stage is read back with the
schema of the DataFrame it came from (no schema-inference job).

``checkpoint()`` is resume-aware: if the stage directory already carries a
committed manifest whose plan fingerprint matches, the stage is NOT
recomputed — the parquet is read back, truncating both work and lineage
(the iterative analog of the reference rerunning from saved flat files;
also how the level-loop competition survives a mid-run restart). The
commit and the resume read the stage back the same way, so the plans built
on top of it fingerprint the same.

The manifest is written AFTER the data (write-ahead data, commit-last), so a
crash mid-stage leaves no committed marker and the stage reruns cleanly.
"""

from __future__ import annotations

import hashlib
import json
import os
import re
import time

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

MANIFEST = "manifest.json"


def plan_fingerprint(df: DataFrame) -> str:
    """Stable fingerprint of the analyzed logical plan. Expression ids are
    normalized away, and lambda variables (``lambda x_12``, numbered by a
    JVM-wide counter) are renumbered by first appearance, so the same query
    built twice fingerprints identically, in one session or two."""
    plan = df._jdf.queryExecution().analyzed().toString()
    names: dict[str, int] = {}
    plan = re.sub(
        r"(lambda \w+?_)(\d+)#",
        lambda m: f"{m[1]}{names.setdefault(m[0], len(names))}#",
        plan,
    )
    plan = re.sub(r"#\d+L?", "#x", plan)
    return hashlib.sha256(plan.encode()).hexdigest()[:16]


def partition_metrics(data_path: str) -> list[dict]:
    """Rows per written parquet file, read from the file footers: no Spark
    job. ``partition`` is the number of the write task that wrote the file
    (the ``part-NNNNN`` of its name)."""
    out = []
    for root, dirs, files in os.walk(data_path):
        dirs.sort()
        for name in sorted(files):
            m = re.match(r"part-(\d+)", name)
            if m:
                rows = pq.read_metadata(os.path.join(root, name)).num_rows
                out.append({"partition": int(m[1]), "rows": rows})
    return out


class StageCheckpointer:
    def __init__(self, spark: SparkSession, base_dir: str, run_id: str):
        self.spark = spark
        self.base = os.path.join(base_dir, run_id)
        os.makedirs(self.base, exist_ok=True)

    def _paths(self, stage: str) -> tuple[str, str]:
        d = os.path.join(self.base, stage)
        return os.path.join(d, "data"), os.path.join(d, MANIFEST)

    def load_manifest(self, stage: str) -> dict | None:
        _, mpath = self._paths(stage)
        if os.path.exists(mpath):
            with open(mpath) as f:
                return json.load(f)
        return None

    def checkpoint(
        self,
        df: DataFrame,
        stage: str,
        inputs: list[str] | None = None,
        partition_by: list[str] | None = None,
        force: bool = False,
    ) -> DataFrame:
        """Materialize ``df`` as ``stage`` (or reuse the committed result)."""
        data_path, mpath = self._paths(stage)
        fp = plan_fingerprint(df)
        # the data columns' schema: partition columns are discovered from
        # the directory names, as schema inference would, so the read-back
        # equals spark.read.parquet(data_path) without its inference job
        schema = StructType([f for f in df.schema if f.name not in (partition_by or ())])
        read_back = self.spark.read.schema(schema).parquet
        manifest = self.load_manifest(stage)
        if manifest and manifest.get("plan_fingerprint") == fp and not force:
            return read_back(data_path)

        t0 = time.time()
        writer = df.write.mode("overwrite")
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.parquet(data_path)
        metrics = partition_metrics(data_path)
        with open(mpath + ".tmp", "w") as f:
            json.dump(
                {
                    "stage": stage,
                    "inputs": inputs or [],
                    "plan_fingerprint": fp,
                    "wall_seconds": round(time.time() - t0, 3),
                    "rows": sum(m["rows"] for m in metrics),
                    "n_partitions": len(metrics),
                    "partition_metrics": metrics,
                    "committed_at": time.time(),
                },
                f,
                indent=2,
            )
        os.replace(mpath + ".tmp", mpath)  # commit-last
        return read_back(data_path)

    def lineage(self) -> list[dict]:
        """All committed stage manifests for this run (audit surface)."""
        out = []
        if not os.path.isdir(self.base):
            return out
        for stage in sorted(os.listdir(self.base)):
            m = self.load_manifest(stage)
            if m:
                out.append(m)
        return out
