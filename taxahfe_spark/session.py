"""SparkSession construction with scale-appropriate defaults.

Local mode is a single JVM; on a real cluster the same config block applies
per-executor. AQE is always on (runtime coalesce + skew-join splitting), Arrow
is always on (every pandas UDF crosses the JVM/Python boundary in columnar
batches), and the session timezone is pinned to UTC so results compare
bit-for-bit against UTC-naive engines (DuckDB oracle).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = 32


def driver_side(size: int, limit: int) -> bool:
    """The one driver-vs-distributed policy: work of ``size`` units runs on
    the driver when it is at most ``limit`` (each caller's named constant),
    unless ``TAXAHFE_DISTRIBUTED=1`` pins every caller to its distributed
    path — the parity tests and the scaling runner need those paths at
    small sizes."""
    return size <= limit and os.environ.get("TAXAHFE_DISTRIBUTED") != "1"


def get_spark(
    app_name: str = "taxahfe_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession.

    master defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, default 32). On a
    real cluster pass ``master=None`` and let spark-submit decide.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        try:
            n = int(master.split("[")[1].rstrip("]*")) if "[" in master else 32
        except ValueError:
            n = 32
        shuffle_partitions = max(8, n)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.ui.enabled", os.environ.get("SPARK_UI", "false"))
        # local mode: the driver JVM IS the executor. 30g = the sweet spot:
        # big enough that 32 concurrent tasks' agg state doesn't thrash GC,
        # but under the 32g CompressedOops cliff (a 64g heap measured 10x
        # SLOWER on allocation-heavy aggregations than 16g on this box)
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "30g"))
        # Broadcast threshold: taxonomy skeletons / metadata dims are small by
        # design; 64MB keeps them broadcast even at large taxonomies.
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
