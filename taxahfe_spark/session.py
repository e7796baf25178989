"""SparkSession construction with scale-appropriate defaults.

Local mode is a single JVM; on a real cluster the same config block applies
per-executor. AQE is always on (runtime coalesce + skew-join splitting), Arrow
is always on (every pandas UDF crosses the JVM/Python boundary in columnar
batches), and the session timezone is pinned to UTC so results compare
bit-for-bit against UTC-naive engines (DuckDB oracle).

Every frame built from driver-side data (id lists, offset tables, small
pandas results) goes through :func:`local_frame`: it becomes an Arrow
``LocalRelation`` that lives in the JVM. ``spark.createDataFrame`` on a
Python list instead ships pickled rows that a Spark Python worker must
decode, so the first action that reads the frame starts the worker daemon
and its workers (about 300 MB on a driver-sized ``run-hfe-ml``); on an
empty pandas frame, or one Arrow fails on, it silently falls back to that
path.

Spark compiles every whole-stage generated class with Janino and keeps the
compiled classes in one JVM-wide cache keyed by the generated source
(``spark.sql.codegen.cache.maxEntries``, a static conf read when the first
class compiles). Spark's default of 100 entries is split by Guava into 4 LRU
segments of 25, and one job of this package does not fit: ``run-hfe-ml
--shap`` generates 89 distinct classes and the point-in-time pipeline
(dedup, tokenize, PIT features, windows, as-of) 157. So every warm job in a
long-lived session evicted its own classes and recompiled 29-58 (run-hfe-ml)
or 106-153 (PIT) of them, and the JIT then compiled the fresh classes
again. At :data:`CODEGEN_CACHE_ENTRIES` a repeated job compiles no class. A
fresh JVM compiles each class once either way, so one-shot CLI runs are
unchanged; the gain goes to every session that runs more than one job
(test suites, ``cli.main(argv, spark=...)`` callers, notebooks, a resume
in the same session).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

# Janino class cache entries (``spark.sql.codegen.cache.maxEntries``): room
# for several workloads' classes in one session (a repeated PIT job needs
# its 157). Measured with perfbench's local[4] session (2 GB heap, seed 7):
# warm PIT jobs compiled 106 and 153 classes at Spark's default and 0 here,
# warm run-hfe-ml --shap jobs 58 and 0; median timed-PIT-job CPU fell from
# 30.2 to 23.2 s over 8 alternating benchmark pairs (4-vCPU VM).
CODEGEN_CACHE_ENTRIES = 1000

# Rows up to which a corpus operator broadcasts a hash or key set (dup
# hashes, vocabularies, an eval cut, benchmark n-grams) instead of a shuffle
# join; read at call time. Not a driver_side gate: a broadcast of a small set
# is the at-scale plan, so TAXAHFE_DISTRIBUTED=1 leaves it on.
BROADCAST_MAX_ROWS = 5_000_000


def driver_side(size: int, limit: int) -> bool:
    """The one driver-vs-distributed policy: work of ``size`` units runs on
    the driver (or in one task) when it is at most ``limit``, unless
    ``TAXAHFE_DISTRIBUTED=1`` pins every caller to its distributed path —
    the parity tests and the scaling runner need those paths at small
    sizes. Callers: the rollup (``taxonomy.DRIVER_MAX_ROWS``), the
    competition pool (``competition.DRIVER_STAGE_MAX_CELLS``), the BPE
    trainer (``bpe.DRIVER_MAX_WORDS``) and the four ranks of
    ``tokens._running_total`` (``VOCAB_RANK_MAX_ROWS``: build_vocab,
    remap_tokens; ``DOC_RANK_MAX_ROWS``: epoch_shuffle, pack_sequences)."""
    return size <= limit and os.environ.get("TAXAHFE_DISTRIBUTED") != "1"


def local_frame(spark: SparkSession, data, schema: str | StructType | None) -> DataFrame:
    """A frame of driver-side ``data`` as an Arrow ``LocalRelation``.

    ``data`` is a sequence of row tuples or a pandas frame; ``schema`` is a
    DDL string (or a ``StructType``) whose fields match the rows or the
    frame's columns by position. A pandas frame may pass ``None`` to keep
    the types Arrow infers from its dtypes. Zero rows give an empty
    ``LocalRelation`` too, and data Arrow cannot convert to the schema
    raises: no input takes the pickled-rows path.
    """
    import pandas as pd
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    if isinstance(schema, str):
        schema = StructType.fromDDL(schema)
    if schema is None and isinstance(data, pd.DataFrame):
        return spark.createDataFrame(pa.Table.from_pandas(data, preserve_index=False))
    arrow = to_arrow_schema(schema)
    if isinstance(data, pd.DataFrame):
        # by position; pandas semantics, as in Spark's own Arrow path: NaN
        # and None are null
        values = [data.iloc[:, i] for i in range(data.shape[1])]
        convert = pa.Array.from_pandas
    else:
        rows = list(data)
        values = list(zip(*rows, strict=True)) if rows else [[]] * len(arrow)
        convert = pa.array
    if len(values) != len(arrow):
        raise ValueError(f"{len(values)} columns for a schema of {len(arrow)} fields")
    columns = [
        convert(v, type=f.type) if len(v) else pa.array([], type=f.type)
        for v, f in zip(values, arrow)
    ]
    return spark.createDataFrame(pa.Table.from_arrays(columns, schema=arrow), schema)


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
        # compile each generated class once per JVM (module docstring)
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
