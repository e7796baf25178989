"""Source reader tests: format gating, the sequence contract, Iceberg DDL
and partition pruning."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


def test_read_table_formats(spark, sf_dir):
    from taxahfe_spark.sources.readers import read_table

    df = read_table(spark, f"{sf_dir}/events.parquet")
    assert df.count() > 0


def test_iceberg_gated(spark):
    from taxahfe_spark.sources.readers import iceberg_available, read_table

    if iceberg_available(spark):
        pytest.skip("iceberg present in this env")
    with pytest.raises(RuntimeError, match="Iceberg runtime"):
        read_table(spark, "catalog.db.tbl", fmt="iceberg")


def test_tokenized_sequence_contract(spark, sf_dir, tmp_path):
    from taxahfe_spark.sources.readers import read_tokenized_sequences
    from taxahfe_spark.tokens import tokenize

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    seqs = tokenize(docs, "text", "doc_id", extra_cols=["source"]).select(
        F.col("doc_id").cast("string"), "tokens", "n_tok", "source"
    )
    p = str(tmp_path / "seqs.parquet")
    seqs.write.parquet(p)
    got = read_tokenized_sequences(spark, p)
    assert got.count() == docs.count()
    with pytest.raises(ValueError, match="missing columns"):
        read_tokenized_sequences(spark, f"{sf_dir}/events.parquet")


def test_iceberg_ddl_partition_contract(spark):
    """Mocked-catalog contract test for the Iceberg layout claims (the
    runtime jar is not fetchable in this sandbox — no network): vanilla
    Spark's v2 DDL parser validates ICEBERG_TABLE_DDL syntactically and the
    parsed plan must carry EXACTLY the claimed partition transforms —
    days(ts) for as-of time-range pruning and bucket(64, doc_id) for
    co-located point-in-time joins — plus the tokenized-sequence column
    contract (BASELINE.json input_hint)."""
    from taxahfe_spark.sources.readers import ICEBERG_TABLE_DDL

    ddl = ICEBERG_TABLE_DDL.format(catalog="cat", db="db")
    plan = spark._jsparkSession.sessionState().sqlParser().parsePlan(ddl)
    s = plan.toString()
    assert "days(ts)" in s
    assert "bucket(64, doc_id)" in s
    for col in ("doc_id", "tokens", "n_tok", "source", "ts"):
        assert col in s
    assert "iceberg" in s.lower()


def test_partition_pruning_mechanism_days_layout(spark, tmp_path):
    """Evidence for the days(ts)-pruning claim with the in-container engine:
    the SAME physical layout (directory-partitioned by day) must show the
    day predicate as a partition filter — scanning only the matching
    partition — when read through read_table. Iceberg's days(ts) transform
    prunes through the identical mechanism (partition-values metadata)."""
    from pyspark.sql import functions as F

    from taxahfe_spark.sources.readers import read_table

    df = spark.range(1000).select(
        F.concat(F.lit("d"), F.col("id").cast("string")).alias("doc_id"),
        F.array(F.lit(1), F.lit(2)).alias("tokens"),
        F.lit(2).alias("n_tok"),
        F.lit("web").alias("source"),
        F.date_add(F.lit("2026-01-01").cast("date"), (F.col("id") % 7).cast("int"))
        .alias("day"),
    )
    path = str(tmp_path / "seq_days.parquet")
    df.write.partitionBy("day").parquet(path)
    got = read_table(spark, path, fmt="parquet").filter(F.col("day") == "2026-01-03")
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    # the day predicate must appear among partition filters, NOT as a
    # post-scan data filter
    pf = [ln for ln in plan.splitlines() if "PartitionFilters" in ln]
    assert any("day" in ln for ln in pf)
    assert got.count() == df.filter(F.col("day") == "2026-01-03").count()


