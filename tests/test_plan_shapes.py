"""Mechanical plan-shape assertions for the round-6 operators — the same
explain-audit discipline as tools/explain_audit.py: the scan-only passes
must compile to zero Exchange and zero Python-UDF nodes (whole-stage
codegen all the way), and the chunked global-rank branch must use a
PARTITIONED window, never a one-task global sort.
"""

from __future__ import annotations


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_pii_scrub_and_gopher_are_scan_only(spark):
    """pii_scrub and gopher_rules: one scan, no shuffle, no Python."""
    from taxahfe_spark.operators.textstats import gopher_rules, pii_scrub

    df = spark.createDataFrame(
        [(1, "the cat sat"), (2, "a dog ran")], "doc_id long, text string"
    )
    for out in (pii_scrub(df), gopher_rules(df, min_words=1)):
        plan = _plan(out)
        assert "Exchange" not in plan, plan
        assert "PythonUDF" not in plan and "BatchEvalPython" not in plan, plan


def test_chunk_sequences_is_narrow(spark):
    """chunk_sequences: the window fan-out is an in-task generate — zero
    Exchange above the scan."""
    from taxahfe_spark.tokens import chunk_sequences

    df = spark.createDataFrame(
        [("a", list(range(100)), 100)], "doc_id string, tokens array<int>, n_tok int"
    )
    plan = _plan(chunk_sequences(df, max_len=16, stride=8))
    assert "Exchange" not in plan, plan
    assert "Generate" in plan  # posexplode fan-out, not a join/shuffle


def test_epoch_shuffle_chunked_branch_has_no_global_window(spark, monkeypatch):
    """Above DOC_RANK_MAX_ROWS (or under TAXAHFE_DISTRIBUTED=1) the rank
    window partitions by the md5 prefix — the plan must show a partitioned
    Window (no 'Window [...]' over a SinglePartition exchange)."""
    from taxahfe_spark.tokens import epoch_shuffle

    df = spark.createDataFrame([(i, "s") for i in range(400)], "doc_id long, source string")
    monkeypatch.setenv("TAXAHFE_DISTRIBUTED", "1")
    plan = _plan(epoch_shuffle(df, seed=2, epoch=0))
    # the global-sort smell is an Exchange SinglePartition feeding a Window
    assert "Exchange SinglePartition" not in plan, plan
    assert "__chunk" in plan  # prefix-partitioned window + offset join


def test_quality_scoring_is_codegen_only(spark):
    from taxahfe_spark.functions.quality_model import score_quality

    df = spark.createDataFrame([(1, "the cat sat on a mat")], "doc_id long, text string")
    plan = _plan(score_quality(df))
    assert "Exchange" not in plan, plan
    assert "PythonUDF" not in plan and "BatchEvalPython" not in plan, plan
