"""Physical-plan audit: assert the scale-determining plan properties hold.

The properties below are what actually decide 100 TB behavior (predicate
pushdown, column pruning, broadcast vs shuffle joins, Exchange reuse across
the window chain, whole-stage codegen in the hot path). This script checks
them MECHANICALLY from `.explain`-level plan text, so plan regressions fail
loudly instead of silently costing a shuffle.

Usage: python tools/explain_audit.py [sf_dir]   (default sf0.01)
"""

from __future__ import annotations

import os
import re
import sys
from unittest import mock

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402


def plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def subtree(p: str, node: str) -> str:
    """The plan-text lines below the first ``node`` operator."""
    lines = p.splitlines()
    i = next((i for i, line in enumerate(lines) if node in line), None)
    if i is None:
        return ""
    col = lines[i].index(node)
    out = []
    for line in lines[i + 1:]:
        if len(line) <= col or line[:col].strip(" :") or line[col].isalnum():
            break
        out.append(line)
    return "\n".join(out)


def local_scan(p: str) -> bool:
    """A driver-built frame's plan: a LocalTableScan and no scan of an RDD
    (``Scan ExistingRDD`` is what a list-built frame's pickled rows give)."""
    return "LocalTableScan" in p and "Scan ExistingRDD" not in p


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    from taxahfe_spark.session import get_spark

    spark = get_spark("explain_audit", master="local[8]", shuffle_partitions=8)
    failures: list[str] = []

    def check(name: str, ok: bool, detail: str = "") -> None:
        print(f"{'OK  ' if ok else 'FAIL'} {name}" + (f" ({detail})" if detail else ""))
        if not ok:
            failures.append(name)

    # 1. predicate pushdown + column pruning reach the parquet scan
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    q = li.filter(F.col("l_shipdate") <= "1995-01-01").select("l_orderkey", "l_quantity")
    p = plan(q)
    check(
        "scan pushdown: filter reaches parquet",
        "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in p,
    )
    check(
        "scan pruning: 3-column ReadSchema for a 16-column table",
        "ReadSchema: struct<l_orderkey" in p and "l_extendedprice" not in p.split("ReadSchema")[1],
    )

    # 2. small-dim join is broadcast, not shuffled
    cu = spark.read.parquet(f"{sf_dir}/customer.parquet")
    na = spark.read.parquet(f"{sf_dir}/nation.parquet")
    p = plan(cu.join(F.broadcast(na), cu.c_nationkey == na.n_nationkey))
    check("dim join: BroadcastHashJoin", "BroadcastHashJoin" in p)

    # 3. the composed window chain (sessionize -> lag/lead -> LOCF) reuses
    #    ONE Exchange for the shared (user_id) partitioning
    from taxahfe_spark.operators.windows import lag_lead_features, locf, sessionize

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    chain = locf(
        lag_lead_features(
            sessionize(ev, "user_id", "ts", 3600.0, tiebreak="event_id"),
            "user_id", "ts", ["value"], tiebreak="event_id",
        ).withColumn("cv", F.when(F.col("event_type") == "click", F.col("value"))),
        "user_id", "ts", ["cv"], tiebreak="event_id",
    )
    p = plan(chain)
    n_exchange = p.count("Exchange hashpartitioning")
    check("window chain: single Exchange", n_exchange == 1, f"found {n_exchange}")

    # 4. as-of join (union strategy): one shuffle total, no join operator
    from taxahfe_spark.operators.asof import asof_join

    snap = (
        spark.read.parquet(f"{sf_dir}/orders.parquet")
        .groupBy(F.col("o_custkey").alias("user_id"), F.col("o_orderdate").alias("snap_ts"))
        .agg(F.max("o_totalprice").alias("o_totalprice"))
    )
    p = plan(
        asof_join(
            ev.select("event_id", "user_id", "ts"), snap, on="user_id",
            left_ts="ts", right_ts="snap_ts", value_cols=["o_totalprice"],
            strategy="union",
        )
    )
    check(
        "as-of union strategy: no SortMergeJoin (union+window instead)",
        "SortMergeJoin" not in p,
    )

    # 5. distributed rollup: ONE exchange for every missing ancestor, with
    #    map-side partial aggregation before it. The result is persisted, so
    #    its plan is the cached adaptive plan; count the executed (final)
    #    plan, not the initial one printed below it
    from taxahfe_spark.taxonomy import hierarchical_rollup

    long = spark.createDataFrame(
        [("a|b|c", "e1", 1.0), ("a|b|d", "e1", 2.0), ("a|x|y|z", "e2", 3.0)],
        "clade_name string, entity_id string, value double",
    )
    with mock.patch.dict(os.environ, {"TAXAHFE_DISTRIBUTED": "1"}):
        p = plan(hierarchical_rollup(long)).split("== Initial Plan ==")[0]
    check(
        "rollup: partial_sum before the exchange (map-side combine)",
        "partial_sum" in p,
    )
    n_exchange = p.count("Exchange hashpartitioning")
    check("rollup: exactly one Exchange hashpartitioning", n_exchange == 1,
          f"found {n_exchange}")

    # 5b. taxa_hfe_ml on a driver-sized tree: the test matrix densifies the
    #     test tree's vectors into a local relation (and the split is one),
    #     so its plan has no pivot and no shuffle
    from taxahfe_spark.ml import taxa_hfe_ml
    from taxahfe_spark.operators.competition import CompetitionParams

    subjects = [f"s{i}" for i in range(20)]
    meta = spark.createDataFrame(
        [(s, "x" if i % 2 else "y") for i, s in enumerate(subjects)],
        "subject_id string, feature_of_interest string",
    )
    long = spark.createDataFrame(
        [
            (path, s, float((i % 2) * 3 + k + (i % 5) * 0.1))
            for i, s in enumerate(subjects)
            for k, path in enumerate(("k__m|p__a|g__b", "k__m|p__c", "k__z"))
        ],
        "clade_name string, entity_id string, value double",
    )
    _, test_matrix, _, _ = taxa_hfe_ml(
        meta, long,
        params=CompetitionParams(lowest_level=1, nperm=2, num_trees=5, seed=3),
        seed=3,
    )
    p = plan(test_matrix)
    check("taxa_hfe_ml test matrix (driver tree): no Pivot",
          not re.search("pivot", p, re.I))
    n_exchange = p.count("Exchange hashpartitioning")
    check("taxa_hfe_ml test matrix (driver tree): no Exchange hashpartitioning",
          n_exchange == 0, f"found {n_exchange}")

    # 5c. frames built from driver-side data are Arrow local relations, so
    #     no Python worker decodes pickled rows: the build side of
    #     taxa_hfe's entity semi-join is a LocalTableScan
    from taxahfe_spark import pipeline

    hfe_params = CompetitionParams(lowest_level=1, nperm=2, num_trees=5, seed=3)
    pipeline.taxa_hfe(meta, long, params=hfe_params)[0].unpersist()  # see 14.

    frame_cls = type(meta)  # the session's DataFrame implementation
    seen: dict[str, list[str]] = {"semi_join": [], "broadcast": [], "shuffle": []}
    resolve_tree = pipeline.resolve_tree

    def record_semi_join(long_df, **kwargs):
        seen["semi_join"].append(plan(long_df))
        return resolve_tree(long_df, **kwargs)

    # 5d. the driver collects a distributed competition stage's rows as the
    #     Python runner yields them, with no second exchange: no Aggregate
    #     above MapInPandas (broadcast strategy) or FlatMapGroupsInPandas
    #     (shuffle strategy) in the collected frame's plan. A broadcast
    #     stage's runner reads its tasks from its closure over a range: no
    #     Exchange (a job of its own under AQE) and no pickled rows below it
    from taxahfe_spark.operators import competition

    runner = re.compile(r"MapInPandas|FlatMapGroupsInPandas")
    strategy = ["broadcast"]

    def recording(method):
        real = getattr(frame_cls, method)

        def record_collect(df, *args, **kwargs):
            p = plan(df)
            if "competition_id" in p and runner.search(p):
                seen[strategy[0]].append(p)
            return real(df, *args, **kwargs)

        return mock.patch.object(frame_cls, method, record_collect)

    with mock.patch.dict(os.environ, {"TAXAHFE_DISTRIBUTED": "1"}), \
            mock.patch.object(pipeline, "resolve_tree", record_semi_join), \
            recording("collect"), recording("toArrow"), recording("toPandas"):
        for name, budget in (("broadcast", competition.BROADCAST_MAX_BYTES),
                             ("shuffle", 0)):
            strategy[0] = name
            with mock.patch.object(competition, "BROADCAST_MAX_BYTES", budget):
                pipeline.taxa_hfe(meta, long, params=hfe_params)
    build = [subtree(p, "BroadcastExchange") for p in seen["semi_join"]]
    check("taxa_hfe entity semi-join: build side is a LocalTableScan, no RDD scan",
          bool(build) and all(local_scan(b) for b in build), "; ".join(build))
    below = [subtree(p, "MapInPandas") for p in seen["broadcast"]]
    check("competition stage (broadcast): the runner's input has no Exchange "
          "and no RDD scan",
          bool(below) and all(
              b and "Exchange" not in b and "Scan ExistingRDD" not in b for b in below
          ),
          f"{len(below)} collected stages")
    for name in ("broadcast", "shuffle"):
        above = [p[: runner.search(p).start()] for p in seen[name]]
        check(f"competition stage ({name}): the driver collects the runner's rows, "
              "no Aggregate above it",
              bool(above) and not any("Aggregate" in a for a in above),
              f"{len(above)} collected stages")

    # 6. whole-stage codegen covers the text/token hot path (no Python UDFs)
    from taxahfe_spark.tokens import tokenize

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    p = plan(tokenize(docs, "text", "doc_id"))
    check("tokenize: no Python row UDFs", "BatchEvalPython" not in p)
    # AQE prints codegen spans as "*(n)" only inside finalized (sub)plans;
    # the top-level AdaptiveSparkPlan is not final before execution
    check("tokenize: whole-stage codegen spans present", "*(" in p)

    # 7. minhash: no exchange between the pre-explode respread and the
    #    partial aggregation (the explode/hash pipeline stays fused)
    from taxahfe_spark.operators.dedup import minhash_signatures

    p = plan(minhash_signatures(docs))
    check("minhash: partial min agg before exchange", "partial_min" in p)

    #    LSH: the band buckets are one aggregate, so there is exactly one
    #    exchange keyed on the band and no (band_idx, band_hash) self-join
    from taxahfe_spark.operators.dedup import minhash_lsh_pairs

    sigs = minhash_signatures(docs)
    p = plan(minhash_lsh_pairs(sigs))
    sigs.unpersist()
    n_exchange = len(re.findall(r"Exchange hashpartitioning\(band_idx#\d+, band_hash#\d+L?,", p))
    check("minhash LSH: exactly one Exchange on (band_idx, band_hash)", n_exchange == 1,
          f"found {n_exchange}")
    check("minhash LSH: no join on band_hash", not re.search(r"Join \[[^\]]*band_hash", p))

    # 8. dietML path: NO unpartitioned window anywhere (an unpartitioned
    #    windowspecdefinition starts with an ORDER col, i.e. "col#N ASC|DESC";
    #    a partitioned one lists partition cols first) — the round-2 global
    #    ntile/rank trio funnelled every row through one task
    def unpartitioned_windows(p: str) -> list[str]:
        return re.findall(r"windowspecdefinition\(\w+#\d+L? (?:ASC|DESC)", p)

    from taxahfe_spark.dietml import fold_assignments, stratified_split
    from taxahfe_spark.functions.metrics import midrank_frame

    ev_num = ev.select(
        F.col("event_id").cast("string").alias("subject_id"),
        F.col("value").alias("feature_of_interest"),
    )
    p = plan(stratified_split(ev_num, feature_type="numeric"))
    check("dietML strata: no unpartitioned window", not unpartitioned_windows(p))
    p = plan(fold_assignments(ev_num, feature_type="numeric", folds=3, repeats=2))
    check("dietML folds: no unpartitioned window", not unpartitioned_windows(p))
    pred = ev.select(
        F.when(F.col("event_type") == "click", "a").otherwise("b").alias("truth"),
        (F.col("value") / (F.col("value") + 1)).alias("prob"),
    )
    p = plan(midrank_frame(pred, "truth", "prob", "a"))
    check("AUC midranks: no unpartitioned window", not unpartitioned_windows(p))
    check("AUC midranks: no SinglePartition exchange", "SinglePartition" not in p)

    # 9. IVF ANN: the inverted-list probing is fused into the corpus scan —
    #    zero Exchange before the mapInPandas scorer (the only shuffle in the
    #    whole query is the final bounded top-k window over local-top-k rows)
    from taxahfe_spark.operators.similarity import ivf_topk

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    p = plan(ivf_topk(emb.filter("vec_id < 5"), emb, k=3, n_centroids=4, nprobe=2))
    scan_side = p.split("MapInPandas")[-1]  # plan text below the scorer
    check(
        "IVF: no Exchange between parquet scan and the scoring pass",
        "Exchange" not in scan_side,
    )
    n_exchange = p.count("Exchange hashpartitioning")
    check("IVF: exactly one Exchange total (final top-k window)", n_exchange == 1,
          f"found {n_exchange}")

    # 10. exact-dedup family: unique rows kept IN PLACE via broadcast anti
    #     join — the array/text payload never enters an exchange for unique
    #     rows; the ONLY exchange whose partitioning keys include the payload
    #     column is the dup-group tie-break window (dup rows only)
    from taxahfe_spark.operators.dedup import exact_dedup
    from taxahfe_spark.tokens import dedup_sequences, tokenize

    seqs = tokenize(docs, "text", "doc_id")
    p = plan(dedup_sequences(seqs))
    check("dedup_sequences: no SortMergeJoin anywhere", "SortMergeJoin" not in p)
    check(
        "dedup_sequences: broadcast LeftAnti keeps unique rows in place",
        "BroadcastHashJoin" in p and "LeftAnti" in p,
    )
    ex_keys = re.findall(r"Exchange hashpartitioning\(([^)]*)\)", p)
    tok_ex = [k for k in ex_keys if "tokens#" in k]
    check(
        "dedup_sequences: tokens exchanged ONLY for the dup-group window",
        len(tok_ex) <= 1,
        f"payload-carrying exchanges: {tok_ex}",
    )
    p = plan(exact_dedup(docs))
    check("exact_dedup: no SortMergeJoin anywhere", "SortMergeJoin" not in p)
    check(
        "exact_dedup: broadcast LeftAnti keeps unique rows in place",
        "BroadcastHashJoin" in p and "LeftAnti" in p,
    )
    ex_keys = re.findall(r"Exchange hashpartitioning\(([^)]*)\)", p)
    txt_ex = [k for k in ex_keys if "text#" in k]
    check(
        "exact_dedup: document text never enters an exchange",
        len(txt_ex) == 0,
        f"payload-carrying exchanges: {txt_ex}",
    )

    # 11. round-6 token-shape quality operators: the corpus-sized exchanged
    #     streams carry 8-byte keys/positions, never token arrays or text
    from taxahfe_spark.operators.textstats import repetition_stats
    from taxahfe_spark.tokens import substring_dedup, unigram_logprob

    p = plan(substring_dedup(seqs, k=3))
    ex_keys = re.findall(r"Exchange hashpartitioning\(([^)]*)\)", p)
    tok_ex = [k for k in ex_keys if "tokens#" in k]
    check(
        "substring_dedup: token arrays never keyed into an exchange",
        len(tok_ex) == 0,
        f"payload-keyed exchanges: {tok_ex}",
    )
    check(
        "substring_dedup: dup-hash probe is a broadcast semi join",
        "BroadcastHashJoin" in p and "LeftSemi" in p,
    )
    p = plan(unigram_logprob(seqs))
    check(
        "unigram_logprob: frequency lookup is a broadcast join, no Python",
        "BroadcastHashJoin" in p
        and "mapInPandas" not in p
        and "BatchEvalPython" not in p,
    )
    p = plan(repetition_stats(docs))
    check(
        "repetition_stats: pure JVM (no Python eval) and no text in "
        "exchange keys",
        "BatchEvalPython" not in p
        and "mapInPandas" not in p
        and not [
            k
            for k in re.findall(r"Exchange hashpartitioning\(([^)]*)\)", p)
            if "text#" in k
        ],
    )

    # 12. round-7 operators: retrieval top-k is a per-partition heap cut;
    #     budget_mix is a pure projection (zero Exchange above the scan);
    #     DSIR scoring joins the broadcast bucket-LM frame, no Python
    from taxahfe_spark.operators.retrieval import bm25_topk
    from taxahfe_spark.operators.selection import dsir_logweights
    from taxahfe_spark.tokens import budget_mix

    p = plan(bm25_topk(docs, "spark data engine", k=10, materialize=False))
    check(
        "bm25_topk: TakeOrderedAndProject cut, no Python in the hot path",
        "TakeOrderedAndProject" in p
        and "BatchEvalPython" not in p
        and "mapInPandas" not in p,
    )
    p = plan(
        budget_mix(
            docs.select("doc_id", "source", "n_chars"),
            budget_tokens=1e6, tau=0.7, ntok_col="n_chars",
        )
    )
    check(
        "budget_mix: pure projection — zero Exchange, zero Window, no Python",
        "Exchange" not in p and "Window" not in p and "BatchEvalPython" not in p,
    )
    p = plan(
        dsir_logweights(
            docs.select("doc_id", "text"),
            docs.select("doc_id", "text").limit(50),
            n_buckets=256,
        )
    )
    check(
        "dsir_logweights: broadcast bucket-LM join, no Python, no text in "
        "exchange keys",
        "BroadcastHashJoin" in p
        and "BatchEvalPython" not in p
        and not [
            k
            for k in re.findall(r"Exchange hashpartitioning\(([^)]*)\)", p)
            if "text#" in k
        ],
    )

    # 13. round-7 second wave: bigram LM shuffles carry no arrays; the BPE
    #     merge fold is built-ins only; rolling_stats is ONE Exchange; CMS
    #     probes the broadcast cell grid
    from taxahfe_spark.operators.bpe import _char_syms, _merge_fold, word_counts
    from taxahfe_spark.operators.lm import bigram_logprob
    from taxahfe_spark.operators.windows import rolling_stats
    from taxahfe_spark.tokens import cms_token_counts, tokenize

    seqs = tokenize(docs.limit(200), "text", "doc_id")
    p = plan(bigram_logprob(seqs))
    check(
        "bigram_logprob: no Python, no token arrays in exchange keys",
        "BatchEvalPython" not in p
        and "mapInPandas" not in p
        and not [
            k
            for k in re.findall(r"Exchange hashpartitioning\(([^)]*)\)", p)
            if "__tk#" in k or "tokens#" in k
        ],
    )
    cur = word_counts(docs).select("count", _char_syms("word").alias("syms"))
    p = plan(cur.withColumn("syms", _merge_fold(F.col("syms"), "a", "b")))
    check(
        "bpe merge step: in-task fold, zero Python eval",
        "BatchEvalPython" not in p and "PythonUDF" not in p,
    )
    p = plan(rolling_stats(ev, "user_id", "ts", "value", 3600))
    check(
        "rolling_stats: exactly one Exchange, no Python",
        len(re.findall(r"Exchange hashpartitioning", p)) == 1
        and "BatchEvalPython" not in p,
    )
    p = plan(cms_token_counts(seqs, width=256, depth=4))
    check(
        "cms_token_counts: broadcast cell-grid probe, no arrays in "
        "exchange keys",
        "BroadcastHashJoin" in p
        and not [
            k
            for k in re.findall(r"Exchange hashpartitioning\(([^)]*)\)", p)
            if "tokens#" in k
        ],
    )

    # 14. compile once: every check above compiled its own generated
    #     classes, yet a second identical taxa_hfe (the first ran in 5c)
    #     finds all of its classes still in the session's cache
    def compiled_classes() -> int:
        metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
        return metrics.METRIC_COMPILATION_TIME().getCount()

    before = compiled_classes()
    pipeline.taxa_hfe(meta, long, params=hfe_params)[0].unpersist()
    n_compiled = compiled_classes() - before
    check("taxa_hfe run again in the session: no generated class compiled",
          n_compiled == 0, f"compiled {n_compiled}")

    spark.stop()
    if failures:
        print(f"\n{len(failures)} plan properties FAILED: {failures}")
        sys.exit(1)
    print("\nall plan properties hold")


if __name__ == "__main__":
    main()
