"""Per-round benchmark: headline queries at $SPARK_GRAFT_SF_DIR on
local[$SPARK_GRAFT_CPUS]; prints ONE JSON line
{"metric", "value", "unit", "queries", "sf", ...}.

--scaling runs the identical suite at local[8] and local[32] on the same
input and reports throughput at both plus scaling efficiency
eta = throughput(32) / (4 * throughput(8)) — the sandbox proxy for the
north rule's N vs 4N executor criterion (see BASELINE.md).
"""

from __future__ import annotations

import json
import os
import sys
import time


def _materialize(df) -> int:
    """Fully evaluate a query result and return its row count.

    NOT ``df.count()``: under count() Catalyst prunes every column and with
    them entire operator pipelines — the asof/window family's count plan is
    literally a bare parquet row scan (verified round 4: optimizedPlan of
    ``asof_join(...).groupBy().count()`` contains no Window at all), so a
    timed count can measure nothing. Hashing EVERY output column per row
    and summing the hashes forces full evaluation; map-typed columns (not
    hashable in Spark) go through to_json first. The count rides along in
    the same single pass.
    """
    from pyspark.sql import functions as F

    cols = [
        F.to_json(F.col(c)) if t.startswith("map") else F.col(c)
        for c, t in df.dtypes
    ]
    row = (
        df.select(F.xxhash64(*cols).alias("__h"))
        .agg(F.count(F.lit(1)).alias("n"), F.bit_xor("__h").alias("h"))
        .first()
    )  # bit_xor, not sum: ANSI mode raises on int64 sum overflow
    return int(row["n"])


def _suite(spark, sf_dir: str) -> dict[str, tuple[float, int]]:
    """name -> (seconds, output_rows). Each query is fully materialized via
    the all-columns hash sum (_materialize — no driver collect of data)."""
    import __spark_entry__ as em

    headline = [
        "hfe_rollup",
        "hfe_filters",
        "asof_events_orders",
        "asof_events_orders_salted",
        "sessionize_events",
        "session_stats_events",
        "locf_events",
        "lag_lead_events",
        "tokenize_docs",
        "token_rollup_docs",
        "pit_token_features",
        "minhash_dedup_docs",
        "cosine_topk_embeddings",
        "hfe_collapse",
    ]
    qs = dict(em.queries())

    # the queries() entry runs the md5-lane ORACLE variant (32 lanes, DuckDB-
    # replayable); the bench measures the PRODUCTION path (64 xxhash64
    # lanes) so round-over-round numbers stay comparable
    def _minhash_prod(spark, sf_dir):
        from pyspark.sql import functions as F

        from taxahfe_spark.operators.dedup import minhash_dedup

        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        return minhash_dedup(docs, threshold=0.8).select("doc_id", "lang", "source")

    qs["minhash_dedup_docs"] = _minhash_prod
    # MEDIAN-of-N (BENCH_REPS, default 3) after ONE untimed warm-up rep.
    # Round-3 post-mortem: the recorded hfe_collapse "regression" (23->34 s)
    # was first-run cost — whole-stage-codegen compilation of ~30 stages +
    # Arrow Python-worker spawn — not kernel time (measured cold 34.1 s,
    # warm 19-22 s on an idle box; minhash cold 12.7 s, warm 3.6 s). The
    # warm-up rep pays that once per query so the timed reps measure
    # steady-state compute; the median (not best-of) is robust to a busy-box
    # outlier without cherry-picking the luckiest rep.
    reps = int(os.environ.get("BENCH_REPS", "3"))
    out: dict[str, tuple[float, int, float]] = {}
    for name in headline:
        t0 = time.time()
        rows = _materialize(qs[name](spark, sf_dir))
        print(
            f"# {name}: warmup {time.time() - t0:.3f}s",
            file=sys.stderr,
            flush=True,
        )
        # per-query vCPU-steal delta over the TIMED reps: the round-5 record
        # was taken on a degraded host and only a judge rerun could prove it —
        # the default mode (what the driver records as BENCH_rN.json) now
        # carries the same evidence the --scaling/--replica modes already do
        steal0 = _steal_jiffies()
        times = []
        for _ in range(reps):
            # drop the previous rep's frame refs BEFORE timing: localCheckpoint
            # blocks (minhash loser set, collapse level states) are only
            # released by the ContextCleaner once Python GC collects the
            # DataFrame — without this, rep 3 ran against rep 1+2's pinned
            # blocks and measured storage pressure, not the query
            import gc

            gc.collect()
            # a persisted result (the distributed rollup) would otherwise
            # serve this rep from the previous rep's cache
            spark.catalog.clearCache()
            t0 = time.time()
            rows = _materialize(qs[name](spark, sf_dir))
            times.append(time.time() - t0)
        times.sort()
        med = times[len(times) // 2] if reps % 2 else (
            (times[reps // 2 - 1] + times[reps // 2]) / 2
        )
        steal = round((_steal_jiffies() - steal0) / 100.0, 1)
        out[name] = (round(med, 3), rows, steal)
        print(
            f"# {name}: median {out[name][0]}s of {[round(t, 3) for t in times]}"
            f" {rows} rows steal {steal}s",
            file=sys.stderr,
            flush=True,
        )
    return out


def _scaling_suite(spark, sf_dir: str) -> dict[str, tuple[float, int]]:
    """Scaled derived workload for the N-vs-4N parallelism measurement.

    The raw sf0.1 tables are too small to occupy 32 cores (fixed job overhead
    dominates and eta is meaningless), so each input is replicated
    deterministically (explode over a literal sequence — NO new data, same
    input for both parallelism levels) until every query is shuffle-bound
    for several seconds. This is the sandbox proxy for the north rule's
    N -> 4N executor criterion (BASELINE.md).
    """
    import time as _t

    from pyspark.sql import functions as F

    from taxahfe_spark.operators.asof import asof_join
    from taxahfe_spark.operators.dedup import minhash_dedup
    from taxahfe_spark.operators.filters import feature_filter_flags
    from taxahfe_spark.operators.similarity import cosine_topk
    from taxahfe_spark.operators.windows import lag_lead_features, locf, sessionize
    from taxahfe_spark.taxonomy import hierarchical_rollup
    from taxahfe_spark.tokens import build_vocab, token_count_rollup, tokenize, words

    par = spark.sparkContext.defaultParallelism
    # Per-input replication multipliers: each query class costs wildly
    # different amounts per replicated row (a minhash doc is ~1000x an asof
    # event), so ONE global knob cannot put every query in the 15-60s
    # measurement band at the low-parallelism leg — the round-4 fix after a
    # global MULT=6 made windows measurable but pushed minhash at local[2]
    # to ~20 min/rep. BENCH_SCALE_MULT still scales everything (legacy);
    # BENCH_SCALE_MULT_{WINDOWS,DOCS,EMB} override per class.
    mult = int(os.environ.get("BENCH_SCALE_MULT", "1"))
    wmult = int(os.environ.get("BENCH_SCALE_MULT_WINDOWS", str(8 * mult)))
    dmult = int(os.environ.get("BENCH_SCALE_MULT_DOCS", str(mult)))
    emult = int(os.environ.get("BENCH_SCALE_MULT_EMB", str(2 * mult)))
    # token_rollup's own knob: it shares the docs frame with minhash, whose
    # per-doc cost is ~10x higher, so amortizing the rollup leg through
    # dmult would push minhash far past the measurement band (r6)
    tmult = int(os.environ.get("BENCH_SCALE_MULT_TOKENS", str(dmult)))

    def rep(df, n, id_cols, mult=1):
        n = n * mult
        # respread the NARROW base table BEFORE the explode: repartitioning
        # the replicated stream afterwards (the pre-round-4 shape) both
        # bottlenecked generation on the parquet's few input tasks AND
        # shuffled the full n-times stream — a harness artifact that capped
        # measured asof scaling at ~1.2x for 4x cores. Exploding an already-
        # par-way-partitioned input generates in parallel with no big shuffle.
        out = df.repartition(par).withColumn(
            "__k", F.explode(F.sequence(F.lit(0), F.lit(n - 1)))
        )
        for c in id_cols:
            out = out.withColumn(c, F.col(c) * n + F.col("__k"))
        return out.drop("__k")

    ev = rep(
        spark.read.parquet(f"{sf_dir}/events.parquet"), 64, ["event_id"], wmult
    ).withColumn(
        "ts", F.col("ts") + F.make_interval(secs=F.col("event_id") % 60)
    )  # 6.4M events x wmult
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    snap = orders.groupBy(
        F.col("o_custkey").alias("user_id"), F.col("o_orderdate").alias("snap_ts")
    ).agg(F.max("o_totalprice").alias("o_totalprice"))
    li = rep(
        spark.read.parquet(f"{sf_dir}/lineitem.parquet"), 8, [], wmult
    )  # 4.8M rows x wmult
    docs = rep(
        spark.read.parquet(f"{sf_dir}/documents.parquet"), 20, ["doc_id"], dmult
    ).withColumn("text", F.concat("text", F.lit(" rep"), (F.col("doc_id") % 20).cast("string")))
    emb = rep(
        spark.read.parquet(f"{sf_dir}/embeddings.parquet"), 40, ["vec_id"], emult
    )
    su = spark.read.parquet(f"{sf_dir}/supplier.parquet")
    na = spark.read.parquet(f"{sf_dir}/nation.parquet")
    re_ = spark.read.parquet(f"{sf_dir}/region.parquet")
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")

    long = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(su, li.l_suppkey == su.s_suppkey)
        .join(na, su.s_nationkey == na.n_nationkey)
        .join(re_, na.n_regionkey == re_.r_regionkey)
        .groupBy(
            F.concat_ws("|", "r_name", "n_name", "s_name").alias("clade_name"),
            F.col("o_custkey").alias("entity_id"),
        )
        .agg(F.sum("l_quantity").alias("value"))
    )
    # the rollup input's size is (clades x entities) regardless of wmult —
    # replicate the ENTITY dimension so the rollup leg runs long enough to
    # measure (4.9 s at local[2] pre-round-5 meant its eta was overhead noise)
    rmult = int(os.environ.get("BENCH_SCALE_MULT_ROLLUP", str(4 * mult)))
    if rmult > 1:
        long = (
            long.withColumn("__k", F.explode(F.sequence(F.lit(0), F.lit(rmult - 1))))
            .withColumn("entity_id", F.col("entity_id") * rmult + F.col("__k"))
            .drop("__k")
        )

    queries = {
        "asof_3m_events": lambda: asof_join(
            ev.select("event_id", "user_id", "ts"), snap, on="user_id",
            left_ts="ts", right_ts="snap_ts", value_cols=["o_totalprice"],
        ),
        "session_locf_3m": lambda: locf(
            lag_lead_features(
                sessionize(ev, "user_id", "ts", 3600.0, tiebreak="event_id"),
                "user_id", "ts", ["value"], tiebreak="event_id",
            ).withColumn(
                "cv", F.when(F.col("event_type") == "click", F.col("value"))
            ),
            "user_id", "ts", ["cv"], tiebreak="event_id",
        ),
        "hfe_rollup_2m": lambda: hierarchical_rollup(long, clean_paths=False),
        "minhash_dedup_100k_docs": lambda: minhash_dedup(docs, threshold=0.8),
        # ONE vocab build feeding both tokenize and the taxonomy — the shape
        # q_token_rollup_docs uses; the pre-round-6 leg built the vocab
        # twice (two full distinct-words shuffles + two persists per rep)
        "token_rollup_100k_docs": lambda: (
            lambda tdocs: (
                lambda vocab: token_count_rollup(
                    tokenize(tdocs, "text", "doc_id", vocab=vocab),
                    vocab.select(
                        "token_id",
                        F.concat_ws(
                            "|", F.substring("word", 1, 1), "word"
                        ).alias("clade_path"),
                    ),
                )
            )(build_vocab(words(tdocs, "text")))
        )(
            rep(
                spark.read.parquet(f"{sf_dir}/documents.parquet"),
                20,
                ["doc_id"],
                tmult,
            ).withColumn(
                "text",
                F.concat(
                    "text", F.lit(" rep"), (F.col("doc_id") % 20).cast("string")
                ),
            )
        ),
        # 2000 queries x (160k x emult) corpus x dim 64 ~ 4e10 mul-adds at
        # the default emult — big enough to measure (the pre-round-5 shape
        # probed 40 queries, 0.9 s at local[2]: pure overhead, eta ~ noise)
        "cosine_topk_20k_vecs": lambda: cosine_topk(
            emb.filter("vec_id < 2000"), emb, k=10
        ),
        # the engine's hottest compute path: chunked RF competitions
        # (Arrow-vectorized pandas UDFs over 15k-sample forests). The
        # collapse input is replicated along the ENTITY dimension like every
        # other scaling input (r4 left it raw, so ~28 s of scale-invariant
        # driver/scan prefix dominated a 58 s query and the recorded eta
        # measured the prefix, not the engine)
        "hfe_collapse_forests": lambda: _collapse(
            spark, sf_dir, mult=int(os.environ.get("BENCH_SCALE_MULT_COLLAPSE", "2"))
        ),
    }
    reps = int(os.environ.get("BENCH_REPS", "2"))
    only = os.environ.get("BENCH_QUERIES")
    if only:
        keep = set(only.split(","))
        queries = {k: v for k, v in queries.items() if k in keep}
    out: dict[str, tuple[float, int]] = {}
    for name, fn in queries.items():
        best, rows = None, 0
        for _rep in range(reps):  # warm run wins: isolates steady-state compute
            spark.catalog.clearCache()  # no rep is served from a persisted result
            t0 = _t.time()
            rows = _materialize(fn())
            dt = _t.time() - t0
            best = dt if best is None else min(best, dt)
        out[name] = (round(best, 3), rows)
        print(f"# {name}: {out[name][0]}s {rows} rows", file=sys.stderr, flush=True)
    return out


def _collapse(spark, sf_dir: str, mult: int = 1):
    from pyspark.sql import functions as F

    from taxahfe_spark.operators.competition import CompetitionParams
    from taxahfe_spark.pipeline import taxa_hfe, winner_feature_matrix

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    su = spark.read.parquet(f"{sf_dir}/supplier.parquet")
    na = spark.read.parquet(f"{sf_dir}/nation.parquet")
    re_ = spark.read.parquet(f"{sf_dir}/region.parquet")
    cu = spark.read.parquet(f"{sf_dir}/customer.parquet")
    if mult > 1:
        # entity-dimension replication, join-consistent: order o and its
        # lineitems land on the same replica (same k offset on the order
        # key), each replica gets a distinct customer; the taxonomy
        # (suppliers) stays fixed, so the competitions keep their shape and
        # every design matrix grows mult x taller
        par = spark.sparkContext.defaultParallelism

        def rep(df, id_cols):
            out = df.repartition(par).withColumn(
                "__k", F.explode(F.sequence(F.lit(0), F.lit(mult - 1)))
            )
            for c in id_cols:
                out = out.withColumn(c, F.col(c) * mult + F.col("__k"))
            return out.drop("__k")

        li = rep(li, ["l_orderkey"])
        o = rep(o, ["o_orderkey", "o_custkey"])
        cu = rep(cu, ["c_custkey"])
    long = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(su, li.l_suppkey == su.s_suppkey)
        .join(na, su.s_nationkey == na.n_nationkey)
        .join(re_, na.n_regionkey == re_.r_regionkey)
        .groupBy(
            F.concat_ws("|", "r_name", "n_name", "s_name").alias("clade_name"),
            F.col("o_custkey").alias("entity_id"),
        )
        .agg(F.sum("l_quantity").alias("value"))
    )
    meta = cu.select(
        F.col("c_custkey").cast("string").alias("subject_id"),
        F.when(F.col("c_acctbal") > 0, F.lit("pos")).otherwise(F.lit("neg")).alias(
            "feature_of_interest"
        ),
    )
    params = CompetitionParams(
        lowest_level=1, nperm=8, num_trees=6, seed=42, super_filter_nperm_factor=4
    )
    tree, state = taxa_hfe(meta, long, params=params, filter_prevalence=0.01)
    return winner_feature_matrix(tree, state, metadata=meta)


def run_once(cpus: int, sf_dir: str, scaling: bool = False) -> dict:
    from taxahfe_spark.session import get_spark

    # scaling legs use a CONSTANT data-sized shuffle partition count: on a
    # real N -> 4N cluster the partition count is sized for the DATA and
    # held fixed while executors scale, so the proxy must too (max(8, cpus)
    # gave the two legs different task decompositions AND let rep-to-rep
    # sort-state pile up at 8 wide partitions - measured 24 -> 62 s rep
    # degradation on the 51M-row asof at shuffle=8, stable at 64)
    shuf = 64 if scaling else max(8, cpus)
    spark = get_spark(
        f"bench_{cpus}", master=f"local[{cpus}]", shuffle_partitions=shuf
    )
    try:
        # warm the JVM/Python-worker pools so the measurement is steady-state
        spark.range(1000000).selectExpr("sum(id)").collect()
        res = _scaling_suite(spark, sf_dir) if scaling else _suite(spark, sf_dir)
    finally:
        spark.stop()
    total_sec = round(sum(v[0] for v in res.values()), 3)
    total_rows = sum(v[1] for v in res.values())
    out = {
        "cpus": cpus,
        "total_sec": total_sec,
        "total_rows": total_rows,
        "rows_per_sec": round(total_rows / total_sec, 1),
        "queries": {k: v[0] for k, v in res.items()},
    }
    if not scaling:  # _suite stamps per-query steal; _scaling_suite does not
        out["steal_s_per_query"] = {k: v[2] for k, v in res.items()}
    return out


def _steal_jiffies() -> int:
    """Cumulative vCPU steal (jiffies) from /proc/stat — time the host did
    NOT schedule this VM's runnable vCPUs. Nonzero deltas during a
    measurement mean the box was host-contended and wall clocks are
    untrustworthy regardless of what this process did."""
    try:
        with open("/proc/stat") as f:
            parts = f.readline().split()
        return int(parts[8])  # cpu: user nice sys idle iowait irq sirq STEAL
    except Exception:
        return 0


# Lowest stream-probe p2 rate ever measured on a healthy box (recorded
# sessions: 0.47-1.56 units/s). A round-5 degraded-host episode measured
# 0.11 — 4-14x below band — during which the SAME asof leg ran 196 s where
# a healthy session recorded 12.9 s. Below this floor, scaling/replica
# artifacts are stamped box_degraded and should not be recorded as claims.
STREAM_P2_HEALTHY_FLOOR = 0.30


def _probe_rates(proc_counts: tuple[int, ...] = (2, 8)) -> dict:
    """Same-session ALU + STREAM probe rates (units/s at ``proc_counts``
    procs) — the box-normalization stamp for every recorded wall-clock
    claim. A reader on a different (or differently-loaded) box divides
    their own probe rates by these to adjudicate absolute numbers
    mechanically (VERDICT r4: judge replicas ran 1.55x the builder's on
    identical work purely from box state). Also stamps the vCPU steal
    accumulated while the probes ran and a box_degraded verdict. Scaling
    runs pass (2, 8, 32) so the artifact carries the SAME-SESSION probe
    eta for whatever leg pair it measures — the bytes/op interpolation
    band a per-query eta is judged against."""
    import multiprocessing as mp
    import time as _t

    sys.path.insert(0, os.path.join(os.path.dirname(__file__), "tools"))
    from scaling_probes import _alu, _stream

    steal0 = _steal_jiffies()
    t_all = _t.time()
    rates: dict = {}
    for kind, work in (("alu", _alu), ("stream", _stream)):
        rates[kind] = {}
        for procs in proc_counts:
            with mp.Pool(procs) as p:
                t0 = _t.time()
                p.map(work, range(procs * 2))
                rates[kind][f"p{procs}"] = round(procs * 2 / (_t.time() - t0), 2)
    rates["steal_s_during_probes"] = round((_steal_jiffies() - steal0) / 100.0, 1)
    rates["probe_wall_s"] = round(_t.time() - t_all, 1)
    rates["box_degraded"] = rates["stream"]["p2"] < STREAM_P2_HEALTHY_FLOOR
    return rates


def run_replica(out_path: str | None = None) -> dict:
    """Flagship replica as a recorded artifact (VERDICT r4 task 2): time the
    ACTUAL CLI commands (subprocess `python -m taxahfe_spark ...`, session
    startup included — what a user times) on the reference's own example
    data, seed 1234, 8 cores, and stamp the same-session probe rates."""
    import subprocess
    import tempfile
    import time as _t

    meta = "/root/reference/example_inputs/metadata.txt"
    data = "/root/reference/example_inputs/microbiome_data.txt"
    common = ["-s", "Sample", "-l", "Category", "--seed", "1234", "-n", "8"]
    result: dict = {"metric": "flagship_replica_seconds", "unit": "sec",
                    "seed": 1234, "ncores": 8}
    result["probes_units_per_sec"] = _probe_rates()
    with tempfile.TemporaryDirectory() as tmp:
        for key, argv in (
            ("collapse_only_sec",
             ["run-hfe", meta, data, *common, "-o", f"{tmp}/hfe"]),
            ("full_ml_shap_sec",
             ["run-hfe-ml", meta, data, *common, "--shap", "-o", f"{tmp}/ml"]),
        ):
            s0 = _steal_jiffies()
            t0 = _t.time()
            subprocess.run(
                [sys.executable, "-m", "taxahfe_spark", *argv],
                check=True, capture_output=True,
                cwd=os.path.dirname(os.path.abspath(__file__)),
            )
            result[key] = round(_t.time() - t0, 1)
            # steal accumulated while the command ran: nonzero means the
            # host preempted this VM's vCPUs and the wall clock above is
            # inflated by factors this process cannot control
            result[f"{key}_steal_s"] = round((_steal_jiffies() - s0) / 100.0, 1)
    result["value"] = result["full_ml_shap_sec"]
    if out_path:
        with open(out_path, "w") as f:
            json.dump(result, f, indent=1)
    return result


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    if "--replica" in sys.argv:
        out = None
        for a in sys.argv:
            if a.startswith("--out="):
                out = a.split("=", 1)[1]
        print(json.dumps(run_replica(out)))
        return
    if "--scaling" in sys.argv:
        lo_n = int(os.environ.get("SCALE_LO", "8"))
        hi_n = int(os.environ.get("SCALE_HI", "32"))
        # same-session probe rates FIRST: the eta criterion is box-relative
        # (today's ALU eta(2->8) may be 0.65 where last week's was 0.78), so
        # every scaling artifact carries the rates needed to normalize it —
        # including p32, so eta(8->32) claims have an in-artifact probe band
        probes = _probe_rates(proc_counts=(2, 8, 32))

        # Alternate the legs (lo,hi,lo,hi,...) and take the per-query best
        # per leg: a round-5 degraded-host episode showed the box can drift
        # 3-15x on memory-bound work BETWEEN two sequential legs, which a
        # single lo-then-hi pass silently bakes into eta. Alternation plus
        # per-leg steal deltas makes drift visible and mostly cancels it.
        rounds = int(os.environ.get("SCALE_ROUNDS", "2"))
        legs: dict[int, dict] = {}
        steal: dict[str, list[float]] = {f"local{lo_n}": [], f"local{hi_n}": []}
        for _round in range(rounds):
            for n in (lo_n, hi_n):
                s0 = _steal_jiffies()
                r = run_once(n, sf_dir, scaling=True)
                steal[f"local{n}"].append(round((_steal_jiffies() - s0) / 100.0, 1))
                if n not in legs:
                    legs[n] = r
                else:
                    prev = legs[n]
                    prev["queries"] = {
                        k: min(prev["queries"][k], r["queries"][k])
                        for k in prev["queries"]
                    }
                    prev["total_sec"] = round(sum(prev["queries"].values()), 3)
                    prev["rows_per_sec"] = round(
                        prev["total_rows"] / prev["total_sec"], 1
                    )
        lo, hi = legs[lo_n], legs[hi_n]
        factor = hi_n / lo_n
        eta = round(hi["rows_per_sec"] / (factor * lo["rows_per_sec"]), 3)
        # the probe eta for the SAME leg pair: the [stream, alu] band a
        # per-query eta should land in according to its bytes/op (the
        # mechanical form of the "physics vs engineering gap" adjudication)
        probe_eta = {
            kind: round(
                probes[kind][f"p{hi_n}"] / (factor * probes[kind][f"p{lo_n}"]), 3
            )
            for kind in ("alu", "stream")
            if f"p{lo_n}" in probes.get(kind, {})
            and f"p{hi_n}" in probes.get(kind, {})
        }
        per_query_eta = {
            k: round(lo["queries"][k] / (factor * hi["queries"][k]), 3)
            for k in lo["queries"]
            if k in hi["queries"] and hi["queries"][k] > 0
        }
        print(
            json.dumps(
                {
                    "metric": "feature_rows_per_sec_scaling",
                    "value": eta,
                    "unit": "efficiency",
                    "per_query_eta": per_query_eta,
                    "probe_eta_same_legs": probe_eta,
                    "scale_mult_env": {
                        k: v
                        for k, v in sorted(os.environ.items())
                        if k.startswith("BENCH_SCALE_MULT")
                    },
                    "probes_units_per_sec": probes,
                    "scale_rounds": rounds,
                    "steal_s_per_leg": steal,
                    f"local{lo_n}": lo,
                    f"local{hi_n}": hi,
                    "sf": sf,
                }
            )
        )
        return
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    # same-session box-health stamp FIRST (VERDICT r5 task 2): the r5 record
    # was degraded-host data and only a judge rerun could prove it — the
    # default mode now self-identifies via the same probe rates + steal
    # evidence the --scaling/--replica modes carry
    probes = _probe_rates()
    r = run_once(cpus, sf_dir)
    print(
        json.dumps(
            {
                "metric": "bench_suite_wall_seconds",
                "value": r["total_sec"],
                "unit": "sec",
                "queries": r["queries"],
                "sf": sf,
                "rows_per_sec": r["rows_per_sec"],
                "total_rows": r["total_rows"],
                "cpus": cpus,
                "probes_units_per_sec": probes,
                "box_degraded": probes["box_degraded"],
                "steal_s_per_query": r["steal_s_per_query"],
            }
        )
    )


if __name__ == "__main__":
    main()
