"""Round-8 optimization harness: per-query isolation, plan capture, timing.

NOT the driver bench (bench.py is frozen for measurement). This file exists
so optimization work can (a) time single queries with the exact bench
methodology (hash-materialize, warmup + median-of-N), (b) capture
``explain("formatted")`` artifacts into plans/r08/, and (c) time a query
against the noop sink (guide §1.4) to separate computation from the
materialize agg.

Usage:
  python bench_extra.py time <query> [<query> ...]   # bench-style timing
  python bench_extra.py noop <query> [...]           # noop-sink timing
  python bench_extra.py explain <query> [...]        # dump plans/r08/<q>_<TAG>.txt

Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1), SPARK_GRAFT_CPUS
(default 32), BENCH_REPS (default 3), PLAN_TAG (default "before").
"""

from __future__ import annotations

import os
import sys
import time

from bench import _materialize


def _qs(spark, sf_dir):
    import __spark_entry__ as em

    qs = dict(em.queries())

    # bench.py overrides minhash with the production (64 xxhash64 lane) path
    def _minhash_prod(spark, sf_dir):
        from taxahfe_spark.operators.dedup import minhash_dedup

        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        return minhash_dedup(docs, threshold=0.8).select("doc_id", "lang", "source")

    qs["minhash_dedup_docs"] = _minhash_prod
    return qs


def main() -> None:
    from taxahfe_spark.session import get_spark

    mode, names = sys.argv[1], sys.argv[2:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    reps = int(os.environ.get("BENCH_REPS", "3"))
    tag = os.environ.get("PLAN_TAG", "before")
    spark = get_spark(
        f"bench_extra_{cpus}", master=f"local[{cpus}]",
        shuffle_partitions=max(8, cpus),
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    spark.range(1000000).selectExpr("sum(id)").collect()
    qs = _qs(spark, sf_dir)
    if names == ["ALL"]:
        names = list(qs)
    for name in names:
        fn = qs[name]
        if mode == "explain":
            os.makedirs("plans/r08", exist_ok=True)
            df = fn(spark, sf_dir)
            txt = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
            path = f"plans/r08/{name}_{tag}.txt"
            with open(path, "w") as f:
                f.write(txt)
            print(f"# wrote {path} ({len(txt.splitlines())} lines)")
            continue
        spark.sparkContext.setJobDescription(f"{mode}:{name}")
        import gc

        # warmup
        t0 = time.time()
        if mode == "noop":
            fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        else:
            _materialize(fn(spark, sf_dir))
        warm = time.time() - t0
        times = []
        for _ in range(reps):
            gc.collect()
            spark.catalog.clearCache()  # no rep is served from a persisted result
            t0 = time.time()
            if mode == "noop":
                fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            else:
                _materialize(fn(spark, sf_dir))
            times.append(round(time.time() - t0, 3))
        times_s = sorted(times)
        med = times_s[len(times_s) // 2] if reps % 2 else (
            (times_s[reps // 2 - 1] + times_s[reps // 2]) / 2
        )
        print(f"{name}: median {med:.3f}s of {times} (warmup {warm:.3f}s)")
    spark.stop()


if __name__ == "__main__":
    main()
