"""End-to-end benchmark of taxahfe_spark.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout. Builds a local Spark session (at most 4
cores, 2 GB driver heap, every scratch file under ``.perfbench_work/``),
makes the workload's seeded inputs, runs the workload's job once untimed
(warm-up), then again and again for ``--seconds`` (always at least once),
checking every output of every job. The last stdout line is one JSON
object: ``{"correct", "attempted", "failed", "metrics"}``.

``--trace 0`` reports the end-to-end metrics: ``wall_s`` and ``cpu_s``
(medians over the timed jobs), ``setup_s`` (process start to the session's
first job) and ``peak_rss_mb`` (over the timed jobs, without the JVM's
pre-touched heap). ``--trace 1``
alternates untraced and traced jobs after the warm-up and reports the
per-layer metrics of ``spans.py`` (medians over the traced jobs) plus the
tracing overhead. See README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback
from dataclasses import dataclass

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
MAX_CORES = 4
DRIVER_MEMORY = "2g"
# a second warm-up job or a second timed job would each bring a run to
# about 60-70 s on a contended 4-core host, too close to the time the whole
# benchmark is allowed (4 + 22 runs per workload in 3,420 s)
WARMUP_JOBS = 1
MIN_TIMED_JOBS = 1


@dataclass
class Ctx:
    spark: object
    seed: int  # draws the inputs; non-negative for numpy's generators
    work: str
    cache: str
    tracer: object


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def build_session(work: str, trace: bool):
    from taxahfe_spark import session

    for d in ("spark-local", "tmp", "eventlog"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    # the JVM and its Python workers inherit these: keep every scratch file
    # inside the checkout and make the package importable in the workers
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    cores = min(MAX_CORES, len(os.sched_getaffinity(0)))
    conf = {
        "spark.driver.memory": DRIVER_MEMORY,
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # the whole heap committed and touched at start: left to grow, the
        # JVM's resident size followed GC timing and varied by 1.4 GB
        # between identical runs. peak_rss_mb leaves this heap out
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} "
            f"-Xms{DRIVER_MEMORY} -XX:+AlwaysPreTouch"
        ),
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.join(work, "eventlog"),
            "spark.eventLog.compress": "false",
        })
    t0 = time.perf_counter()
    spark = session.get_spark("perfbench", master=f"local[{cores}]", extra_conf=conf)
    return spark, time.perf_counter() - t0


def stop_jvm(timeout_s: float = 60.0) -> None:
    """End the JVM the session started. It outlives ``spark.stop()``, and
    closing its stdin is PySpark's signal for it to exit."""
    pyspark = sys.modules.get("pyspark")
    gateway = getattr(getattr(pyspark, "SparkContext", None), "_gateway", None)
    proc = getattr(gateway, "proc", None)
    if proc is None:
        return
    if proc.stdin is not None:
        proc.stdin.close()
    try:
        proc.wait(timeout_s)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def stop_resource_tracker() -> None:
    """The helper process a spawned pool starts; it ignores SIGTERM and
    would otherwise only exit after this process."""
    from multiprocessing import resource_tracker

    stop = getattr(resource_tracker._resource_tracker, "_stop", None)
    if stop is not None:
        stop()


def run_job(wl, i: int, tree) -> dict:
    c0 = tree.cpu_s()
    t0 = time.perf_counter()
    try:
        fails = wl.iterate(i)
    except Exception:  # a job that raises is a failed attempt, not a crash
        traceback.print_exc()
        fails = ["job raised"]
    wall = time.perf_counter() - t0
    rec = {"wall_s": wall, "cpu_s": tree.cpu_s() - c0, "fails": fails}
    wl.cleanup_iteration(i)
    return rec


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "taxahfe_spark", "__init__.py")) or not os.path.isfile(
        os.path.join(ROOT, "tests", "oracle_collapse.py")
    ):
        print(f"perfbench: no taxahfe_spark package or tests/oracle_collapse.py under {ROOT}",
              file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, HERE, os.path.join(ROOT, "tests")]

    from proctree import ProcTree, become_subreaper, end_tree, process_age_s, steal_s
    from spans import Tracer, per_layer_names, read_event_log
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    trace = bool(args.trace)
    # every process started from here on is waited for on every way out
    become_subreaper()
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    # forked pool workers must keep SIGTERM's default action: their pools
    # end them with it, and a worker exiting through Python instead could
    # block on a lock held by another thread when it was forked
    os.register_at_fork(
        after_in_child=lambda: signal.signal(signal.SIGTERM, signal.SIG_DFL)
    )
    base = os.path.join(ROOT, ".perfbench_work")
    work = os.path.join(base, f"{args.workload}-{os.getpid()}")
    tree = ProcTree()
    tree.start()
    steal0 = steal_s()
    tracer = Tracer()
    spark = wl = None
    records, warmups, setup_fails = [], [], []
    try:
        spark, get_spark_s = build_session(work, trace)
        spark.range(1).count()  # the session's first job ends set-up
        setup_s = process_age_s()
        ctx = Ctx(spark, args.seed % 2**32, work, os.path.join(base, "cache"), tracer)
        wl = WORKLOADS[args.workload](ctx)
        t0 = time.perf_counter()
        setup_fails += wl.prepare()
        prepare_s = time.perf_counter() - t0
        if trace:
            tracer.install(spark)
        # the first job pays JIT compilation, Python worker start-up and
        # first imports (about twice a warm job's time) and varies most from
        # run to run: it is checked but not timed
        warmups = [run_job(wl, -k, tree) for k in range(WARMUP_JOBS)]
        try:
            setup_fails += wl.after_warmup()
        except Exception:
            traceback.print_exc()
            setup_fails.append("the check after the warm-up raised")
        # memory high-water marks from here on: the timed jobs, not the
        # inputs, oracles and warm-up before them
        tree.reset_peaks()
        deadline = time.perf_counter() + args.seconds
        i = 1
        while True:
            # traced mode alternates untraced (odd) and traced (even) jobs
            # and ends on an untraced one: the untraced jobs around a traced
            # one bracket the drift of job times after the warm-up
            tracer.enabled = trace and i % 2 == 0
            tracer.iteration = i
            rec = run_job(wl, i, tree)
            rec["traced"] = tracer.enabled
            records.append(rec)
            tracer.enabled = False
            i += 1
            if time.perf_counter() >= deadline and i > MIN_TIMED_JOBS and (
                not trace or (i > 3 and i % 2 == 0)
            ):
                break
    finally:
        try:
            peak_rss_mb = tree.peak_mb()
            if spark is not None:
                # the pre-touched heap is resident from JVM start whatever the
                # jobs do: the metric is the rest of the tree's memory
                runtime = spark.sparkContext._jvm.java.lang.Runtime.getRuntime()
                peak_rss_mb -= runtime.totalMemory() / 2**20
                spark.stop()
        finally:
            signal.signal(signal.SIGTERM, signal.SIG_IGN)  # let the teardown finish
            tree.stop()
            if wl is not None:
                wl.close()
            stop_jvm()
            stop_resource_tracker()
            for pid in end_tree():
                print(f"perfbench: process {pid} had to be signalled to end", file=sys.stderr)
    steal = steal_s() - steal0

    attempted = len(warmups) + len(records)
    failed = sum(bool(r["fails"]) for r in warmups + records)
    for msg in setup_fails + [m for r in warmups + records for m in r["fails"]]:
        print(f"perfbench: check failed: {msg}", file=sys.stderr)
    if setup_fails:
        failed = attempted

    def med(key, rows):
        return statistics.median(r[key] for r in rows)

    untraced = [r for r in records if not r.get("traced")]
    if not trace:
        metrics = {
            "wall_s": (med("wall_s", untraced), "s"),
            "setup_s": (setup_s, "s"),
            "cpu_s": (med("cpu_s", untraced), "s"),
            "peak_rss_mb": (peak_rss_mb, "MB"),
        }
    else:
        tasks = read_event_log(os.path.join(work, "eventlog"))
        traced = [(n, r) for n, r in enumerate(records, start=1) if r.get("traced")]
        per_job = [tracer.span_metrics(n, tasks) for n, _ in traced]
        for m, (_, r) in zip(per_job, traced):
            m["trace.wall_s"] = r["wall_s"]
            m["trace.self_share"] = m["trace.self_sum_s"] / r["wall_s"]
            m["session.get_spark.wall_s"] = m["session.get_spark.self_s"] = get_spark_s
        metrics = {}
        for name, unit in per_layer_names():
            metrics[name] = (statistics.median(m.get(name, 0.0) for m in per_job), unit)
        for name, value in wl.run_counts.items():
            metrics[name] = (value, metrics[name][1])
        metrics["trace.overhead_s"] = (
            metrics["trace.wall_s"][0] - med("wall_s", untraced), "s"
        )
        metrics["host.steal_s"] = (steal, "s")
    shutil.rmtree(work, ignore_errors=True)

    print(f"# workload={args.workload} seed={args.seed} jobs={len(records)} "
          f"failed_share={failed / attempted:.4f} steal_s={steal:.2f} "
          f"setup_s={setup_s:.2f} prepare_s={prepare_s:.2f} "
          f"warmups={[round(r['wall_s'], 3) for r in warmups]} "
          f"walls={[round(r['wall_s'], 3) for r in records]}")
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
