"""Spans around the calls into each layer, and per-span Spark task metrics.

Tracing lives entirely in the benchmark: ``Tracer.install`` replaces each
traced function by a wrapper in every module that calls it (a module that
imported the function by name holds its own reference, so each such
attribute is replaced). A span records its wall interval and tags the Spark
jobs it starts with a job group ``pb<iteration>|<span path>``; the event log
the session writes is parsed afterwards and its task metrics are summed per
job group. Spans, counts and task metrics stay in memory until the run ends.

Metric semantics, per span name and traced iteration:

- ``wall_s``: summed duration of the spans with that name;
- ``self_s``: ``wall_s`` minus the part covered by child spans;
- ``jobs``, ``tasks``, ``task_cpu_s`` (JVM executor CPU; Python worker CPU
  is not part of it), ``shuffle_write_mb``, ``spill_mb``: over the jobs
  started inside the span, child spans included;
- ``calls``: number of spans.

Wrappers record nothing in forked children (fork-pool competition workers):
their work is inside the parent's ``competition.TreeCompetition.run`` span.
"""

from __future__ import annotations

import functools
import glob
import json
import os
import threading
import time
from collections import defaultdict
from contextlib import contextmanager

HEAVY = (
    "taxonomy.hierarchical_rollup",
    "pipeline.taxa_hfe",
    "competition.TreeCompetition.run",
    "dietml.run_dietml",
    "operators.dedup.minhash_dedup",
    "tokens.point_in_time_token_features",
    "operators.windows",
    "operators.asof.asof_join",
    "checkpointing.StageCheckpointer.checkpoint",
)
LIGHT = (
    "session.get_spark",
    "cli.main",
    "pipeline.read_inputs",
    "ml.taxa_hfe_ml",
    "pipeline.output",
    "functions.rf.forest_fit",
    "functions.shap.shap_values_local",
    "tokens.tokenize",
    "checkpointing.partition_metrics",
    "bench.check",
)
HEAVY_FIELDS = ("wall_s", "self_s", "jobs", "tasks", "task_cpu_s", "shuffle_write_mb", "spill_mb")
LIGHT_FIELDS = ("wall_s", "self_s", "jobs")
# spans that cannot start a Spark job: the session is built before the
# tracer is installed, and the benchmark's checks read files with pandas
# and pyarrow
NO_JOBS = ("session.get_spark", "bench.check")
COUNTS = (
    "competition.nodes_competed",
    "competition.winners",
    "dietml.cv_fits",
    "dietml.candidates",
    "dedup.docs_in",
    "dedup.docs_removed",
    "dedup.removed_injected_share",
    "pit.rows_out",
    "checkpointing.stages_written",
    "checkpointing.stages_reused",
    "pit_resume.wall_s",
    "spark.jobs",
    "spark.failed_tasks",
    "spark.gc_s",
)
RUN_METRICS = ("trace.wall_s", "trace.overhead_s", "trace.self_share", "host.steal_s")

UNITS = {
    "wall_s": "s", "self_s": "s", "task_cpu_s": "s", "jobs": "count",
    "tasks": "count", "shuffle_write_mb": "MB", "spill_mb": "MB",
}
COUNT_UNITS = {
    "pit_resume.wall_s": "s",
    "dedup.removed_injected_share": "ratio",
    "spark.gc_s": "s",
    "trace.wall_s": "s",
    "trace.overhead_s": "s",
    "trace.self_share": "ratio",
    "host.steal_s": "s",
}


def per_layer_names() -> list[tuple[str, str]]:
    """Every per-layer metric as (name, unit), in BENCHMARK.json order."""
    out = [(f"{s}.{f}", UNITS[f]) for s in HEAVY for f in HEAVY_FIELDS]
    out += [
        (f"{s}.{f}", UNITS[f]) for s in LIGHT for f in LIGHT_FIELDS
        if not (f == "jobs" and s in NO_JOBS)
    ]
    out.append(("functions.rf.forest_fit.calls", "count"))
    out += [(c, COUNT_UNITS.get(c, "count")) for c in COUNTS + RUN_METRICS]
    return out


class Tracer:
    def __init__(self):
        self.enabled = False
        self.iteration = 0
        self.pid = os.getpid()
        self.sc = None
        self.spans: list[tuple[int, str, str, float, float]] = []
        self.counts: dict[int, dict[str, float]] = defaultdict(dict)
        self._local = threading.local()

    # -- spans -----------------------------------------------------------------

    def _stack(self) -> list[str]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str):
        if not self.enabled or os.getpid() != self.pid:
            yield
            return
        stack = self._stack()
        path = f"{stack[-1]}/{name}" if stack else name
        stack.append(path)
        prev = self.sc.getLocalProperty("spark.jobGroup.id")
        self.sc.setLocalProperty("spark.jobGroup.id", f"pb{self.iteration}|{path}")
        t0 = time.perf_counter()
        try:
            yield
        finally:
            t1 = time.perf_counter()
            self.sc.setLocalProperty("spark.jobGroup.id", prev)
            stack.pop()
            self.spans.append((self.iteration, path, name, t0, t1))

    def count(self, name: str, value: float) -> None:
        if self.enabled:
            self.counts[self.iteration][name] = value

    def wrap(self, owners, attr: str, name: str, on_result=None) -> None:
        """Replace ``owner.attr`` on every owner by one traced wrapper."""
        orig = getattr(owners[0], attr)
        tracer = self

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            if not tracer.enabled or os.getpid() != tracer.pid:
                return orig(*args, **kwargs)
            with tracer.span(name):
                out = orig(*args, **kwargs)
            if on_result is not None:
                on_result(out, args, kwargs)
            return out

        for owner in owners:
            setattr(owner, attr, traced)

    def install(self, spark) -> None:
        """Wrap the public functions of each layer where they are called."""
        from taxahfe_spark import checkpointing, cli, dietml, ml, pipeline, taxonomy
        from taxahfe_spark.functions import rf, shap
        from taxahfe_spark.operators import competition

        self.sc = spark.sparkContext
        self.wrap([taxonomy, pipeline, ml], "hierarchical_rollup", "taxonomy.hierarchical_rollup")
        self.wrap([pipeline, ml], "taxa_hfe", "pipeline.taxa_hfe")
        self.wrap(
            [competition.TreeCompetition], "run", "competition.TreeCompetition.run",
            on_result=self._on_state,
        )
        self.wrap([dietml], "run_dietml", "dietml.run_dietml", on_result=self._on_dietml)
        self.wrap([cli], "main", "cli.main")
        self.wrap([pipeline], "read_metadata", "pipeline.read_inputs")
        self.wrap([pipeline], "read_hierarchical_data", "pipeline.read_inputs")
        self.wrap([taxonomy, pipeline], "melt_wide_matrix", "pipeline.read_inputs")
        self.wrap([ml], "taxa_hfe_ml", "ml.taxa_hfe_ml")
        self.wrap([pipeline, ml], "winner_feature_matrix", "pipeline.output")
        self.wrap([pipeline], "write_output_file", "pipeline.output")
        self.wrap([rf], "forest_fit", "functions.rf.forest_fit")
        self.wrap([shap], "shap_values_local", "functions.shap.shap_values_local")
        self.wrap([checkpointing], "partition_metrics", "checkpointing.partition_metrics")
        self.wrap(
            [checkpointing.StageCheckpointer], "checkpoint",
            "checkpointing.StageCheckpointer.checkpoint",
        )

    def _on_state(self, state, args, kwargs) -> None:
        competed = state["outcomes"].str.contains("rf w|rf l|correlated|corr surv")
        self.count("competition.nodes_competed", int(competed.sum()))
        self.count("competition.winners", int(state["winner"].sum()))

    def _on_dietml(self, res, args, kwargs) -> None:
        n = len(res.cv_results)
        self.count("dietml.candidates", n)
        self.count(
            "dietml.cv_fits",
            n * int(kwargs.get("folds", 10)) * int(kwargs.get("cv_repeats", 3)),
        )

    # -- metrics ---------------------------------------------------------------

    def span_metrics(self, iteration: int, tasks: dict[str, dict[str, float]]) -> dict[str, float]:
        spans = [s for s in self.spans if s[0] == iteration]
        out: dict[str, float] = defaultdict(float)
        for _, path, name, t0, t1 in spans:
            kids = sorted(
                (c0, c1) for _, cp, _, c0, c1 in spans
                if cp.rsplit("/", 1)[0] == path and cp.count("/") == path.count("/") + 1
                and c0 >= t0 and c1 <= t1
            )
            covered, end = 0.0, t0
            for c0, c1 in kids:
                c0 = max(c0, end)
                if c1 > c0:
                    covered += c1 - c0
                    end = c1
            out[f"{name}.wall_s"] += t1 - t0
            out[f"{name}.self_s"] += (t1 - t0) - covered
            out[f"{name}.calls"] += 1
        prefix = f"pb{iteration}|"
        for group, m in tasks.items():
            if not group.startswith(prefix):
                continue
            names = set(group[len(prefix):].split("/"))
            for name in names:
                for k, v in m.items():
                    out[f"{name}.{k}"] += v
            for k in ("jobs", "failed_tasks", "gc_s"):
                out[f"spark.{k}"] += m.get(k, 0.0)
        out["trace.self_sum_s"] = sum(
            v for k, v in out.items() if k.endswith(".self_s")
        )
        out.update(self.counts.get(iteration, {}))
        return out


def read_event_log(directory: str) -> dict[str, dict[str, float]]:
    """Task metrics summed per job group from a Spark JSON event log."""
    stage_group: dict[int, str] = {}
    out: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    paths = glob.glob(os.path.join(directory, "**", "*"), recursive=True)
    for path in sorted(p for p in paths if os.path.isfile(p)):
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if group:
                        out[group]["jobs"] += 1
                elif kind == "SparkListenerStageSubmitted":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if group:
                        stage_group[ev["Stage Info"]["Stage ID"]] = group
                elif kind == "SparkListenerTaskEnd":
                    group = stage_group.get(ev["Stage ID"])
                    if group is None:
                        continue
                    m = out[group]
                    tm = ev.get("Task Metrics") or {}
                    m["tasks"] += 1
                    if (ev.get("Task End Reason") or {}).get("Reason") != "Success":
                        m["failed_tasks"] += 1
                    m["task_cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
                    m["gc_s"] += tm.get("JVM GC Time", 0) / 1e3
                    sw = tm.get("Shuffle Write Metrics") or {}
                    m["shuffle_write_mb"] += sw.get("Shuffle Bytes Written", 0) / 2**20
                    m["spill_mb"] += (
                        tm.get("Memory Bytes Spilled", 0) + tm.get("Disk Bytes Spilled", 0)
                    ) / 2**20
    return out
