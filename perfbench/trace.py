"""Per-layer spans for the traced run.

A span is opened by the benchmark around a call into one layer of the
program. Each span gets its own Spark job group, so after it closes the
jobs it launched are looked up in the ``StatusTracker`` and their stages
in the application status store. Spans stay in memory until the run
ends; ``summary`` then reduces them to one value per metric name.

The untraced runs use no ``Tracer`` at all: the workloads only open
spans when they are given one.
"""

from __future__ import annotations

import statistics
import time
from contextlib import contextmanager

#: The spans a traced run can record, in the order they are reported.
SPANS = (
    "preprocess", "embed", "search",                          # jobs_dedup
    "minhash", "verify", "components", "curate_self",         # corpus_curation
    "index_add", "index_build", "index_search", "index_insert",  # index_serve
)

#: (metric, unit) recorded for every span.
SPAN_METRICS = (
    ("wall_s", "s"),
    ("self_s", "s"),
    ("plan_s", "s"),
    ("jobs", "count"),
    ("tasks", "count"),
    ("failed_tasks", "count"),
    ("exec_run_s", "s"),
    ("exec_cpu_s", "s"),
    ("shuffle_write_mb", "MB"),
    ("spill_mb", "MB"),
    ("rows_out", "count"),
)

#: Per-layer names that are not per-span, with their units.
EXTRA_METRICS = (
    ("verify.yield", "ratio"),
    ("host.steal_share", "ratio"),
    ("host.loadavg", "load"),
    ("trace.overhead_s", "s"),
)

_MB = 1024.0 * 1024.0


def per_layer_names() -> list[tuple[str, str]]:
    """Every per-layer metric name with its unit, in report order."""
    names = [(f"{s}.{m}", u) for s in SPANS for m, u in SPAN_METRICS]
    return names + list(EXTRA_METRICS)


class Tracer:
    """Records spans around layer calls; one job group per span."""

    def __init__(self, spark):
        self._sc = spark.sparkContext
        self._jsc = self._sc._jsc.sc()
        self._gw = self._sc._gateway
        self._stack: list[dict] = []
        self.spans: list[dict] = []

    @contextmanager
    def span(self, name: str):
        """Time ``name``; the body may set ``plan_s`` and ``rows_out``
        on the yielded record."""
        if name not in SPANS:
            raise ValueError(f"unknown span {name!r}")
        rec = {
            "name": name,
            "group": f"perfbench-{len(self.spans) + len(self._stack)}-{name}",
            "plan_s": 0.0,
            "rows_out": 0,
            "child_s": 0.0,
        }
        self._stack.append(rec)
        self._sc.setJobGroup(rec["group"], name)
        start = time.perf_counter()
        try:
            yield rec
        finally:
            rec["wall_s"] = time.perf_counter() - start
            self._stack.pop()
            if self._stack:
                parent = self._stack[-1]
                parent["child_s"] += rec["wall_s"]
                self._sc.setJobGroup(parent["group"], parent["name"])
            else:
                self._sc.setLocalProperty("spark.jobGroup.id", None)
                self._sc.setLocalProperty("spark.job.description", None)
            rec.update(self._stage_totals(rec["group"]))
            rec["self_s"] = rec["wall_s"] - rec["child_s"]
            self.spans.append(rec)

    def _stage_totals(self, group: str) -> dict:
        """Jobs, tasks and stage metrics of one job group, read when
        the span closes (the status store keeps a bounded history)."""
        self._jsc.listenerBus().waitUntilEmpty()
        tracker = self._sc.statusTracker()
        store = self._jsc.statusStore()
        no_quantiles = self._gw.new_array(self._gw.jvm.double, 0)
        out = dict(jobs=0, tasks=0, failed_tasks=0, exec_run_s=0.0,
                   exec_cpu_s=0.0, shuffle_write_mb=0.0, spill_mb=0.0)
        stage_ids: set[int] = set()
        for job_id in tracker.getJobIdsForGroup(group):
            out["jobs"] += 1
            info = tracker.getJobInfo(job_id)
            if info is not None:
                stage_ids.update(int(s) for s in info.stageIds)
        for stage_id in stage_ids:
            attempts = store.stageData(
                stage_id, False, self._gw.jvm.java.util.ArrayList(), False,
                no_quantiles,
            )
            for i in range(attempts.size()):
                d = attempts.apply(i)
                out["tasks"] += d.numCompleteTasks() + d.numFailedTasks() + d.numKilledTasks()
                out["failed_tasks"] += d.numFailedTasks()
                out["exec_run_s"] += d.executorRunTime() / 1e3
                out["exec_cpu_s"] += d.executorCpuTime() / 1e9
                out["shuffle_write_mb"] += d.shuffleWriteBytes() / _MB
                out["spill_mb"] += (d.memoryBytesSpilled() + d.diskBytesSpilled()) / _MB
        return out

    def summary(self) -> dict[str, float]:
        """Median over the instances of each span, per metric, and
        ``verify.yield``; a span the workload never opened reports 0
        for every metric, and so does the yield of a run without a
        MinHash span."""
        values: dict[str, float] = {}
        for span in SPANS:
            recs = [r for r in self.spans if r["name"] == span]
            for metric, _unit in SPAN_METRICS:
                values[f"{span}.{metric}"] = (
                    float(statistics.median(r[metric] for r in recs)) if recs else 0.0
                )
        rows = {n: sum(r["rows_out"] for r in self.spans if r["name"] == n)
                for n in ("minhash", "verify")}
        values["verify.yield"] = rows["verify"] / rows["minhash"] if rows["minhash"] else 0.0
        return values
