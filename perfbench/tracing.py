"""Spans around the engine's public calls, and the Spark counters of
each span read from the driver's status store.

A span records name, start, end, parent and run id.  Each span runs its
Spark jobs under its own job group; after the run, :func:`stage_counters`
sums the status store's stage metrics over the jobs of each group.
Spans stay in memory until :meth:`Tracer.write` writes them as JSON
lines.
"""

from __future__ import annotations

import json
import statistics
import time
from contextlib import contextmanager

import gen

SPAN_LAYERS = ["sources.scan", "geotag.cell", "spatial_join.cover",
               "spatial_join.probe", "tiles.rollup", "vector_tiles.clip"]
SPARK_COUNTERS = ["jobs", "tasks", "cpu_s", "gc_s", "shuffle_mb",
                  "idle_slot_s"]
LAYER_COUNTS = ["sources.records", "spatial_join.cover_rows",
                "spatial_join.cover_narrow_rows",
                "spatial_join.cover_wide_rows", "spatial_join.join_rows",
                "spatial_join.refine_candidates",
                "spatial_join.refine_hit_ratio", "tiles.cells",
                "vector_tiles.rows"]
TRACE_METRICS = ["trace.job_s", "trace.untraced_job_s", "trace.overhead_s",
                 "trace.span_coverage"]


def spans() -> list[str]:
    return SPAN_LAYERS + [f"queries.{q}" for q in gen.REGISTRY_QUERIES]


def per_layer_names() -> list[str]:
    """Every per-layer metric, in BENCHMARK.json order."""
    names = []
    for s in spans():
        names.append(f"{s}_s")
        names.extend(f"{s}.{c}" for c in SPARK_COUNTERS)
    return names + LAYER_COUNTS + TRACE_METRICS


def unit_of(name: str) -> str:
    if name.endswith("_s"):
        return "s"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith(("_ratio", "_coverage")):
        return "ratio"
    return "count"


class NullTracer:
    """Untraced runs: a span only calls through."""

    @contextmanager
    def span(self, name: str):
        yield


class Tracer:
    def __init__(self, spark, run_id: str):
        self.sc = spark.sparkContext
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[dict] = []

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        rec = {"run": self.run_id, "id": len(self.spans), "name": name,
               "parent": parent["id"] if parent else None}
        self.spans.append(rec)
        rec["group"] = f"{self.run_id}/{rec['id']}"
        self.sc.setJobGroup(rec["group"], name)
        self._stack.append(rec)
        rec["start"] = time.perf_counter()
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if parent:
                self.sc.setJobGroup(parent["group"], parent["name"])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)
            rec["jobs"] = list(
                self.sc.statusTracker().getJobIdsForGroup(rec["group"]))

    def finish(self, slots: int) -> None:
        """Attach Spark counters (over the span's jobs and its
        descendants') and self time to every span."""
        jobs = [list(s["jobs"]) for s in self.spans]
        for s in reversed(self.spans):  # children come after their parent
            if s["parent"] is not None:
                jobs[s["parent"]] += jobs[s["id"]]
        counters = stage_counters(self.sc, jobs)
        for s, c in zip(self.spans, counters):
            s["wall_s"] = s["end"] - s["start"]
            c["idle_slot_s"] = slots * s["wall_s"] - c.pop("run_s")
            s["spark"] = c
        for s in self.spans:
            kids = sorted((k["start"], k["end"]) for k in self.spans
                          if k["parent"] == s["id"])
            covered, reach = 0.0, s["start"]
            for a, b in kids:
                a = max(a, reach)
                if b > a:
                    covered += b - a
                    reach = b
            s["self_s"] = s["wall_s"] - covered

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


def _seq(jseq) -> list:
    return [jseq.apply(i) for i in range(jseq.size())]


def stage_counters(sc, job_groups: list[list[int]]) -> list[dict]:
    """Per job list: jobs, tasks, executor CPU, GC, shuffle and run time
    summed over the stages of those jobs (every attempt)."""
    store = sc._jsc.sc().statusStore()
    jvm = sc._gateway.jvm
    stages: dict[int, list] = {}
    for st in _seq(store.stageList(None, False, False,
                                   sc._gateway.new_array(jvm.double, 0),
                                   None)):
        stages.setdefault(st.stageId(), []).append(st)
    out = []
    for jobs in job_groups:
        c = {"jobs": len(jobs), "tasks": 0, "cpu_s": 0.0, "gc_s": 0.0,
             "shuffle_mb": 0.0, "run_s": 0.0}
        for job in jobs:
            for sid in _seq(store.job(job).stageIds()):
                for st in stages.get(sid, ()):
                    c["tasks"] += st.numCompleteTasks()
                    c["cpu_s"] += st.executorCpuTime() / 1e9
                    c["gc_s"] += st.jvmGcTime() / 1e3
                    c["run_s"] += st.executorRunTime() / 1e3
                    c["shuffle_mb"] += (st.shuffleReadBytes()
                                        + st.shuffleWriteBytes()) / 2 ** 20
        out.append(c)
    return out


def median(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def layer_metrics(tracer, counts: dict, timed, traced) -> dict:
    """Per-layer metrics of a traced run: span times and Spark counters
    are medians over the span's instances; a layer this workload does
    not run reads 0."""
    out = dict.fromkeys(per_layer_names(), 0.0)
    by_name: dict[str, list[dict]] = {}
    for s in tracer.spans:
        by_name.setdefault(s["name"], []).append(s)
    for name in spans():
        inst = by_name.get(name, [])
        out[f"{name}_s"] = median([s["wall_s"] for s in inst])
        for c in SPARK_COUNTERS:
            out[f"{name}.{c}"] = median([s["spark"][c] for s in inst])
    for name in LAYER_COUNTS:
        out[name] = float(counts.get(name, 0))
    roots = by_name["iteration"]
    layer_s = [sum(k["wall_s"] for k in tracer.spans
                   if k["parent"] == r["id"]) for r in roots]
    out["trace.job_s"] = median([t[0] for t in traced])
    out["trace.untraced_job_s"] = median([t[0] for t in timed])
    out["trace.overhead_s"] = out["trace.job_s"] - out["trace.untraced_job_s"]
    out["trace.span_coverage"] = median(
        [a / r["wall_s"] for a, r in zip(layer_s, roots)])
    return out
