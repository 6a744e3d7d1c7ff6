"""Benchmark-side tracing: spans around calls into the library, Spark
counters from Spark's own event log.

A :class:`Tracer` records one span per call (name, start, end, parent,
run id) and tags every Spark job the call submits with a job group
named after the span id. Spans stay in memory; :meth:`Tracer.dump`
writes them out once the run ends. :func:`span_counters` joins the
spans with the event log (jobs by group, stages by the group in their
submit properties) and derives, per span:

* ``wall_s`` — the span's wall time;
* ``driver_s`` — wall time not covered by any Spark job of the span
  (planning, driver loops, py4j);
* ``jobs`` — Spark jobs the span ran;
* ``executor_cpu_s`` — executor CPU time of the span's stages;
* ``shuffle_write_mb`` — shuffle bytes its stages wrote (10^6 B);
* ``input_records`` — records its stages read from input files.

A span covers the call plus the action that materializes its result,
so lazy lineage the action runs is counted in that span.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import statistics
import time

GROUP_PROP = "spark.jobGroup.id"

_ACC = {
    "internal.metrics.executorCpuTime": "cpu_ns",
    "internal.metrics.shuffle.write.bytesWritten": "shuffle_bytes",
    "internal.metrics.input.recordsRead": "input_records",
}


class Tracer:
    """Collects spans for one run. While ``sc`` (the SparkContext) is
    None, spans carry timing only: no session exists yet to tag jobs."""

    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list = []
        self._stack: list = []
        self.sc = None
        self.phase = "setup"  # "timed" once the warm iterations are over

    @contextlib.contextmanager
    def span(self, name: str):
        sid = f"{self.run_id}:{len(self.spans)}"
        rec = {
            "id": sid,
            "name": name,
            "parent": self._stack[-1]["id"] if self._stack else None,
            "run_id": self.run_id,
            "phase": self.phase,
            "start": time.time(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(rec)
        if self.sc is not None:
            self.sc.setLocalProperty(GROUP_PROP, sid)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            if self.sc is not None:
                parent = self._stack[-1]["id"] if self._stack else None
                self.sc.setLocalProperty(GROUP_PROP, parent)

    def dump(self, path: str, extra: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"run_id": self.run_id, "spans": self.spans, **extra}, f, indent=1)


class NoTracer:
    """Stand-in for untraced runs: spans cost nothing and record nothing."""

    @contextlib.contextmanager
    def span(self, name: str):
        yield None


def read_event_log(log_dir: str) -> dict:
    """Jobs and stages from a finished (context stopped) event log:
    ``{"jobs": {id: {...}}, "stages": {(id, attempt): {...}}}``."""
    jobs: dict = {}
    stages: dict = {}
    files = [p for p in glob.glob(os.path.join(log_dir, "*")) if os.path.isfile(p)]
    for path in files:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    jobs[ev["Job ID"]] = {
                        "group": (ev.get("Properties") or {}).get(GROUP_PROP),
                        "start": ev["Submission Time"] / 1e3,
                        "end": None,
                    }
                elif kind == "SparkListenerJobEnd":
                    jobs.setdefault(ev["Job ID"], {"group": None, "start": None})
                    jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1e3
                elif kind == "SparkListenerStageSubmitted":
                    info = ev["Stage Info"]
                    key = (info["Stage ID"], info["Stage Attempt ID"])
                    stages.setdefault(key, {"cpu_ns": 0, "shuffle_bytes": 0, "input_records": 0})
                    stages[key]["group"] = (ev.get("Properties") or {}).get(GROUP_PROP)
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    key = (info["Stage ID"], info["Stage Attempt ID"])
                    st = stages.setdefault(key, {"group": None})
                    for acc in info.get("Accumulables", []):
                        field = _ACC.get(acc.get("Name"))
                        if field:
                            st[field] = int(acc["Value"])
    return {"jobs": jobs, "stages": stages}


def _covered(intervals: list, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def span_counters(spans: list, log: dict) -> list:
    """One counter dict per span (see the module docstring)."""
    jobs_by_group: dict = {}
    for j in log["jobs"].values():
        if j["group"] and j["start"] is not None:
            jobs_by_group.setdefault(j["group"], []).append(j)
    stages_by_group: dict = {}
    for s in log["stages"].values():
        if s.get("group"):
            stages_by_group.setdefault(s["group"], []).append(s)
    out = []
    for sp in spans:
        jobs = jobs_by_group.get(sp["id"], [])
        stages = stages_by_group.get(sp["id"], [])
        wall = sp["end"] - sp["start"]
        busy = _covered([(j["start"], j["end"] or sp["end"]) for j in jobs], sp["start"], sp["end"])
        out.append({
            "name": sp["name"],
            "wall_s": wall,
            "driver_s": max(wall - busy, 0.0),
            "jobs": len(jobs),
            "executor_cpu_s": sum(s.get("cpu_ns", 0) for s in stages) / 1e9,
            "shuffle_write_mb": sum(s.get("shuffle_bytes", 0) for s in stages) / 1e6,
            "input_records": sum(s.get("input_records", 0) for s in stages),
        })
    return out


def per_layer(counters: list, layers: dict, ratios: dict) -> dict:
    """Per-layer metrics: for every span name in ``layers`` (name →
    counters it reports), the median over its calls of each counter;
    a layer with no call in this workload reports 0. ``ratios`` maps a
    span name to the row count its ``input_reads_per_row`` divides by."""
    by_name: dict = {}
    for c in counters:
        by_name.setdefault(c["name"], []).append(c)
    units = {"wall_s": "s", "driver_s": "s", "jobs": "count", "executor_cpu_s": "s", "shuffle_write_mb": "MB"}
    metrics = {}
    for name, fields in layers.items():
        calls = by_name.get(name, [])
        key = metric_prefix(name)
        for field in fields:
            value = statistics.median(c[field] for c in calls) if calls else 0
            metrics[f"{key}.{field}"] = {"value": value, "unit": units[field]}
        if name in ratios:
            rows = ratios[name]
            value = statistics.median(c["input_records"] / rows for c in calls) if calls and rows else 0
            metrics[f"{key}.input_reads_per_row"] = {"value": value, "unit": "ratio"}
    return metrics


def metric_prefix(span_name: str) -> str:
    """Metric names must start with a letter: the CLI module's spans
    (``__main__.validate``) are reported under its package path."""
    return "satya_spark." + span_name if span_name.startswith("__") else span_name
