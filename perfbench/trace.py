"""Layer spans for the traced run, joined to Spark's event log.

A span wraps one call into a layer's public function plus the action
that makes Spark run it. Each span gets its own job group, so the event
log (enabled only for the traced run) attributes every job, task,
executor-CPU millisecond and shuffle byte to exactly one span. Spans are
kept in memory and joined to the log once, after the session stops and
the log is flushed.

``self_s`` follows the lazy-plan rule: a span that times an action on
the pipeline up to and including its layer names the span of the
pipeline that stops one layer earlier as its ``prefix``, and its self
time is its wall time minus that prefix's wall time in the same pass.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import time
from contextlib import contextmanager

FIELDS = (
    "wall_s", "self_s", "driver_s", "jobs", "tasks",
    "executor_cpu_s", "core_util", "shuffle_write_bytes",
)


class Tracer:
    """Records spans ``(name, pass, prefix, start, end, group)``. With
    ``sc=None`` it is a no-op, so untraced passes run the same code."""

    def __init__(self, sc=None):
        self.sc = sc
        self.spans: list[dict] = []
        self.pass_idx = 0

    @contextmanager
    def span(self, name: str, prefix: str | None = None):
        if self.sc is None:
            yield
            return
        group = f"pb{len(self.spans)}"
        self.sc.setJobGroup(group, name)
        t0 = time.time()
        try:
            yield
        finally:
            t1 = time.time()
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
            self.spans.append(
                {"name": name, "pass": self.pass_idx, "prefix": prefix,
                 "start": t0, "end": t1, "group": group}
            )


def read_event_log(log_dir: str) -> list[dict]:
    """Every event under ``log_dir``, single-file or rolling (v2) layout."""
    files = sorted(
        p for p in glob.glob(os.path.join(log_dir, "**", "*"), recursive=True)
        if os.path.isfile(p) and not os.path.basename(p).startswith("appstatus")
    )
    events = []
    for path in files:
        with open(path) as f:
            for line in f:
                if line.strip():
                    events.append(json.loads(line))
    return events


def _union_len(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


def attribute(spans: list[dict], events: list[dict]) -> None:
    """Fill each span's event-log fields in place."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
            jid = ev["Job ID"]
            jobs[jid] = {"group": group, "start": ev["Submission Time"] / 1e3,
                         "end": None}
            for sid in ev.get("Stage IDs", []):
                stage_job.setdefault(sid, jid)
        elif kind == "SparkListenerJobEnd" and ev["Job ID"] in jobs:
            jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1e3
    per_group: dict[str, dict] = {}
    for job in jobs.values():
        g = per_group.setdefault(
            job["group"], {"jobs": 0, "tasks": 0, "run_ms": 0, "cpu_ns": 0,
                           "shuffle": 0, "intervals": []}
        )
        g["jobs"] += 1
        g["intervals"].append((job["start"], job["end"] or job["start"]))
    for ev in events:
        if ev.get("Event") != "SparkListenerTaskEnd":
            continue
        jid = stage_job.get(ev["Stage ID"])
        if jid is None:
            continue
        g = per_group[jobs[jid]["group"]]
        m = ev.get("Task Metrics") or {}
        g["tasks"] += 1
        g["run_ms"] += m.get("Executor Run Time", 0)
        g["cpu_ns"] += m.get("Executor CPU Time", 0)
        g["shuffle"] += (m.get("Shuffle Write Metrics") or {}).get(
            "Shuffle Bytes Written", 0
        )
    for sp in spans:
        wall = sp["end"] - sp["start"]
        g = per_group.get(sp["group"])
        busy = _union_len(g["intervals"]) if g else 0.0
        sp.update(
            wall_s=wall,
            driver_s=max(0.0, wall - busy),
            jobs=g["jobs"] if g else 0,
            tasks=g["tasks"] if g else 0,
            executor_cpu_s=g["cpu_ns"] / 1e9 if g else 0.0,
            run_s=g["run_ms"] / 1e3 if g else 0.0,
            shuffle_write_bytes=g["shuffle"] if g else 0,
        )


def layer_metrics(spans: list[dict], names: list[str], cores: int) -> dict[str, float]:
    """Per layer: each field summed over the layer's spans within one
    pass, then the median over passes. ``self_s`` is the pass's wall
    time minus its prefix layer's wall time in the same pass;
    ``core_util`` is recomputed from the summed run and wall time. A
    layer with no span reports 0: it did no work on this workload."""
    summed = ("wall_s", "driver_s", "jobs", "tasks", "executor_cpu_s",
              "run_s", "shuffle_write_bytes")
    walls: dict[tuple[int, str], float] = {}
    for sp in spans:
        key = (sp["pass"], sp["name"])
        walls[key] = walls.get(key, 0.0) + sp["wall_s"]
    out: dict[str, float] = {}
    for name in names:
        per_pass: dict[int, dict[str, float]] = {}
        for sp in spans:
            if sp["name"] != name:
                continue
            acc = per_pass.setdefault(sp["pass"], dict.fromkeys(summed, 0.0))
            for k in summed:
                acc[k] += sp[k]
            acc["prefix"] = sp["prefix"]
        for p, acc in per_pass.items():
            acc["self_s"] = acc["wall_s"] - walls.get((p, acc["prefix"]), 0.0)
            acc["core_util"] = (
                acc["run_s"] / (acc["wall_s"] * cores) if acc["wall_s"] > 0 else 0.0
            )
        for k in FIELDS:
            vals = [acc[k] for acc in per_pass.values()]
            out[f"{name}.{k}"] = statistics.median(vals) if vals else 0.0
    return out
