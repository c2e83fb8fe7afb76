"""Spans recorded around calls into the engine's public functions, and
per-span Spark stage metrics read back from the event log.

Every span has a name, start, end, parent and run id.  Spans stay in
memory and are written out once, at exit.  In a traced run each span
also tags the Spark jobs it launches with ``setJobGroup``; the event log
then maps every stage to its job group, hence to its span and layer.
"""

from __future__ import annotations

import contextlib
import json
import os
import time

from stats import median

# Per-span stage metrics, reported per layer.
STAGE_METRICS = (
    ("shuffle_bytes", "bytes"),
    ("spill_bytes", "bytes"),
    ("gc_s", "s"),
    ("tasks", "count"),
    ("task_skew", "ratio"),
)


def layer_of(name):
    return name.split(".")[0]


class Tracer:
    """Span recorder.  Untraced, a span only reads the clock; traced, it
    also sets the span's Spark job group for the duration."""

    def __init__(self, traced=False):
        self.traced = traced
        self.sc = None
        self.spans = []
        self._stack = []

    def bind(self, spark):
        self.sc = spark.sparkContext

    def _set_group(self, group):
        if not (self.traced and self.sc is not None):
            return
        if group is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            self.sc.setJobGroup(group, group)

    @contextlib.contextmanager
    def span(self, name, run_id=None):
        parent = self._stack[-1] if self._stack else None
        if run_id is None:
            run_id = parent["run"] if parent else "run"
        s = {
            "id": len(self.spans),
            "name": name,
            "parent": parent["id"] if parent else None,
            "run": run_id,
            "group": f"{run_id}/{name}/{len(self.spans)}",
            "start": time.perf_counter(),
            "end": None,
        }
        self.spans.append(s)
        self._stack.append(s)
        self._set_group(s["group"])
        try:
            yield s
        finally:
            s["end"] = time.perf_counter()
            self._stack.pop()
            self._set_group(self._stack[-1]["group"] if self._stack else None)

    def dump(self, path, self_time):
        with open(path, "w") as f:
            for s in self.spans:
                row = {k: s[k] for k in ("id", "name", "parent", "run", "start", "end")}
                row["self_s"] = self_time.get(s["id"])
                f.write(json.dumps(row) + "\n")


def read_event_log(log_dir):
    """From the one event log in ``log_dir``: task records (job group,
    stage, duration, metrics) and the number of Spark jobs per group."""
    files = [f for f in os.listdir(log_dir) if not f.startswith(".")]
    if len(files) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {files}")
    stage_group = {}
    jobs = {}
    tasks = []
    with open(os.path.join(log_dir, files[0])) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                jobs[group] = jobs.get(group, 0) + 1
            elif kind == "SparkListenerStageSubmitted":
                info = ev["Stage Info"]
                key = (info["Stage ID"], info.get("Stage Attempt ID", 0))
                stage_group[key] = (ev.get("Properties") or {}).get("spark.jobGroup.id")
            elif kind == "SparkListenerTaskEnd":
                info = ev.get("Task Info") or {}
                m = ev.get("Task Metrics") or {}
                key = (ev["Stage ID"], ev.get("Stage Attempt ID", 0))
                tasks.append(
                    {
                        "stage": key,
                        "dur": (info.get("Finish Time", 0) - info.get("Launch Time", 0)) / 1000.0,
                        "shuffle_bytes": (m.get("Shuffle Write Metrics") or {}).get(
                            "Shuffle Bytes Written", 0
                        ),
                        "spill_bytes": m.get("Disk Bytes Spilled", 0),
                        "gc_s": m.get("JVM GC Time", 0) / 1000.0,
                    }
                )
    for t in tasks:
        t["group"] = stage_group.get(t["stage"])
    return tasks, jobs


def span_stage_metrics(tasks):
    """Per job group: summed shuffle/spill/GC, task count, and the
    max/median task time of its widest stage."""
    by_group = {}
    for t in tasks:
        if t["group"] is not None:
            by_group.setdefault(t["group"], []).append(t)
    out = {}
    for group, ts in by_group.items():
        stages = {}
        for t in ts:
            stages.setdefault(t["stage"], []).append(t["dur"])
        widest = max(stages.values(), key=lambda d: (len(d), sum(d)))
        mid = median(widest)
        out[group] = {
            "shuffle_bytes": sum(t["shuffle_bytes"] for t in ts),
            "spill_bytes": sum(t["spill_bytes"] for t in ts),
            "gc_s": sum(t["gc_s"] for t in ts),
            "tasks": len(ts),
            "task_skew": (max(widest) / mid) if mid > 0 else 1.0,
        }
    return out
