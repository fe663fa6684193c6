"""Spans around library calls, and Spark stage metrics folded per span.

A span is one timed call into a library module, named ``module.function``.
It records start, end, its parent span, the workload and the pass. While a
span is open its Spark jobs run under the job group ``pb-<span id>``, so
that the event log attributes every stage to the innermost open span.
Spans are kept in memory and written out once, at the end of the run.
"""

from __future__ import annotations

import json
import os
import statistics
import time
from contextlib import contextmanager

PIPE_METRIC = "data sent to Python workers"


class Tracer:
    """Records spans when ``enabled``; otherwise every span is a no-op."""

    def __init__(self, spark, workload: str, enabled: bool):
        self.sc = spark.sparkContext
        self.workload = workload
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.pass_label = "setup"

    @contextmanager
    def span(self, name: str):
        """Yields the span's record, or None when tracing is off."""
        if not self.enabled:
            yield None
            return
        sid = len(self.spans)
        rec = {"id": sid, "name": name, "parent": self._stack[-1] if self._stack else None,
               "workload": self.workload, "pass": self.pass_label,
               "group": f"pb-{sid}", "start": time.perf_counter(), "end": None}
        self.spans.append(rec)
        self._stack.append(sid)
        self.sc.setJobGroup(rec["group"], name)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if self._stack:
                self.sc.setJobGroup(f"pb-{self._stack[-1]}", self.spans[self._stack[-1]]["name"])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)

    def self_times(self, passes: set[str] | None = None) -> dict[str, float]:
        """Seconds per layer not covered by a child span; the layer is the
        span name without its function (``agg``, ``operators.sharded``)."""
        child = {s["id"]: 0.0 for s in self.spans}
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = {}
        for s in self.spans:
            if passes is None or s["pass"] in passes:
                layer = s["name"].rsplit(".", 1)[0]
                out[layer] = out.get(layer, 0.0) + s["end"] - s["start"] - child[s["id"]]
        return out

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(self.spans, f)


def _num(v) -> float:
    try:
        return float(v)
    except (TypeError, ValueError):
        return 0.0


def fold_event_log(log_dir: str) -> dict[str, dict]:
    """Per job group: executor run seconds, bytes piped to Python workers,
    shuffle bytes written, and the task skew (max / median task time) of
    the group's widest stage, from an uncompressed Spark event log."""
    stage_group: dict[int, str] = {}
    tasks: dict[int, list[float]] = {}
    run_ms: dict[int, float] = {}
    shuffle: dict[int, float] = {}
    pipe: dict[int, float] = {}
    paths = [os.path.join(d, f) for d, _, files in os.walk(log_dir) for f in files]
    for path in sorted(paths):
        with open(path) as f:
            for line in f:
                if not line.startswith("{"):
                    continue
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if group:
                        for sid in ev.get("Stage IDs", []):
                            stage_group.setdefault(sid, group)
                elif kind == "SparkListenerTaskEnd":
                    sid = ev["Stage ID"]
                    info, m = ev.get("Task Info", {}), ev.get("Task Metrics") or {}
                    tasks.setdefault(sid, []).append(
                        _num(info.get("Finish Time")) - _num(info.get("Launch Time")))
                    run_ms[sid] = run_ms.get(sid, 0.0) + _num(m.get("Executor Run Time"))
                    sw = m.get("Shuffle Write Metrics") or {}
                    shuffle[sid] = shuffle.get(sid, 0.0) + _num(sw.get("Shuffle Bytes Written"))
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    pipe[info["Stage ID"]] = sum(  # one per Python operator of the stage
                        _num(acc.get("Value")) for acc in info.get("Accumulables", [])
                        if acc.get("Name") == PIPE_METRIC)
    out: dict[str, dict] = {}
    for sid, group in stage_group.items():
        if sid not in tasks:
            continue  # stage skipped: its output was reused
        g = out.setdefault(group, {"executor_run_s": 0.0, "pipe_bytes": 0.0,
                                   "shuffle_write_bytes": 0.0, "_widest": []})
        g["executor_run_s"] += run_ms.get(sid, 0.0) / 1000.0
        g["pipe_bytes"] += pipe.get(sid, 0.0)
        g["shuffle_write_bytes"] += shuffle.get(sid, 0.0)
        if (len(tasks[sid]), sum(tasks[sid])) > (len(g["_widest"]), sum(g["_widest"])):
            g["_widest"] = tasks[sid]
    for g in out.values():
        g["task_skew"] = _skew(g.pop("_widest"))
    return out


def _skew(task_times: list[float]) -> float:
    med = statistics.median(task_times) if task_times else 0.0
    return max(task_times) / med if med > 0 else 1.0


def combine(per_group: dict[str, dict], groups: list[str]) -> dict[str, float]:
    """Stage metrics of one span whose jobs ran under several groups."""
    parts = [per_group[g] for g in groups if g in per_group]
    out = {k: sum(p[k] for p in parts)
           for k in ("executor_run_s", "pipe_bytes", "shuffle_write_bytes")}
    out["task_skew"] = max((p["task_skew"] for p in parts), default=1.0)
    return out
