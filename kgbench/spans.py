"""Span recorder and Spark event-log parser for the traced benchmark run.

A span labels a stretch of driver time with the layer that owns it. The
label of the innermost open span is also set as ``spark.job.description``,
so every Spark job started inside a span carries it; after the run the
event log is parsed per label. A span opened around a call that only
*builds* a DataFrame gets the ``:build`` suffix, which is how jobs started
while a frame is still being built are counted (``build_jobs``).
"""

from __future__ import annotations

import glob
import json
import os
import re
import statistics
import time
from contextlib import contextmanager

BUILD = ":build"
UNLABELLED = "unlabelled"  # inside a timed job, outside every span
MB = 1024.0 * 1024.0

# SQL metrics of the Python runner exec nodes (PythonSQLMetrics in Spark)
PY_ACCUMULABLES = ("data sent to Python workers", "data returned from Python workers")


def layer_of(description: str | None) -> tuple[str | None, bool]:
    """(layer, is_build) of a job description set by :class:`Tracer`."""
    if not description:
        return None, False
    if description.endswith(BUILD):
        return description[: -len(BUILD)], True
    return description, False


class Tracer:
    """Stack of open spans; every push and pop is kept on a timeline.

    ``recording`` is off outside the timed jobs: spans then still nest but
    leave no timeline entries and set no job description, so warm-up and
    check jobs stay out of the per-layer numbers.
    """

    def __init__(self, sc):
        self.sc = sc
        self.stack: list[str] = []
        self.timeline: list[tuple[float, tuple[str, ...]]] = []
        self.recording = False

    def push(self, label: str) -> None:
        self.stack.append(label)
        self._mark()

    def pop(self, label: str) -> None:
        # pop down to (and including) the label, so a span left open by an
        # exception cannot mislabel what follows
        while self.stack:
            if self.stack.pop() == label:
                break
        self._mark()

    def _mark(self) -> None:
        if not self.recording:
            return
        self.timeline.append((time.perf_counter(), tuple(self.stack)))
        self.sc.setJobDescription(self.stack[-1] if self.stack else UNLABELLED)

    @contextmanager
    def span(self, layer: str, build: bool = False):
        label = layer + BUILD if build else layer
        self.push(label)
        try:
            yield
        finally:
            self.pop(label)

    @contextmanager
    def job(self):
        """One timed job: record spans inside it, then close any left open."""
        self.recording = True
        self._mark()
        try:
            yield
        finally:
            del self.stack[:]
            self._mark()
            self.recording = False
            self.sc.setJobDescription(None)


def span_times(timeline: list[tuple[float, tuple[str, ...]]]) -> tuple[dict, dict, float]:
    """(wall_s, self_s, covered_s) per layer from a tracer timeline.

    A layer's wall time is the time any of its spans is open; its self
    time is the part of that during which it is the innermost span.
    ``covered_s`` is the time during which any span is open.
    """
    wall: dict[str, float] = {}
    self_: dict[str, float] = {}
    covered = 0.0
    for (t0, stack), (t1, _) in zip(timeline, timeline[1:]):
        if not stack:
            continue
        dt = t1 - t0
        covered += dt
        top, _ = layer_of(stack[-1])
        self_[top] = self_.get(top, 0.0) + dt
        for layer in {layer_of(s)[0] for s in stack}:
            wall[layer] = wall.get(layer, 0.0) + dt
    return wall, self_, covered


def _log_files(log_dir: str) -> list[str]:
    """Event-log files in write order (rolling logs number their parts)."""
    files = [
        p for p in glob.glob(os.path.join(log_dir, "**", "*"), recursive=True)
        if os.path.isfile(p) and not os.path.basename(p).startswith(("appstatus", "."))
    ]

    def order(p: str):
        m = re.search(r"events_(\d+)_", os.path.basename(p))
        return (os.path.dirname(p), int(m.group(1)) if m else 0, p)

    return sorted(files, key=order)


def _new_stats() -> dict:
    return {
        "jobs": 0, "build_jobs": 0, "stages": 0, "tasks": 0, "task_s": 0.0,
        "shuffle_mb": 0.0, "spill_mb": 0.0, "read_mb": 0.0, "py_mb": 0.0,
        "task_skew": 0.0,
    }


def parse_event_log(log_dir: str) -> dict[str, dict]:
    """Aggregate a Spark event log per job-description layer.

    Per layer: jobs and build-time jobs started, stages completed, tasks,
    executor run seconds, shuffle-write, disk-spill, input and Python
    runner megabytes, and ``task_skew``: in the layer's slowest stage, the
    longest task over the median task. Jobs without a description are
    collected under the key ``None``.
    """
    stats: dict = {}
    stage_layer: dict[int, str | None] = {}
    task_ms: dict[tuple[int, int], list[int]] = {}
    stage_ms: dict[tuple[int, int], int] = {}

    def get(layer):
        return stats.setdefault(layer, _new_stats())

    for path in _log_files(log_dir):
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    layer, build = layer_of(props.get("spark.job.description"))
                    s = get(layer)
                    s["jobs"] += 1
                    s["build_jobs"] += int(build)
                    for sid in ev.get("Stage IDs", []):
                        stage_layer.setdefault(sid, layer)
                elif kind == "SparkListenerStageSubmitted":
                    props = ev.get("Properties") or {}
                    sid = ev["Stage Info"]["Stage ID"]
                    if "spark.job.description" in props:
                        stage_layer[sid] = layer_of(props["spark.job.description"])[0]
                elif kind == "SparkListenerTaskEnd":
                    sid = ev["Stage ID"]
                    s = get(stage_layer.get(sid))
                    info = ev.get("Task Info") or {}
                    tm = ev.get("Task Metrics") or {}
                    s["tasks"] += 1
                    s["task_s"] += tm.get("Executor Run Time", 0) / 1000.0
                    sw = tm.get("Shuffle Write Metrics") or {}
                    s["shuffle_mb"] += sw.get("Shuffle Bytes Written", 0) / MB
                    s["spill_mb"] += tm.get("Disk Bytes Spilled", 0) / MB
                    s["read_mb"] += (tm.get("Input Metrics") or {}).get("Bytes Read", 0) / MB
                    for acc in info.get("Accumulables", []):
                        if acc.get("Name") in PY_ACCUMULABLES:
                            s["py_mb"] += float(acc.get("Update", 0) or 0) / MB
                    key = (sid, ev.get("Stage Attempt ID", 0))
                    if info.get("Finish Time") and info.get("Launch Time"):
                        task_ms.setdefault(key, []).append(
                            info["Finish Time"] - info["Launch Time"]
                        )
                elif kind == "SparkListenerStageCompleted":
                    si = ev["Stage Info"]
                    key = (si["Stage ID"], si.get("Stage Attempt ID", 0))
                    get(stage_layer.get(si["Stage ID"]))["stages"] += 1
                    if si.get("Completion Time") and si.get("Submission Time"):
                        stage_ms[key] = si["Completion Time"] - si["Submission Time"]

    slowest: dict = {}
    for key, ms in stage_ms.items():
        layer = stage_layer.get(key[0])
        if key in task_ms and ms >= slowest.get(layer, (-1, None))[0]:
            slowest[layer] = (ms, key)
    for layer, (_, key) in slowest.items():
        durs = task_ms[key]
        med = statistics.median(durs)
        get(layer)["task_skew"] = max(durs) / med if med > 0 else 1.0
    return stats
