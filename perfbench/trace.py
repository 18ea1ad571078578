"""Tracing from outside the engine: a py4j command counter, in-memory spans
around calls into the engine's public functions, and a parser that turns a
Spark event log into per-op execution figures.  Nothing inside the engine
is instrumented."""

from __future__ import annotations

import glob
import json
import os
import time
from collections import defaultdict
from contextlib import contextmanager
from typing import Optional

# py4j's object-release message ("m\nd\n<id>") is sent by the garbage
# collector whenever a proxy dies, so its count depends on GC timing, not
# on the work a call does.
_RELEASE_PREFIX = "m\nd\n"


class Py4JCounter:
    """Counts py4j commands by wrapping the gateway client's
    ``send_command`` (release messages excluded)."""

    def __init__(self, gateway_client) -> None:
        self.n = 0
        orig = gateway_client.send_command

        def send_command(command, *args, **kwargs):
            if not command.startswith(_RELEASE_PREFIX):
                self.n += 1
            return orig(command, *args, **kwargs)

        gateway_client.send_command = send_command


class Tracer:
    """Spans (name, start, end, parent, op id, py4j calls) kept in memory
    and written out once at the end.  Disabled, ``span`` costs one branch."""

    def __init__(self, counter: Optional[Py4JCounter]) -> None:
        self.counter = counter
        self.enabled = False
        self.op_id: Optional[str] = None
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        rec = {
            "id": len(self.spans),
            "name": name,
            "op": self.op_id,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.time(),
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        c0 = self.counter.n
        t0 = time.perf_counter()
        try:
            yield
        finally:
            rec["ms"] = (time.perf_counter() - t0) * 1e3
            rec["end"] = rec["start"] + rec["ms"] / 1e3
            rec["py4j"] = self.counter.n - c0
            self._stack.pop()

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for rec in self.spans:
                f.write(json.dumps(rec) + "\n")


# ---------------------------------------------------------------------------
# event log
# ---------------------------------------------------------------------------


def _union_ms(intervals, lo: float, hi: float) -> float:
    """Length of the union of [a, b] intervals clipped to [lo, hi]."""
    total, cur_a, cur_b = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


class EventLog:
    """Jobs, stages and tasks of one application, grouped by job group."""

    def __init__(self, log_dir: str) -> None:
        files = [p for p in glob.glob(os.path.join(log_dir, "*"))
                 if os.path.isfile(p)]
        if len(files) != 1:
            raise RuntimeError(f"expected one event log in {log_dir}, "
                               f"found {files}")
        self.jobs: dict[int, dict] = {}
        stage_group: dict[int, str] = {}
        stage_sub: dict[int, float] = {}
        self.stages: dict[str, list] = defaultdict(list)
        self.tasks: dict[str, list] = defaultdict(list)
        with open(files[0]) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev["Event"]
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    self.jobs[ev["Job ID"]] = {
                        "group": group, "start": ev["Submission Time"],
                        "end": None,
                    }
                elif kind == "SparkListenerJobEnd":
                    self.jobs[ev["Job ID"]]["end"] = ev["Completion Time"]
                elif kind == "SparkListenerStageSubmitted":
                    info = ev["Stage Info"]
                    sid = info["Stage ID"]
                    stage_group[sid] = (ev.get("Properties") or {}).get(
                        "spark.jobGroup.id")
                    stage_sub[sid] = info.get("Submission Time")
                elif kind == "SparkListenerStageCompleted":
                    sid = ev["Stage Info"]["Stage ID"]
                    self.stages[stage_group.get(sid)].append(sid)
                elif kind == "SparkListenerTaskEnd":
                    sid = ev["Stage ID"]
                    m = ev.get("Task Metrics") or {}
                    info = ev["Task Info"]
                    sr = m.get("Shuffle Read Metrics") or {}
                    sw = m.get("Shuffle Write Metrics") or {}
                    rows = ((m.get("Input Metrics") or {}).get("Records Read", 0)
                            + sr.get("Total Records Read", 0))
                    sub = stage_sub.get(sid) or info["Launch Time"]
                    self.tasks[stage_group.get(sid)].append({
                        "run_ms": m.get("Executor Run Time", 0),
                        "cpu_ms": m.get("Executor CPU Time", 0) / 1e6,
                        "wait_ms": max(info["Launch Time"] - sub, 0),
                        "gc_ms": m.get("JVM GC Time", 0),
                        "sw": sw.get("Shuffle Bytes Written", 0),
                        "sr": (sr.get("Remote Bytes Read", 0)
                               + sr.get("Local Bytes Read", 0)),
                        "spill": (m.get("Memory Bytes Spilled", 0)
                                  + m.get("Disk Bytes Spilled", 0)),
                        "empty": rows == 0,
                    })

    def job_intervals(self, group: str) -> list:
        return [(j["start"], j["end"]) for j in self.jobs.values()
                if j["group"] == group and j["end"] is not None]

    def covered_ms(self, group: str, start_s: float, end_s: float) -> float:
        """Milliseconds of [start_s, end_s] (epoch seconds) during which a
        job of ``group`` was running."""
        return _union_ms(self.job_intervals(group), start_s * 1e3, end_s * 1e3)

    def op_figures(self, group: str, start_s: float, end_s: float) -> dict:
        """The ``exec.*`` figures of one op (its job group, its wall-clock
        window in epoch seconds).  ``job_ms`` sums job durations;
        ``driver_gap_ms`` is the op's wall time outside every job;
        ``task_wait_ms`` sums each task's launch delay after its stage was
        submitted; an empty task read no input and no shuffle rows."""
        tasks = self.tasks.get(group, [])
        jobs = self.job_intervals(group)
        wall = (end_s - start_s) * 1e3
        return {
            "exec.jobs": len(jobs),
            "exec.stages": len(self.stages.get(group, [])),
            "exec.tasks": len(tasks),
            "exec.job_ms": sum(b - a for a, b in jobs),
            "exec.driver_gap_ms": max(
                wall - self.covered_ms(group, start_s, end_s), 0.0),
            "exec.task_run_ms": sum(t["run_ms"] for t in tasks),
            "exec.task_cpu_ms": sum(t["cpu_ms"] for t in tasks),
            "exec.task_wait_ms": sum(t["wait_ms"] for t in tasks),
            "exec.gc_ms": sum(t["gc_ms"] for t in tasks),
            "exec.shuffle_write_bytes": sum(t["sw"] for t in tasks),
            "exec.shuffle_read_bytes": sum(t["sr"] for t in tasks),
            "exec.spill_bytes": sum(t["spill"] for t in tasks),
            "exec.empty_task_ratio": (
                sum(t["empty"] for t in tasks) / len(tasks) if tasks else 0.0
            ),
        }
