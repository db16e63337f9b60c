"""Spark event-log reader keyed by job group.

The traced run enables ``spark.eventLog`` (uncompressed, not rolling) and
wraps each span in ``sparkContext.setJobGroup``. Every job carries its
group in the ``spark.jobGroup.id`` property, so stages and tasks can be
charged to the span whose call started them.

Counts come from here rather than ``statusTracker``, which reports
stage counts that vary between identical passes.

Python SQL metrics (Spark 4.1's ``pythonTotalTime``, ``pythonBootTime``,
``pythonInitTime``, ``pythonDataSent``, ``pythonDataReceived``) arrive as
task accumulables under their display names; their times are in ms.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
from dataclasses import dataclass, field

PY_METRICS = {
    "time to run Python workers": "python_total_ms",
    "time to start Python workers": "python_boot_ms",
    "time to initialize Python workers": "python_init_ms",
    "data sent to Python workers": "python_sent",
    "data returned from Python workers": "python_received",
}


@dataclass
class Task:
    stage: int
    launch_ms: int
    finish_ms: int
    run_ms: int
    cpu_ns: int
    gc_ms: int
    shuffle_read: int
    shuffle_write: int
    py: dict[str, int] = field(default_factory=dict)


@dataclass
class Job:
    group: str
    submit_ms: int
    end_ms: int
    stages: list[int]


class EventLog:
    def __init__(self, log_dir: str) -> None:
        self.jobs: dict[int, Job] = {}
        self.completed_stages: set[int] = set()
        self.tasks: list[Task] = []
        for path in sorted(glob.glob(os.path.join(log_dir, "*"))):
            with open(path) as f:
                for line in f:
                    self._add(json.loads(line))

    def _add(self, ev: dict) -> None:
        kind = ev["Event"]
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            self.jobs[ev["Job ID"]] = Job(
                group=props.get("spark.jobGroup.id") or "",
                submit_ms=ev["Submission Time"],
                end_ms=ev["Submission Time"],
                stages=list(ev["Stage IDs"]),
            )
        elif kind == "SparkListenerJobEnd":
            job = self.jobs.get(ev["Job ID"])
            if job is not None:
                job.end_ms = ev["Completion Time"]
        elif kind == "SparkListenerStageCompleted":
            self.completed_stages.add(ev["Stage Info"]["Stage ID"])
        elif kind == "SparkListenerTaskEnd":
            info, m = ev["Task Info"], ev.get("Task Metrics") or {}
            sr = m.get("Shuffle Read Metrics") or {}
            sw = m.get("Shuffle Write Metrics") or {}
            py = {}
            for acc in info.get("Accumulables", []):
                key = PY_METRICS.get(acc.get("Name"))
                if key is not None:
                    py[key] = int(acc.get("Update") or 0)
            self.tasks.append(
                Task(
                    stage=ev["Stage ID"],
                    launch_ms=info["Launch Time"],
                    finish_ms=info["Finish Time"],
                    run_ms=int(m.get("Executor Run Time", 0)),
                    cpu_ns=int(m.get("Executor CPU Time", 0)),
                    gc_ms=int(m.get("JVM GC Time", 0)),
                    shuffle_read=int(sr.get("Remote Bytes Read", 0))
                    + int(sr.get("Local Bytes Read", 0)),
                    shuffle_write=int(sw.get("Shuffle Bytes Written", 0)),
                    py=py,
                )
            )

    def summary(self, groups: set[str], window: tuple[float, float] | None = None) -> dict:
        """Spark's own accounting for the jobs of ``groups``.

        ``window`` (epoch seconds) is the pass interval; ``idle_s`` is the
        part of it during which none of these jobs was running.
        """
        jobs = [j for j in self.jobs.values() if j.group in groups]
        stage_ids = {s for j in jobs for s in j.stages} & self.completed_stages
        tasks = [t for t in self.tasks if t.stage in stage_ids]
        arrow = [t for t in tasks if "python_total_ms" in t.py]
        durations = [t.finish_ms - t.launch_ms for t in arrow]
        out = {
            "jobs": len(jobs),
            "stages": len(stage_ids),
            "tasks": len(tasks),
            "executor_run_s": sum(t.run_ms for t in tasks) / 1e3,
            "executor_cpu_s": sum(t.cpu_ns for t in tasks) / 1e9,
            "gc_s": sum(t.gc_ms for t in tasks) / 1e3,
            "shuffle_read_bytes": sum(t.shuffle_read for t in tasks),
            "shuffle_write_bytes": sum(t.shuffle_write for t in tasks),
            "arrow_tasks": len(arrow),
            "arrow_task_skew": (
                max(durations) / max(statistics.median(durations), 1)
                if durations
                else 0.0
            ),
            "python_s": sum(t.py.get("python_total_ms", 0) for t in arrow) / 1e3,
            "python_boot_s": sum(t.py.get("python_boot_ms", 0) for t in arrow) / 1e3,
            "python_init_s": sum(t.py.get("python_init_ms", 0) for t in arrow) / 1e3,
            "python_bytes_sent": sum(t.py.get("python_sent", 0) for t in arrow),
            "python_bytes_received": sum(t.py.get("python_received", 0) for t in arrow),
        }
        if window is not None:
            out["idle_s"] = _uncovered_s(window, [(j.submit_ms, j.end_ms) for j in jobs])
        return out


def _uncovered_s(window: tuple[float, float], spans_ms: list[tuple[int, int]]) -> float:
    """Seconds of ``window`` covered by none of ``spans_ms``."""
    lo, hi = window
    covered = 0.0
    cur_s = cur_e = None
    for s, e in sorted((max(s / 1e3, lo), min(e / 1e3, hi)) for s, e in spans_ms):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                covered += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        covered += cur_e - cur_s
    return max(0.0, (hi - lo) - covered)
