"""Spark event-log accounting for the traced run.

The traced run enables ``spark.eventLog`` in the benchmark's own session
and tags every call into a layer with a job group named after the layer
(:class:`Tracer`).  After the session stops, :func:`read_event_log` parses the
log, and :class:`EventLog` sums job and task metrics per job group, so a
layer's numbers come from exactly the Spark jobs that layer ran.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import time
from dataclasses import dataclass, field


class Tracer:
    """Spans for one op: every layer call runs under the Spark job group
    ``<layer>@<tag>``, and its wall time adds to ``walls[layer]``."""

    def __init__(self, spark, tag: str):
        self.spark = spark
        self.tag = tag
        self.walls: dict[str, float] = {}
        self.counts: dict[str, float] = {}

    def group(self, layer: str) -> str:
        return f"{layer}@{self.tag}"

    @contextlib.contextmanager
    def span(self, layer: str):
        sc = self.spark.sparkContext
        sc.setJobGroup(self.group(layer), layer)
        t = time.perf_counter()
        try:
            yield
        finally:
            self.walls[layer] = self.walls.get(layer, 0.0) + time.perf_counter() - t
            sc.setJobGroup("idle", "idle")


@dataclass
class GroupStats:
    jobs: int = 0
    intervals: list[tuple[float, float]] = field(default_factory=list)  # job submit/complete, s
    executor_run_s: float = 0.0
    executor_cpu_s: float = 0.0
    scheduler_delay_s: float = 0.0
    shuffle_write_mb: float = 0.0
    spill_mb: float = 0.0

    def busy_s(self) -> float:
        """Length of the union of this group's job intervals."""
        total, end = 0.0, float("-inf")
        for a, b in sorted(self.intervals):
            if b <= end:
                continue
            total += b - max(a, end)
            end = b
        return total


class EventLog:
    """Per-job-group sums over one application's event log."""

    def __init__(self, events: list[dict]):
        self.groups: dict[str, GroupStats] = {}
        stage_group: dict[int, str] = {}
        job_group: dict[int, str] = {}
        job_start: dict[int, float] = {}
        for ev in events:
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or "none"
                job_id = ev["Job ID"]
                job_group[job_id] = group
                job_start[job_id] = ev["Submission Time"] / 1000.0
                self._group(group).jobs += 1
            elif kind == "SparkListenerJobEnd":
                job_id = ev["Job ID"]
                if job_id in job_start:
                    self._group(job_group[job_id]).intervals.append(
                        (job_start[job_id], ev["Completion Time"] / 1000.0)
                    )
            elif kind == "SparkListenerStageSubmitted":
                group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or "none"
                stage_group[ev["Stage Info"]["Stage ID"]] = group
            elif kind == "SparkListenerTaskEnd":
                self._add_task(self._group(stage_group.get(ev["Stage ID"], "none")), ev)

    def _group(self, name: str) -> GroupStats:
        return self.groups.setdefault(name, GroupStats())

    @staticmethod
    def _add_task(g: GroupStats, ev: dict) -> None:
        info = ev.get("Task Info") or {}
        m = ev.get("Task Metrics") or {}
        run_ms = m.get("Executor Run Time", 0)
        g.executor_run_s += run_ms / 1000.0
        g.executor_cpu_s += m.get("Executor CPU Time", 0) / 1e9
        shuffle = (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
        g.shuffle_write_mb += shuffle / 1e6
        g.spill_mb += (m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)) / 1e6
        # Spark UI's scheduler delay: task duration not spent deserializing,
        # running, serializing the result or fetching it.
        duration = info.get("Finish Time", 0) - info.get("Launch Time", 0)
        overhead = (
            m.get("Executor Deserialize Time", 0)
            + run_ms
            + m.get("Result Serialization Time", 0)
            + info.get("Getting Result Time", 0)
        )
        g.scheduler_delay_s += max(0, duration - overhead) / 1000.0

    def get(self, group: str) -> GroupStats:
        return self.groups.get(group, GroupStats())


def read_event_log(log_dir: str) -> EventLog:
    """Parse the one application log Spark wrote under ``log_dir``: a
    single file, or an ``eventlog_v2_*`` directory of numbered
    ``events_<n>_*`` parts."""
    apps = glob.glob(os.path.join(log_dir, "*"))
    if len(apps) != 1 or apps[0].endswith(".inprogress"):
        raise RuntimeError(f"expected one finished event log in {log_dir}, found {apps}")
    if os.path.isdir(apps[0]):
        parts = glob.glob(os.path.join(apps[0], "events_*"))
        parts.sort(key=lambda p: int(os.path.basename(p).split("_")[1]))
    else:
        parts = apps
    events = []
    for part in parts:
        with open(part) as f:
            events += [json.loads(line) for line in f if line.strip()]
    return EventLog(events)
