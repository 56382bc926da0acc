"""Per-layer numbers from Spark's own event log.

A traced run enables ``spark.eventLog.enabled`` (uncompressed) and wraps
every call into a package layer in :meth:`Tracer.call`, which gives the
call its own Spark job group.  After the session stops, :func:`layer_metrics`
reads the event log back and attributes every job, stage and task to the
call that launched it.
"""

from __future__ import annotations

import json
import os
import statistics
import time
from contextlib import contextmanager

MB = float(1 << 20)

#: the ten event-log metrics reported for every tagged call
CALL_METRICS = (
    ("wall_s", "s"),
    ("jobs", "count"),
    ("driver_gap_s", "s"),
    ("task_run_s", "s"),
    ("task_cpu_s", "s"),
    ("gc_s", "s"),
    ("shuffle_write_mb", "MB"),
    ("spill_mb", "MB"),
    ("peak_exec_mem_mb", "MB"),
    ("task_skew", "ratio"),
)


def event_log_conf(log_dir: str) -> dict[str, str]:
    os.makedirs(log_dir, exist_ok=True)
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.compress": "false",
        "spark.eventLog.dir": "file://" + os.path.abspath(log_dir),
    }


class Tracer:
    """Times calls into the package; with ``spark`` set, also tags the
    Spark jobs each call launches with a job group of its own."""

    def __init__(self, spark=None):
        self.spark = spark
        self.calls: list[tuple[str, str, float, float]] = []  # tag, group, start, end

    @contextmanager
    def call(self, tag: str):
        group = f"{tag}#{len(self.calls)}"
        sc = self.spark.sparkContext if self.spark is not None else None
        if sc is not None:
            sc.setJobGroup(group, tag)
        t0 = time.time()
        try:
            yield
        finally:
            t1 = time.time()
            if sc is not None:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)
            self.calls.append((tag, group, t0, t1))


def _read_events(log_dir: str):
    """Every event of every (possibly rolled) event log file under
    ``log_dir``; callers must not depend on the order across files."""
    for root, _, names in os.walk(log_dir):
        for name in names:
            if not name.startswith("."):
                with open(os.path.join(root, name)) as fh:
                    yield from (json.loads(line) for line in fh if line.strip())


def _union_length(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


def layer_metrics(log_dir: str, calls) -> dict[str, dict[str, float]]:
    """``{tag: {metric: median over the tag's calls}}`` for the metrics
    in :data:`CALL_METRICS`."""
    jobs: dict[int, dict] = {}
    ends: dict[int, float] = {}
    stage_job: dict[int, int] = {}
    tasks: dict[int, list[dict]] = {}
    for ev in _read_events(log_dir):
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            jid = ev["Job ID"]
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
            jobs[jid] = {"group": group, "start": ev["Submission Time"] / 1e3}
            # a stage listed by several jobs runs in the first; later
            # jobs skip it
            for sid in ev.get("Stage IDs", []):
                stage_job[sid] = min(jid, stage_job.get(sid, jid))
        elif kind == "SparkListenerJobEnd":
            ends[ev["Job ID"]] = ev["Completion Time"] / 1e3
        elif kind == "SparkListenerTaskEnd":
            tm = ev.get("Task Metrics") or {}
            sw = tm.get("Shuffle Write Metrics") or {}
            tasks.setdefault(ev["Stage ID"], []).append({
                "run": tm.get("Executor Run Time", 0) / 1e3,
                "cpu": tm.get("Executor CPU Time", 0) / 1e9,
                "gc": tm.get("JVM GC Time", 0) / 1e3,
                "shuffle": sw.get("Shuffle Bytes Written", 0),
                "spill": tm.get("Disk Bytes Spilled", 0),
                "peak": tm.get("Peak Execution Memory", 0),
            })
    group_jobs: dict[str, list[int]] = {}
    for jid, j in jobs.items():
        if j["group"] is not None:
            group_jobs.setdefault(j["group"], []).append(jid)
    job_stages: dict[int, list[int]] = {}
    for sid, jid in stage_job.items():
        job_stages.setdefault(jid, []).append(sid)

    per_tag: dict[str, list[dict[str, float]]] = {}
    for tag, group, t0, t1 in calls:
        jids = group_jobs.get(group, [])
        spans = [(max(jobs[j]["start"], t0), min(ends.get(j, t1), t1)) for j in jids]
        stages = [s for j in jids for s in job_stages.get(j, [])]
        ts = [t for s in stages for t in tasks.get(s, [])]
        skew = 1.0
        ran = [s for s in stages if tasks.get(s)]
        if ran:
            big = max(ran, key=lambda s: sum(t["run"] for t in tasks[s]))
            runs = [t["run"] for t in tasks[big]]
            skew = max(runs) / max(statistics.median(runs), 1e-3)
        per_tag.setdefault(tag, []).append({
            "wall_s": t1 - t0,
            "jobs": len(jids),
            "driver_gap_s": (t1 - t0) - _union_length([s for s in spans if s[1] > s[0]]),
            "task_run_s": sum(t["run"] for t in ts),
            "task_cpu_s": sum(t["cpu"] for t in ts),
            "gc_s": sum(t["gc"] for t in ts),
            "shuffle_write_mb": sum(t["shuffle"] for t in ts) / MB,
            "spill_mb": sum(t["spill"] for t in ts) / MB,
            "peak_exec_mem_mb": max((t["peak"] for t in ts), default=0) / MB,
            "task_skew": skew,
        })
    return {
        tag: {m: statistics.median(r[m] for r in rows) for m, _ in CALL_METRICS}
        for tag, rows in per_tag.items()
    }
