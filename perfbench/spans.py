"""Spans around calls into the program, and the fold of Spark's event
log into per-span counters.

A span is one timed call. With tracing on, the call runs under a Spark
job group named after the span instance, so every job it launches
(broadcasts included) carries the group id in the event log; the
event-log fold then attributes jobs, tasks and their metrics to spans.
With tracing off a span only reads the clock.
"""

from __future__ import annotations

import json
import os
import time
from collections import defaultdict
from contextlib import contextmanager

#: counters folded from the event log for every span
COUNTERS = ("wall_s", "driver_s", "jobs", "tasks", "task_s",
            "shuffle_write_bytes", "spill_bytes", "input_bytes", "output_bytes")


class Spans:
    """Records ``(name, group, start, end)`` per timed call, in memory."""

    def __init__(self, spark, traced: bool):
        self.sc = spark.sparkContext
        self.traced = traced
        self.records: list[dict] = []

    @contextmanager
    def span(self, name: str):
        group = f"{name}#{len(self.records)}"
        if self.traced:
            self.sc.setJobGroup(group, name, interruptOnCancel=False)
        rec = {"name": name, "group": group, "start": time.time()}
        t0 = time.perf_counter()
        try:
            yield rec
        finally:
            rec["wall_s"] = time.perf_counter() - t0
            rec["end"] = rec["start"] + rec["wall_s"]
            if self.traced:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)
                rec["tracker_jobs"] = len(
                    self.sc.statusTracker().getJobIdsForGroup(group)
                )
            self.records.append(rec)


def read_event_log(log_dir: str) -> list[dict]:
    """All events of the single application log written into ``log_dir``
    (uncompressed, not rolling)."""
    apps = [f for f in os.listdir(log_dir) if not f.startswith(".")]
    if len(apps) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {apps}")
    with open(os.path.join(log_dir, apps[0])) as fh:
        return [json.loads(line) for line in fh if line.strip()]


def _union_len(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


#: a job submitted this close to a span's edge is not taken as inside it
#: (event-log times have millisecond resolution)
EDGE_S = 0.01


def fold_event_log(
    events: list[dict], records: list[dict]
) -> tuple[dict[str, dict], list[int]]:
    """Per span instance (keyed by job group): jobs, tasks, executor run
    time, shuffle-write / spill / input / output bytes, and ``driver_s``
    — the span's wall time not covered by any of its jobs.

    A stage shared by several jobs is charged to the first job that
    lists it; tasks are charged through their stage.

    Also returns the ids of jobs that carry no span's group but were
    submitted while a span ran: work a call started on a thread that
    does not inherit the job group, which the counters would miss."""
    by_group: dict[str, dict] = {
        r["group"]: dict.fromkeys(COUNTERS, 0) | {"wall_s": r["wall_s"]}
        for r in records
    }
    job_group: dict[int, str] = {}
    job_start: dict[int, float] = {}
    intervals: dict[str, list] = defaultdict(list)
    stage_group: dict[int, str] = {}
    stray: list[int] = []
    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            g = props.get("spark.jobGroup.id")
            jid = ev["Job ID"]
            if g not in by_group:
                t = ev["Submission Time"] / 1000.0
                if any(r["start"] + EDGE_S < t < r["end"] - EDGE_S for r in records):
                    stray.append(jid)
                continue
            job_group[jid] = g
            job_start[jid] = ev["Submission Time"] / 1000.0
            by_group[g]["jobs"] += 1
            for sid in ev.get("Stage IDs", []):
                stage_group.setdefault(sid, g)
        elif kind == "SparkListenerJobEnd":
            jid = ev["Job ID"]
            if jid in job_group:
                intervals[job_group[jid]].append(
                    (job_start[jid], ev["Completion Time"] / 1000.0)
                )
        elif kind == "SparkListenerTaskEnd":
            g = stage_group.get(ev.get("Stage ID"))
            if g is None:
                continue
            m = ev.get("Task Metrics") or {}
            c = by_group[g]
            c["tasks"] += 1
            c["task_s"] += m.get("Executor Run Time", 0) / 1000.0
            c["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0)
            c["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get(
                "Disk Bytes Spilled", 0)
            c["input_bytes"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
            c["output_bytes"] += (m.get("Output Metrics") or {}).get("Bytes Written", 0)
    for r in records:
        g = r["group"]
        covered = _union_len(
            [(max(s, r["start"]), min(e, r["end"])) for s, e in intervals[g]
             if min(e, r["end"]) > max(s, r["start"])]
        )
        by_group[g]["driver_s"] = max(0.0, r["wall_s"] - covered)
    return by_group, stray


def span_totals(records: list[dict], folded: dict[str, dict]) -> dict[str, dict]:
    """Sum the folded counters of every instance of each span name."""
    out: dict[str, dict] = {}
    for r in records:
        acc = out.setdefault(r["name"], dict.fromkeys(COUNTERS, 0) | {"calls": 0})
        acc["calls"] += 1
        for k in COUNTERS:
            acc[k] += folded[r["group"]][k]
    return out
