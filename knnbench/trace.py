"""Benchmark-side tracing: Spark job groups, status-tracker counts and the
Spark event log.

The benchmark tags every layer call with ``SparkContext.setJobGroup``; the
status tracker gives each group's job, stage and task counts, and the event
log (written uncompressed, since the standard library cannot read zstd)
gives each group's task metrics, job spans and broadcast bytes. Nothing is
traced inside the engine itself.
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field
from pathlib import Path


def eventlog_props(log_dir: Path) -> "dict[str, str]":
    """Spark properties that turn the event log on for the next
    SparkContext, as one uncompressed file (Spark 4 rolls the log into a
    directory by default). Block updates carry the size of every broadcast
    piece."""
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": log_dir.resolve().as_uri(),
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
        "spark.eventLog.logBlockUpdates.enabled": "true",
    }


@dataclass
class GroupStats:
    """Totals over every job of one job group (its job, stage and task
    counts come from the status tracker)."""

    run_ms: int = 0
    cpu_ns: int = 0
    gc_ms: int = 0
    shuffle_bytes: int = 0
    shuffle_records: int = 0
    shuffle_write_ns: int = 0
    fetch_wait_ms: int = 0
    python_run_ms: int = 0
    python_start_ms: int = 0
    bytes_to_python: int = 0
    bytes_from_python: int = 0
    broadcast_bytes: int = 0
    spans_ms: "list[tuple[int, int]]" = field(default_factory=list)


_PYTHON_ACCUMS = {
    "time to run Python workers": "python_run_ms",
    "time to start Python workers": "python_start_ms",
    "data sent to Python workers": "bytes_to_python",
    "data returned from Python workers": "bytes_from_python",
}


def read_events(path: Path):
    """Events of one application's event log, written with
    ``eventlog_props``: the file ``<spark.eventLog.dir>/<application id>``."""
    with open(path, encoding="utf-8") as f:
        for line in f:
            yield json.loads(line)


def group_stats(events) -> "dict[str, GroupStats]":
    """Per job group totals. A broadcast piece is charged to the group of the
    latest job started before it, which covers both a driver-side broadcast
    made between two jobs of one call and a stage's task binary."""
    groups: dict = {}
    job_group: dict = {}
    stage_group: dict = {}
    job_start: dict = {}
    current = None
    seen_pieces: set = set()
    for e in events:
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            g = (e.get("Properties") or {}).get("spark.jobGroup.id")
            job_group[e["Job ID"]] = g
            current = g
            if g is None:
                continue
            groups.setdefault(g, GroupStats())
            job_start[e["Job ID"]] = e["Submission Time"]
            for sid in e["Stage IDs"]:
                stage_group[sid] = g
        elif kind == "SparkListenerJobEnd":
            g = job_group.get(e["Job ID"])
            if g is not None:
                groups[g].spans_ms.append((job_start[e["Job ID"]], e["Completion Time"]))
        elif kind == "SparkListenerTaskEnd":
            g = stage_group.get(e["Stage ID"])
            if g is None:
                continue
            st = groups[g]
            m = e.get("Task Metrics") or {}
            st.run_ms += m.get("Executor Run Time", 0)
            st.cpu_ns += m.get("Executor CPU Time", 0)
            st.gc_ms += m.get("JVM GC Time", 0)
            w = m.get("Shuffle Write Metrics") or {}
            st.shuffle_bytes += w.get("Shuffle Bytes Written", 0)
            st.shuffle_records += w.get("Shuffle Records Written", 0)
            st.shuffle_write_ns += w.get("Shuffle Write Time", 0)
            st.fetch_wait_ms += (m.get("Shuffle Read Metrics") or {}).get("Fetch Wait Time", 0)
            for acc in e["Task Info"].get("Accumulables", []):
                attr = _PYTHON_ACCUMS.get(acc.get("Name"))
                if attr is not None and acc.get("Update") is not None:
                    setattr(st, attr, getattr(st, attr) + int(acc["Update"]))
        elif kind == "SparkListenerBlockUpdated":
            info = e["Block Updated Info"]
            block = info["Block ID"]
            size = info.get("Memory Size", 0) + info.get("Disk Size", 0)
            if (
                current is not None
                and block.startswith("broadcast_")
                and "_piece" in block
                and size > 0
                and block not in seen_pieces
            ):
                seen_pieces.add(block)
                groups[current].broadcast_bytes += size
    return groups


def union_ms(spans: "list[tuple[int, int]]") -> int:
    """Length of the union of [start, end] intervals."""
    total, end = 0, None
    for s, e in sorted(spans):
        if end is None or s > end:
            total += e - s
            end = e
        elif e > end:
            total += e - end
            end = e
    return total


def tracker_counts(sc, group: str) -> "tuple[int, int, int]":
    """(jobs, stages run, tasks completed) of one job group, from the status
    tracker."""
    tracker = sc.statusTracker()
    jobs = tracker.getJobIdsForGroup(group)
    stages = tasks = 0
    for jid in jobs:
        info = tracker.getJobInfo(jid)
        for sid in info.stageIds if info else ():
            st = tracker.getStageInfo(sid)
            if st is not None and st.numCompletedTasks > 0:
                stages += 1
                tasks += st.numCompletedTasks
    return len(jobs), stages, tasks
