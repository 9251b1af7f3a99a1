"""Fold a Spark event log into per-layer records (stdlib only).

The traced benchmark run turns on Spark's local event log and wraps every
call into the package in ``setJobGroup("<workload>/<layer>")``. This
module reads that log back and, for each layer, sums what its jobs did:

* ``wall_s``: the benchmark-side spans of the layer (passed in);
* ``jobs``: jobs whose group names the layer;
* ``shuffle_read_bytes`` / ``shuffle_write_bytes`` / ``spill_bytes``
  (disk spill), from ``SparkListenerTaskEnd`` task metrics;
* ``task_time_s`` / ``gc_s``: executor run time and JVM GC time;
* ``task_skew``: max / median task duration over the layer's tasks;
* ``driver_gap_s``: the part of the layer's wall with no job of the layer
  running, i.e. planning plus driver-side Python.

A task is billed to the group of the stage that ran it; a stage to the
group its ``SparkListenerStageSubmitted`` properties carry. Times in the
log are epoch milliseconds, so spans are given in epoch milliseconds too.
"""

from __future__ import annotations

import json
import statistics
from collections import defaultdict
from dataclasses import dataclass
from typing import Iterable, Iterator

LAYER_STATS = (
    "wall_s",
    "jobs",
    "shuffle_read_bytes",
    "shuffle_write_bytes",
    "spill_bytes",
    "task_time_s",
    "gc_s",
    "task_skew",
    "driver_gap_s",
)

GROUP_KEY = "spark.jobGroup.id"


@dataclass(frozen=True)
class Span:
    """One timed call into a layer, in epoch milliseconds."""

    layer: str
    start_ms: float
    end_ms: float


def read_events(path: str) -> Iterator[dict]:
    """One dict per line of an uncompressed JSON-lines event log."""
    with open(path, encoding="utf-8") as fh:
        for line in fh:
            line = line.strip()
            if line:
                yield json.loads(line)


def _covered_ms(span: Span, intervals: list[tuple[float, float]]) -> float:
    """Length of the union of ``intervals`` clipped to ``span``."""
    clipped = sorted(
        (max(a, span.start_ms), min(b, span.end_ms))
        for a, b in intervals
        if b > span.start_ms and a < span.end_ms
    )
    total = 0.0
    cur_a = cur_b = None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def fold(events: Iterable[dict], spans: list[Span], prefix: str) -> dict[str, dict]:
    """Per-layer records for every layer named in ``spans``.

    Job groups are ``f"{prefix}/{layer}"``; jobs of other groups (or of
    no group) are ignored.
    """
    stage_group: dict[int, str | None] = {}
    job_group: dict[int, str | None] = {}
    job_iv: dict[int, list] = {}
    tasks: dict[str, list[dict]] = defaultdict(list)
    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            jid = ev["Job ID"]
            group = (ev.get("Properties") or {}).get(GROUP_KEY)
            job_group[jid] = group
            job_iv[jid] = [ev["Submission Time"], None]
            for sid in ev.get("Stage IDs", []):
                stage_group.setdefault(sid, group)
        elif kind == "SparkListenerStageSubmitted":
            sid = ev["Stage Info"]["Stage ID"]
            stage_group[sid] = (ev.get("Properties") or {}).get(GROUP_KEY)
        elif kind == "SparkListenerJobEnd":
            if ev["Job ID"] in job_iv:
                job_iv[ev["Job ID"]][1] = ev["Completion Time"]
        elif kind == "SparkListenerTaskEnd":
            group = stage_group.get(ev["Stage ID"])
            if group is not None:
                tasks[group].append(ev)

    intervals: dict[str, list[tuple[float, float]]] = defaultdict(list)
    for jid, (a, b) in job_iv.items():
        if job_group[jid] is not None and b is not None:
            intervals[job_group[jid]].append((a, b))

    out: dict[str, dict] = {}
    for layer in dict.fromkeys(s.layer for s in spans):
        group = f"{prefix}/{layer}"
        mine = [s for s in spans if s.layer == layer]
        wall_ms = sum(s.end_ms - s.start_ms for s in mine)
        covered_ms = sum(_covered_ms(s, intervals[group]) for s in mine)
        rec = dict.fromkeys(LAYER_STATS, 0)
        rec["wall_s"] = wall_ms / 1000.0
        rec["jobs"] = sum(1 for g in job_group.values() if g == group)
        rec["driver_gap_s"] = max(0.0, wall_ms - covered_ms) / 1000.0
        durations = []
        for t in tasks[group]:
            m = t.get("Task Metrics") or {}
            info = t.get("Task Info") or {}
            rd = m.get("Shuffle Read Metrics") or {}
            wr = m.get("Shuffle Write Metrics") or {}
            rec["shuffle_read_bytes"] += rd.get("Remote Bytes Read", 0) + rd.get("Local Bytes Read", 0)
            rec["shuffle_write_bytes"] += wr.get("Shuffle Bytes Written", 0)
            rec["spill_bytes"] += m.get("Disk Bytes Spilled", 0)
            rec["task_time_s"] += m.get("Executor Run Time", 0) / 1000.0
            rec["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
            durations.append(info.get("Finish Time", 0) - info.get("Launch Time", 0))
        if durations:
            # 1 ms floor: sub-millisecond tasks report a 0 ms duration
            rec["task_skew"] = max(durations) / max(statistics.median(durations), 1)
        out[layer] = rec
    return out
