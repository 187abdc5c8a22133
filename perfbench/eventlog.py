"""Parse a Spark event log (uncompressed JSON lines) into per-op counts.

Ops tag their Spark work with job groups ``build:<key>``, ``plan:<key>``
and ``exec:<key>``. Jobs and stages carry the group in their
``Properties``; a task belongs to its stage. Work under any other group
(a streaming query's micro-batches run under the query's run id) is
charged to the op whose wall-clock window holds its submission time.
Tasks are counted from ``SparkListenerTaskEnd``, so a skipped stage,
which runs no task, adds none.
"""

from __future__ import annotations

import json
from collections import Counter

_KINDS = ("build", "plan", "exec")


def _owner(props: dict | None, t_ms: float | None, windows: list[tuple]) -> tuple | None:
    group = (props or {}).get("spark.jobGroup.id") or ""
    kind, _, key = group.partition(":")
    if kind in _KINDS and key:
        return kind, key
    if t_ms is not None:
        for kind, key, t0, t1 in windows:
            if t0 <= t_ms <= t1:
                return kind, key
    return None


def parse(path: str, windows: list[tuple]) -> dict:
    """Totals over the work the ``windows`` ops launched.

    ``windows`` holds ``(kind, key, start_ms, end_ms)`` for every traced
    op phase, in epoch milliseconds. Returns ``jobs`` (a Counter keyed by
    ``(kind, key)``) and task-metric sums in seconds and bytes."""
    jobs: Counter = Counter()
    stage_owner: dict[int, tuple | None] = {}
    tot = Counter()
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            name = ev.get("Event")
            if name == "SparkListenerJobStart":
                owner = _owner(ev.get("Properties"), ev.get("Submission Time"), windows)
                if owner:
                    jobs[owner] += 1
            elif name == "SparkListenerStageSubmitted":
                info = ev["Stage Info"]
                stage_owner[info["Stage ID"]] = _owner(
                    ev.get("Properties"), info.get("Submission Time"), windows)
            elif name == "SparkListenerTaskEnd":
                if not stage_owner.get(ev["Stage ID"]):
                    continue
                m = ev.get("Task Metrics") or {}
                sr = m.get("Shuffle Read Metrics") or {}
                sw = m.get("Shuffle Write Metrics") or {}
                tot["tasks"] += 1
                tot["executor_run_s"] += m.get("Executor Run Time", 0) / 1e3
                tot["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                tot["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                tot["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
                tot["shuffle_read_bytes"] += (sr.get("Remote Bytes Read", 0)
                                              + sr.get("Local Bytes Read", 0))
                tot["spill_bytes"] += m.get("Disk Bytes Spilled", 0)
                tot["input_bytes"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
    return {"jobs": jobs, **tot}
