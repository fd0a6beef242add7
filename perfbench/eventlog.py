"""Spark event-log parser: jobs, stages and task metrics per span.

The traced run enables a local, uncompressed, non-rolling event log
(``spark.eventLog.*`` in ``PYSPARK_SUBMIT_ARGS``) and parses it after
``spark.stop()``.  A job belongs to the span whose Spark job group it
was submitted under.  Jobs submitted from threads that set their own
group (a streaming query's micro-batches run under the query's run
id) belong to the span whose wall-clock interval holds the job's
submission time; the client is one closed-loop thread, so at most one
span is open at any time.  A stage is counted once, for the first job
that ran it; stages a job skipped (their shuffle output already
existed) have no completion event and are not counted.
"""

from __future__ import annotations

import bisect
import json
from collections import defaultdict

COUNTERS = (
    "jobs",
    "stages",
    "tasks",
    "failed_tasks",
    "task_run_s",
    "task_cpu_s",
    "gc_s",
    "input_bytes",
    "output_bytes",
    "shuffle_read_bytes",
    "shuffle_write_bytes",
    "spill_bytes",
)


def _task_counts(ev: dict) -> dict[str, float]:
    info = ev.get("Task Info") or {}
    m = ev.get("Task Metrics") or {}
    sr = m.get("Shuffle Read Metrics") or {}
    return {
        "tasks": 1,
        "failed_tasks": int(bool(info.get("Failed") or info.get("Killed"))),
        "task_run_s": m.get("Executor Run Time", 0) / 1e3,
        "task_cpu_s": m.get("Executor CPU Time", 0) / 1e9,
        "gc_s": m.get("JVM GC Time", 0) / 1e3,
        "input_bytes": (m.get("Input Metrics") or {}).get("Bytes Read", 0),
        "output_bytes": (m.get("Output Metrics") or {}).get("Bytes Written", 0),
        "shuffle_read_bytes": sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0),
        "shuffle_write_bytes": (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0),
        "spill_bytes": m.get("Disk Bytes Spilled", 0),
    }


def attribute(path: str, spans: list[dict]) -> tuple[dict[int, dict[str, float]], int]:
    """Counters per span id, and the number of jobs submitted while the
    spans were being recorded that no span claimed.

    ``spans`` are leaf spans with ``id``, ``group`` (the job group set
    while the span was open), ``start`` and ``end`` (epoch seconds)."""
    by_group = {s["group"]: s["id"] for s in spans}
    ordered = sorted(spans, key=lambda s: s["start"])
    starts = [s["start"] for s in ordered]
    traced_until = max(s["end"] for s in spans)

    def by_time(t_ms: int) -> int | None:
        t = t_ms / 1e3
        i = bisect.bisect_right(starts, t) - 1
        if i >= 0 and t <= ordered[i]["end"]:
            return ordered[i]["id"]
        return None

    out: dict[int, dict[str, float]] = defaultdict(lambda: dict.fromkeys(COUNTERS, 0))
    stage_span: dict[int, int] = {}
    unclaimed = 0
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                sid = by_group.get(group)
                if sid is None:
                    sid = by_time(ev["Submission Time"])
                if sid is None:
                    t = ev["Submission Time"] / 1e3
                    unclaimed += starts[0] <= t <= traced_until
                    continue
                out[sid]["jobs"] += 1
                for st in ev["Stage IDs"]:
                    stage_span.setdefault(st, sid)
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                sid = stage_span.get(info["Stage ID"])
                if sid is not None and info.get("Stage Attempt ID", 0) == 0:
                    out[sid]["stages"] += 1
            elif kind == "SparkListenerTaskEnd":
                sid = stage_span.get(ev["Stage ID"])
                if sid is not None:
                    for k, v in _task_counts(ev).items():
                        out[sid][k] += v
    return dict(out), unclaimed
