"""Fold Spark's own event log into per-call statistics.

A traced run launches Spark with ``spark.eventLog.enabled=true`` (plain
JSON lines: no compression, no rolling). Every call the benchmark makes
runs under its own job group, and Spark stamps that group on each job's
``SparkListenerJobStart`` properties; jobs submitted from the program's
worker threads inherit it when the thread is started with pyspark's
``inheritable_thread_target``. A job from a plain thread carries no group;
calls run one at a time, so such a job belongs to the call during which
it was submitted. Jobs, stages and tasks are attributed by job group and
submission time, never by call site.
"""

from __future__ import annotations

import json
import os
from collections import defaultdict
from dataclasses import dataclass, field


@dataclass
class GroupStats:
    jobs: int = 0
    tasks: int = 0
    executor_cpu_s: float = 0.0
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    #: [start, end] epoch seconds of every stage attempt that ran
    stage_spans: list = field(default_factory=list)


def find_log(log_dir: str) -> str:
    """The single finished event log file under ``log_dir``."""
    names = [n for n in os.listdir(log_dir) if not n.endswith(".inprogress")]
    if len(names) != 1:
        raise RuntimeError(f"expected one finished event log in {log_dir}, "
                           f"found {sorted(os.listdir(log_dir))}")
    return os.path.join(log_dir, names[0])


def fold(path: str, windows=()) -> dict[str, GroupStats]:
    """{job group: GroupStats} over the whole log. ``windows`` lists
    ``(group, start, end)`` of every call (epoch seconds); a job without a
    group counts for the call it was submitted in, and under the key
    ``None`` if it was submitted outside every call."""
    stage_group: dict[int, str | None] = {}
    stats: dict[str | None, GroupStats] = defaultdict(GroupStats)
    with open(path) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                if group is None:
                    t = ev.get("Submission Time", 0) / 1000.0
                    group = next((g for g, a, b in windows if a <= t <= b),
                                 None)
                stats[group].jobs += 1
                for sid in ev.get("Stage IDs", []):
                    stage_group.setdefault(sid, group)
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                sub, done = info.get("Submission Time"), info.get("Completion Time")
                if sub is not None and done is not None:
                    group = stage_group.get(info["Stage ID"])
                    stats[group].stage_spans.append((sub / 1000.0, done / 1000.0))
            elif kind == "SparkListenerTaskEnd":
                group = stage_group.get(ev["Stage ID"])
                st = stats[group]
                st.tasks += 1
                m = ev.get("Task Metrics") or {}
                st.executor_cpu_s += m.get("Executor CPU Time", 0) / 1e9
                rd = m.get("Shuffle Read Metrics") or {}
                st.shuffle_read_bytes += (rd.get("Remote Bytes Read", 0)
                                          + rd.get("Local Bytes Read", 0))
                wr = m.get("Shuffle Write Metrics") or {}
                st.shuffle_write_bytes += wr.get("Shuffle Bytes Written", 0)
                st.spill_bytes += m.get("Disk Bytes Spilled", 0)
    return dict(stats)


def covered(spans, start: float, end: float) -> float:
    """Length of the union of ``spans`` clipped to [start, end]."""
    clipped = sorted((max(a, start), min(b, end)) for a, b in spans
                     if b > start and a < end)
    total, cur_a, cur_b = 0.0, None, None
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
