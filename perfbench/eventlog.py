"""Reduce a Spark event log to engine counters per job group.

The traced run attaches an uncompressed JSON event-log listener to the
running SparkContext from outside the program.  Each
``SparkListenerJobStart`` carries the job group the benchmark set around
the call that launched the job, so the counters below are attributed by
group (a registry key or ``ledger-batch-<id>``), not by plan: staged
queries launch several jobs for one final plan.
"""

from __future__ import annotations

import json
import os
from collections import Counter, defaultdict

#: Counter names, in report order.
COUNTERS = (
    "jobs",
    "stages",
    "tasks",
    "executor_run_ms",
    "executor_cpu_ms",
    "gc_ms",
    "shuffle_read_bytes",
    "shuffle_write_bytes",
    "spill_bytes",
    "input_bytes",
    "output_bytes",
)


def counters_by_group(log_dir: str) -> dict[str, Counter]:
    """Sum task metrics per job group over the event logs in ``log_dir``.
    Jobs without a group land under the empty string."""
    job_group: dict[int, str] = {}
    stage_job: dict[int, int] = {}
    out: dict[str, Counter] = defaultdict(Counter)
    for name in sorted(os.listdir(log_dir)):
        if name.startswith("."):
            continue
        with open(os.path.join(log_dir, name), encoding="utf-8") as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    jid = ev["Job ID"]
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
                    job_group[jid] = group
                    out[group]["jobs"] += 1
                    for sid in ev.get("Stage IDs", []):
                        stage_job.setdefault(sid, jid)
                elif kind == "SparkListenerStageCompleted":
                    jid = stage_job.get(ev["Stage Info"]["Stage ID"])
                    if jid in job_group:
                        out[job_group[jid]]["stages"] += 1
                elif kind == "SparkListenerTaskEnd":
                    jid = stage_job.get(ev["Stage ID"])
                    if jid in job_group:
                        _add_task(out[job_group[jid]], ev.get("Task Metrics") or {})
    return dict(out)


def _add_task(c: Counter, m: dict) -> None:
    shuffle_read = m.get("Shuffle Read Metrics") or {}
    c["tasks"] += 1
    c["executor_run_ms"] += m.get("Executor Run Time", 0)
    c["executor_cpu_ms"] += m.get("Executor CPU Time", 0) / 1e6
    c["gc_ms"] += m.get("JVM GC Time", 0)
    c["shuffle_read_bytes"] += shuffle_read.get("Remote Bytes Read", 0) + shuffle_read.get(
        "Local Bytes Read", 0
    )
    c["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
        "Shuffle Bytes Written", 0
    )
    c["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
    c["input_bytes"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
    c["output_bytes"] += (m.get("Output Metrics") or {}).get("Bytes Written", 0)


def total(groups: dict[str, Counter]) -> Counter:
    out: Counter = Counter()
    for c in groups.values():
        out.update(c)
    return out
