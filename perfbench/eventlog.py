"""Fold a Spark event log into per-job-group task totals.

Spark writes one JSON object per line.  ``SparkListenerJobStart`` carries
the job's stage ids and its local properties, among them
``spark.jobGroup.id``; ``SparkListenerTaskEnd`` carries the stage id and
the task's metrics.  Joining the two attributes every finished task to the
job group that was set when its job was submitted.

Run as a script to print the table for a log file:

    python3 perfbench/eventlog.py <event-log-file>
"""

from __future__ import annotations

import json
import sys
from collections import defaultdict

FIELDS = ("tasks", "task_s", "run_s", "cpu_s", "gc_s", "shuffle_read_bytes",
          "shuffle_write_bytes", "spill_bytes")


def fold(path: str) -> dict:
    """Return ``{job_group: {field: total}}`` for every group in the log.

    ``task_s`` is launch-to-finish time (how long the task held a core),
    ``run_s`` Spark's executor run time and ``cpu_s`` the executor thread's
    CPU time.  Python worker CPU is not in ``cpu_s``: the JVM thread waits
    while the worker computes, so that time shows in ``run_s`` only."""
    stage_group: dict = {}
    totals: dict = defaultdict(lambda: dict.fromkeys(FIELDS, 0))
    with open(path, encoding="utf-8") as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                for sid in ev.get("Stage IDs", []):
                    # a stage reused by a later job keeps its first owner:
                    # its tasks ran in the job that first submitted it
                    stage_group.setdefault(sid, group or "-")
            elif kind == "SparkListenerTaskEnd":
                group = stage_group.get(ev.get("Stage ID"), "-")
                info = ev.get("Task Info") or {}
                m = ev.get("Task Metrics") or {}
                sr = m.get("Shuffle Read Metrics") or {}
                sw = m.get("Shuffle Write Metrics") or {}
                t = totals[group]
                t["tasks"] += 1
                t["task_s"] += (info.get("Finish Time", 0)
                                - info.get("Launch Time", 0)) / 1e3
                t["run_s"] += m.get("Executor Run Time", 0) / 1e3
                t["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                t["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                t["shuffle_read_bytes"] += (sr.get("Remote Bytes Read", 0)
                                            + sr.get("Local Bytes Read", 0))
                t["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
                t["spill_bytes"] += (m.get("Memory Bytes Spilled", 0)
                                     + m.get("Disk Bytes Spilled", 0))
    return dict(totals)


if __name__ == "__main__":
    if len(sys.argv) != 2:
        sys.exit("usage: eventlog.py <event-log-file>")
    table = fold(sys.argv[1])
    print("group".ljust(16) + "".join(f.rjust(20) for f in FIELDS))
    for g in sorted(table):
        print(g.ljust(16) + "".join(
            f"{table[g][f]:20.3f}" if isinstance(table[g][f], float)
            else f"{table[g][f]:20d}" for f in FIELDS))
