"""Fold a Spark event log into per-job-group rows, with the stdlib only.

Spark writes one JSON event per line.  Tasks are attributed to the job group
of the stage they ran in (``spark.jobGroup.id`` in the stage's properties):
on PySpark the call-site strings name py4j trampolines, not the caller, so
the job group the benchmark sets around each measured call is the label.
Stages that ran without a group fold into ``UNGROUPED``.

The log must be written uncompressed and unrolled
(``spark.eventLog.compress=false``, ``spark.eventLog.rolling.enabled=false``);
the 4.x default is zstd, which the stdlib cannot read.
"""

from __future__ import annotations

import json
import os
from dataclasses import asdict, dataclass, field
from typing import Dict, Iterable, List, Tuple

UNGROUPED = "(ungrouped)"


@dataclass
class GroupRow:
    jobs: int = 0
    tasks: int = 0
    wall_s: float = 0.0  # union of the group's job intervals
    run_s: float = 0.0  # executorRunTime summed over tasks
    cpu_s: float = 0.0  # executorCpuTime summed over tasks
    gc_s: float = 0.0  # JVM GC time summed over tasks
    shuffle_write_mb: float = 0.0
    output_mb: float = 0.0
    intervals: List[Tuple[int, int]] = field(default_factory=list, repr=False)

    def as_dict(self) -> dict:
        d = asdict(self)
        del d["intervals"]
        return d


def _union_ms(intervals: List[Tuple[int, int]]) -> int:
    total, end = 0, None
    for a, b in sorted(intervals):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


def _group_of(props: dict | None) -> str:
    return (props or {}).get("spark.jobGroup.id") or UNGROUPED


def fold_events(events: Iterable[dict]) -> Dict[str, GroupRow]:
    rows: Dict[str, GroupRow] = {}
    stage_group: Dict[int, str] = {}
    job_start: Dict[int, Tuple[str, int]] = {}
    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            group = _group_of(ev.get("Properties"))
            job_start[ev["Job ID"]] = (group, ev["Submission Time"])
            for sid in ev.get("Stage IDs", ()):
                stage_group.setdefault(sid, group)
        elif kind == "SparkListenerJobEnd":
            group, t0 = job_start.pop(ev["Job ID"], (None, None))
            if group is not None:
                row = rows.setdefault(group, GroupRow())
                row.jobs += 1
                row.intervals.append((t0, ev["Completion Time"]))
        elif kind == "SparkListenerStageSubmitted":
            sid = ev["Stage Info"]["Stage ID"]
            stage_group[sid] = _group_of(ev.get("Properties"))
        elif kind == "SparkListenerTaskEnd":
            row = rows.setdefault(stage_group.get(ev["Stage ID"], UNGROUPED), GroupRow())
            m = ev.get("Task Metrics") or {}
            row.tasks += 1
            row.run_s += m.get("Executor Run Time", 0) / 1e3
            row.cpu_s += m.get("Executor CPU Time", 0) / 1e9
            row.gc_s += m.get("JVM GC Time", 0) / 1e3
            sw = m.get("Shuffle Write Metrics") or {}
            row.shuffle_write_mb += sw.get("Shuffle Bytes Written", 0) / 2**20
            out = m.get("Output Metrics") or {}
            row.output_mb += out.get("Bytes Written", 0) / 2**20
    for row in rows.values():
        row.wall_s = _union_ms(row.intervals) / 1e3
    return rows


def read_events(log_dir: str) -> Iterable[dict]:
    """Events of every application log in ``log_dir`` (in-progress too)."""
    for name in sorted(os.listdir(log_dir)):
        path = os.path.join(log_dir, name)
        if not os.path.isfile(path):
            continue
        with open(path, encoding="utf-8") as fh:
            for line in fh:
                line = line.strip()
                if not line:
                    continue
                try:
                    yield json.loads(line)
                except json.JSONDecodeError:
                    continue  # the torn last line of a log still in progress


def fold_dir(log_dir: str) -> Dict[str, GroupRow]:
    return fold_events(read_events(log_dir))


if __name__ == "__main__":
    import sys

    for group, row in sorted(fold_dir(sys.argv[1]).items()):
        print(json.dumps({"group": group, **row.as_dict()}))
