"""Stdlib parser for an uncompressed Spark event log.

Attribution is by job group: the benchmark tags every call into a layer
with ``SparkContext.setJobGroup(<layer>)``, and Spark copies that local
property onto each job and stage it submits for the call (AQE query-stage
jobs included). Tasks are charged to the group of their stage.

Only four event types are decoded; the rest (SQL plan updates make up
most of the bytes) are skipped by a prefix test before ``json.loads``.
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field
from pathlib import Path
from typing import Iterable

GROUP_KEY = "spark.jobGroup.id"

_PREFIXES = tuple(
    '{"Event":"%s"' % name
    for name in (
        "SparkListenerJobStart",
        "SparkListenerJobEnd",
        "SparkListenerStageSubmitted",
        "SparkListenerTaskEnd",
    )
)


@dataclass
class Job:
    group: str | None
    submit_ms: int
    end_ms: int | None = None


@dataclass
class GroupTotals:
    jobs: int = 0
    tasks: int = 0
    task_run_s: float = 0.0
    task_cpu_s: float = 0.0
    shuffle_write_bytes: int = 0
    # bytes spilled to disk (Spark's "spill (disk)"); the in-memory size of
    # the same data ("spill (memory)") would count the spill twice
    spill_bytes: int = 0


@dataclass
class EventLog:
    jobs: dict[int, Job] = field(default_factory=dict)
    stage_group: dict[int, str | None] = field(default_factory=dict)
    groups: dict[str | None, GroupTotals] = field(default_factory=dict)

    def totals(self, group: str) -> GroupTotals:
        return self.groups.get(group, GroupTotals())


def parse(lines: Iterable[str]) -> EventLog:
    log = EventLog()

    def totals(group):
        return log.groups.setdefault(group, GroupTotals())

    for line in lines:
        if not line.startswith(_PREFIXES):
            continue
        ev = json.loads(line)
        kind = ev["Event"]
        if kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get(GROUP_KEY)
            log.jobs[ev["Job ID"]] = Job(group, ev["Submission Time"])
            totals(group).jobs += 1
        elif kind == "SparkListenerJobEnd":
            job = log.jobs.get(ev["Job ID"])
            if job is not None:
                job.end_ms = ev["Completion Time"]
        elif kind == "SparkListenerStageSubmitted":
            group = (ev.get("Properties") or {}).get(GROUP_KEY)
            log.stage_group[ev["Stage Info"]["Stage ID"]] = group
        else:  # SparkListenerTaskEnd
            t = totals(log.stage_group.get(ev["Stage ID"]))
            t.tasks += 1
            m = ev.get("Task Metrics") or {}
            t.task_run_s += m.get("Executor Run Time", 0) / 1e3
            t.task_cpu_s += m.get("Executor CPU Time", 0) / 1e9
            t.shuffle_write_bytes += (m.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0
            )
            t.spill_bytes += m.get("Disk Bytes Spilled", 0)
    return log


def parse_app(log_dir: Path, app_id: str) -> EventLog:
    """Parse application ``app_id``'s log under ``spark.eventLog.dir``:
    either one file named after the application, or (rolling logs, the
    Spark 4 layout) a directory of ``events_<n>_<app_id>`` parts."""
    single = log_dir / app_id
    if single.is_file():
        paths = [single]
    else:
        parts = (log_dir / f"eventlog_v2_{app_id}").glob("events_*")
        paths = sorted(parts, key=lambda p: int(p.name.split("_")[1]))
    if not paths:
        raise FileNotFoundError(f"no event log for {app_id} under {log_dir}")

    def lines():
        for path in paths:
            with open(path, encoding="utf-8") as f:
                yield from f

    return parse(lines())
