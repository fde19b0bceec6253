"""Spark event log -> counts per span.

A span is a job group the harness sets (``SparkContext.setJobGroup``) around
one call into a layer's public function. Every job, stage and task in the log
is charged to the job group that submitted it; work with no group is charged
to ``""``. The log must be written uncompressed (``spark.eventLog.compress``
false), because the codec Spark defaults to needs a module Python lacks here.
"""

from __future__ import annotations

import json
import os
import statistics
from collections import defaultdict
from collections.abc import Iterable, Iterator
from dataclasses import dataclass, field

GROUP_KEY = "spark.jobGroup.id"


@dataclass
class SpanStats:
    jobs: int = 0
    failed_jobs: int = 0
    stages: int = 0
    tasks: int = 0
    failed_tasks: int = 0
    run_ms: list[int] = field(default_factory=list)  # executor run time per task
    gc_ms: int = 0
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    input_bytes: int = 0
    input_rows: int = 0

    @property
    def executor_s(self) -> float:
        return sum(self.run_ms) / 1000.0

    @property
    def task_skew(self) -> float:
        """Max over median task run time (median floored at 1 ms)."""
        if not self.run_ms:
            return 1.0
        return max(self.run_ms) / max(statistics.median(self.run_ms), 1.0)

    def merge(self, other: SpanStats) -> None:
        for name in self.__dataclass_fields__:
            mine = getattr(self, name)
            theirs = getattr(other, name)
            setattr(self, name, mine + theirs)


def _group(props: dict | None) -> str:
    return (props or {}).get(GROUP_KEY) or ""


def parse_events(lines: Iterable[str]) -> dict[str, SpanStats]:
    """Fold event-log lines into ``{job group: SpanStats}``."""
    stats: dict[str, SpanStats] = defaultdict(SpanStats)
    job_group: dict[int, str] = {}
    stage_group: dict[int, str] = {}
    for line in lines:
        if not line.strip():
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            group = _group(ev.get("Properties"))
            job_group[ev["Job ID"]] = group
            stats[group].jobs += 1
            for sid in ev.get("Stage IDs", []):
                stage_group.setdefault(sid, group)
        elif kind == "SparkListenerJobEnd":
            result = ev.get("Job Result", {}).get("Result")
            if result != "JobSucceeded":
                stats[job_group.get(ev["Job ID"], "")].failed_jobs += 1
        elif kind == "SparkListenerStageSubmitted":
            # the submitting job's properties are authoritative: a stage
            # listed by several jobs runs once, in the job that submits it
            props = ev.get("Properties")
            if props is not None:
                stage_group[ev["Stage Info"]["Stage ID"]] = _group(props)
        elif kind == "SparkListenerStageCompleted":
            sid = ev["Stage Info"]["Stage ID"]
            stats[stage_group.get(sid, "")].stages += 1
        elif kind == "SparkListenerTaskEnd":
            s = stats[stage_group.get(ev["Stage ID"], "")]
            s.tasks += 1
            info = ev.get("Task Info", {})
            reason = ev.get("Task End Reason", {}).get("Reason")
            if info.get("Failed") or info.get("Killed") or reason != "Success":
                s.failed_tasks += 1
            m = ev.get("Task Metrics") or {}
            s.run_ms.append(int(m.get("Executor Run Time", 0)))
            s.gc_ms += int(m.get("JVM GC Time", 0))
            s.spill_bytes += int(m.get("Memory Bytes Spilled", 0)) + int(
                m.get("Disk Bytes Spilled", 0)
            )
            rd = m.get("Shuffle Read Metrics") or {}
            s.shuffle_read_bytes += int(rd.get("Remote Bytes Read", 0)) + int(
                rd.get("Local Bytes Read", 0)
            )
            wr = m.get("Shuffle Write Metrics") or {}
            s.shuffle_write_bytes += int(wr.get("Shuffle Bytes Written", 0))
            inp = m.get("Input Metrics") or {}
            s.input_bytes += int(inp.get("Bytes Read", 0))
            s.input_rows += int(inp.get("Records Read", 0))
    return dict(stats)


def log_files(log_dir: str) -> list[str]:
    """Event files under ``log_dir``: single-file logs, and the numbered
    ``events_<n>_*`` parts of rolling logs (``eventlog_v2_*`` directories)."""
    found = []
    for dirpath, _, files in os.walk(log_dir):
        for name in files:
            if name.startswith(("appstatus", ".")) or name.endswith(".crc"):
                continue
            part = int(name.split("_")[1]) if name.startswith("events_") else 0
            found.append((dirpath, part, os.path.join(dirpath, name)))
    return [path for *_, path in sorted(found)]


def parse_dir(log_dir: str) -> dict[str, SpanStats]:
    """Parse every application log under ``log_dir``."""
    def lines() -> Iterator[str]:
        for path in log_files(log_dir):
            with open(path) as fh:
                yield from fh

    return parse_events(lines())


def layer(stats: dict[str, SpanStats], name: str) -> SpanStats:
    """Sum the spans ``name`` and ``name.<anything>``."""
    total = SpanStats()
    for group, s in stats.items():
        if group == name or group.startswith(name + "."):
            total.merge(s)
    return total
