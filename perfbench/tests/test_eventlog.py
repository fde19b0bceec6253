"""The event-log parser charges jobs, stages and tasks to the right span."""

from __future__ import annotations

import json

from perfbench.eventlog import layer, log_files, parse_dir, parse_events


def _job(job_id: int, group: str | None, stage_ids: list[int]) -> dict:
    props = {"spark.jobGroup.id": group} if group else {}
    return {
        "Event": "SparkListenerJobStart", "Job ID": job_id,
        "Stage IDs": stage_ids, "Properties": props,
    }


def _stage(kind: str, stage_id: int, group: str | None) -> dict:
    ev = {"Event": f"SparkListenerStage{kind}", "Stage Info": {"Stage ID": stage_id}}
    if kind == "Submitted":
        ev["Properties"] = {"spark.jobGroup.id": group} if group else {}
    return ev


def _task(stage_id: int, run_ms: int, ok: bool = True, **metrics: int) -> dict:
    return {
        "Event": "SparkListenerTaskEnd", "Stage ID": stage_id,
        "Task End Reason": {"Reason": "Success" if ok else "ExceptionFailure"},
        "Task Info": {"Failed": not ok, "Killed": False},
        "Task Metrics": {
            "Executor Run Time": run_ms,
            "Shuffle Read Metrics": {
                "Remote Bytes Read": 0,
                "Local Bytes Read": metrics.get("read", 0),
            },
            "Shuffle Write Metrics": {"Shuffle Bytes Written": metrics.get("write", 0)},
            "Memory Bytes Spilled": 0,
            "Disk Bytes Spilled": metrics.get("spill", 0),
            "Input Metrics": {"Bytes Read": metrics.get("input", 0), "Records Read": 0},
        },
    }


EVENTS = [
    # job 0 in span "pagerank": two stages, one task fails and is retried
    _job(0, "pagerank", [0, 1]),
    _stage("Submitted", 0, "pagerank"),
    _task(0, 10, write=100),
    _task(0, 30, ok=False),
    _task(0, 20, write=50),
    _stage("Completed", 0, None),
    _stage("Submitted", 1, "pagerank"),
    _task(1, 5, read=150),
    _stage("Completed", 1, None),
    {"Event": "SparkListenerJobEnd", "Job ID": 0, "Job Result": {"Result": "JobSucceeded"}},
    # job 1 in span "pagerank.resume" lists stage 1 again: skipped, not rerun
    _job(1, "pagerank.resume", [1, 2]),
    _stage("Submitted", 2, "pagerank.resume"),
    _task(2, 7, input=4096),
    _stage("Completed", 2, None),
    # job 2 in the check span, and job 3 with no group at all
    _job(2, "check.pagerank", [3]),
    _stage("Submitted", 3, "check.pagerank"),
    _task(3, 1),
    _stage("Completed", 3, None),
    _job(3, None, [4]),
    _stage("Submitted", 4, None),
    _task(4, 2, spill=9),
    _stage("Completed", 4, None),
]


def test_jobs_stages_tasks_land_in_their_span():
    stats = parse_events(json.dumps(e) for e in EVENTS)
    pr = stats["pagerank"]
    assert (pr.jobs, pr.stages, pr.tasks, pr.failed_tasks) == (1, 2, 4, 1)
    assert (pr.shuffle_write_bytes, pr.shuffle_read_bytes) == (150, 150)
    assert pr.executor_s == 0.065
    resume = stats["pagerank.resume"]
    assert (resume.jobs, resume.stages, resume.tasks, resume.input_bytes) == (1, 1, 1, 4096)
    assert stats["check.pagerank"].tasks == 1
    assert stats[""].spill_bytes == 9


def test_layer_sums_a_span_and_its_children_only():
    stats = parse_events(json.dumps(e) for e in EVENTS)
    pr = layer(stats, "pagerank")
    assert (pr.jobs, pr.stages, pr.tasks) == (2, 3, 5)
    assert layer(stats, "page").jobs == 0


def test_task_skew_is_max_over_median():
    stats = parse_events(json.dumps(e) for e in EVENTS)
    # run times 10, 30, 20, 5 -> median 15, max 30
    assert stats["pagerank"].task_skew == 2.0


def test_rolling_log_parts_are_read_in_order(tmp_path):
    app = tmp_path / "eventlog_v2_local-1"
    app.mkdir()
    lines = [json.dumps(e) + "\n" for e in EVENTS]
    (app / "events_2_local-1").write_text("".join(lines[10:]))
    (app / "events_1_local-1").write_text("".join(lines[:10]))
    (app / "appstatus_local-1").write_text("")
    assert [p.rsplit("/", 1)[1] for p in log_files(str(tmp_path))] == [
        "events_1_local-1", "events_2_local-1",
    ]
    assert parse_dir(str(tmp_path))["pagerank.resume"].tasks == 1
