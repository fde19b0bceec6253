"""End to end: the harness runs, checks outputs, counts failures, and
releases what each operation caches."""

from __future__ import annotations

import dataclasses
import json
import os
import subprocess
import sys

import pytest
from pyspark.sql import functions as F

from perfbench.eventlog import parse_dir

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

with open(os.path.join(ROOT, "BENCHMARK.json")) as _fh:
    CONTRACT = json.load(_fh)


def _run(*args: str) -> tuple[dict, str]:
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", *args], cwd=ROOT,
        capture_output=True, text=True, timeout=400,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    lines = proc.stdout.strip().splitlines()
    return json.loads(lines[-1]), proc.stdout


def test_smoke_run_passes_every_output_check():
    # ~500 conversations
    result, stdout = _run(
        "--workload", "transcripts", "--scale", "0.25", "--seconds", "0",
        "--seed", "42", "--trace", "0",
    )
    assert result["correct"] is True
    # build, four drivers and nine suite leaves
    assert (result["attempted"], result["failed"]) == (14, 0)
    assert set(result["metrics"]) == {m["name"] for m in CONTRACT["end_to_end"]}
    assert all(m["value"] > 0 for m in result["metrics"].values())
    assert "check triangles.per_vertex PASS" in stdout
    assert " FAIL" not in stdout


def test_traced_run_reports_every_layer_metric():
    result, _ = _run(
        "--workload", "powerlaw", "--scale", "0.1", "--seconds", "0",
        "--seed", "5", "--trace", "1",
    )
    assert result["correct"] is True
    metrics = result["metrics"]
    assert set(metrics) == {m["name"] for m in CONTRACT["per_layer"]}
    assert metrics["trace.span_coverage"]["value"] >= 0.9
    assert metrics["pagerank.jobs"]["value"] > 0
    assert metrics["checkpoint.save_calls"]["value"] > 0
    assert metrics["components.failed_tasks"]["value"] == 0


def test_cpu_accounting_follows_child_processes():
    from perfbench.workloads import tree_ticks

    busy = "import time\nt = time.time()\nwhile time.time() - t < 2: pass"
    child = subprocess.Popen([sys.executable, "-c", busy])
    try:
        assert child.pid in {pid for pid, _ in tree_ticks(os.getpid())}
    finally:
        child.wait(timeout=30)


@pytest.fixture(scope="module")
def graph(traced_spark):
    from halvesting_geometric_spark.datagen import generate_power_law_edges
    from perfbench.workloads import Graph

    spark, _ = traced_spark
    edges = generate_power_law_edges(spark, 300, 3000, seed=3).persist()
    vertices = spark.range(300).select(F.col("id").alias("vertex_id")).persist()
    edges.count(), vertices.count()
    return Graph(edges, vertices)


def test_corrupted_result_counts_as_failed_op(traced_spark, graph, tmp_path):
    from halvesting_geometric_spark.operators.components import connected_components
    from perfbench.workloads import Run, verify_components

    spark, _ = traced_spark
    run = Run(spark, seed=3, scale=1.0, work_dir=str(tmp_path))

    def corrupted():
        res = connected_components(graph.edges, graph.vertices)
        wrong = F.when(F.col("vertex_id") == 7, F.col("component") + 1)
        return dataclasses.replace(
            res,
            components=res.components.withColumn(
                "component", wrong.otherwise(F.col("component"))
            ),
        )

    ok = lambda: connected_components(graph.edges, graph.vertices)  # noqa: E731
    run.op("components", ok, lambda r: verify_components(run, graph, r))
    assert (run.attempted, run.failed) == (1, 0)
    run.op("components", corrupted, lambda r: verify_components(run, graph, r))
    assert (run.attempted, run.failed) == (2, 1)
    assert ("components.reference", False, "") in run.checks
    # a later failure of the same operation, such as failed tasks found in
    # the trace, is charged at most once per attempt
    run.fail("components")
    run.fail("components")
    assert (run.attempted, run.failed) == (2, 2)


def test_repeated_operation_repeats_its_jobs_and_tasks(traced_spark, graph, tmp_path):
    from halvesting_geometric_spark.operators.triangles import triangle_count
    from perfbench.workloads import Run

    spark, log_dir = traced_spark
    run = Run(spark, seed=3, scale=1.0, work_dir=str(tmp_path))

    def call(span):
        return run.timed(span, lambda: triangle_count(graph.edges, graph.vertices))[0]

    for span in ("released.1", "released.2"):
        run.op(span, lambda: call(span), lambda r: {})
    # the same two calls without the release: the second reads the first's
    # cached triangle listing, which is the carry-over the release removes
    keep = run.cached_state()
    call("kept.1")
    call("kept.2")
    run.release(keep)
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    stats = parse_dir(log_dir)

    def counts(span):
        return stats[span].jobs, stats[span].stages, stats[span].tasks

    assert counts("released.1") == counts("released.2")
    assert counts("released.1")[0] > 0
    assert counts("kept.2")[2] < counts("kept.1")[2]
