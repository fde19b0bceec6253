#!/usr/bin/env python3
"""The benchmark of record for halvesting_geometric_spark.

    python3 perfbench/run.py --workload transcripts --seed 42 --seconds 10 --trace 0

Run from the repository root. Starts a local Spark session through the
package's ``get_spark`` with cores and driver memory taken from the host,
sets up the workload's inputs, repeats the timed query until ``--seconds``
have passed (at least once), checks every output and prints one line per
metric and per check, then as the last line one JSON object::

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` writes Spark's
event log to a temporary directory inside the work directory and reports the
per-layer metrics parsed from it. Everything the run writes lives under
``.perfbench_work/`` in the repository root and is deleted at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shutil
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "halvesting_geometric_spark"


def host_cores() -> int:
    env = os.environ.get("SPARK_GRAFT_CPUS", "")
    if env.strip().isdigit() and int(env) > 0:
        return int(env)
    return len(os.sched_getaffinity(0))


def host_memory_mb() -> int:
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def driver_memory_mb(total_mb: int) -> int:
    """An eighth of host RAM, within [1 GiB, 2 GiB]. The inputs need far
    less, the host is shared, and a heap that fills to its cap gives a
    steadier peak RSS than one left to grow."""
    return max(1024, min(total_mb // 8, 2048))


def vm_hwm_kb(pid: int) -> int:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def jvm_gc_s(spark) -> float:
    beans = spark._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return sum(b.getCollectionTime() for b in beans) / 1000.0


def parse_args(argv: list[str] | None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=42)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument(
        "--scale", type=float, default=1.0,
        help="multiplies every input size; known-good values exist at 1",
    )
    return ap.parse_args(argv)


def metric(value: float, unit: str) -> dict:
    return {"value": value, "unit": unit}


def end_to_end(run, session_cpu_s: float) -> dict:
    """Both figures are CPU seconds of the JVM tree and the harness: outside
    load on a shared host moves wall time far more than CPU time."""
    from perfbench.workloads import median

    s = run.samples
    return {
        "setup_s": metric(session_cpu_s + median(s["input_setup_cpu_s"]), "s"),
        "query_cpu_s": metric(median(s["query_cpu_s"]), "cpu_s"),
    }


def per_layer(
    run, stats: dict, session_s: float, gc_s: float, peak_rss_mb: float,
    cores: int,
) -> dict:
    from perfbench.eventlog import layer
    from perfbench.workloads import DRIVERS, SUITE, median

    reps = max(len(run.samples["query_s"]), 1)
    out: dict = {}
    for x in DRIVERS:
        st = layer(stats, x)
        wall = run.span_s[x]
        out.update({
            f"{x}.s": metric(wall / reps, "s"),
            f"{x}.cpu_s": metric(median(run.samples[f"{x}_cpu_s"]), "cpu_s"),
            f"{x}.jobs": metric(st.jobs / reps, "count"),
            f"{x}.stages": metric(st.stages / reps, "count"),
            f"{x}.tasks": metric(st.tasks / reps, "count"),
            f"{x}.s_per_superstep": metric(median(run.superstep_s[x]), "s"),
            f"{x}.busy_ratio": metric(
                st.executor_s / (wall * cores) if wall else 0.0, "ratio"
            ),
            f"{x}.shuffle_read_bytes": metric(st.shuffle_read_bytes / reps, "B"),
            f"{x}.shuffle_write_bytes": metric(st.shuffle_write_bytes / reps, "B"),
            f"{x}.spill_bytes": metric(st.spill_bytes / reps, "B"),
            f"{x}.task_skew": metric(st.task_skew, "ratio"),
            f"{x}.supersteps": metric(median(run.supersteps[x]), "count"),
            f"{x}.failed_tasks": metric(st.failed_tasks, "count"),
        })
    for leaf in SUITE:
        out[f"{leaf}.jobs"] = metric(layer(stats, leaf).jobs / reps, "count")
        out[f"{leaf}.s"] = metric(median(run.samples[f"{leaf}_s"]), "s")
    out["suite.s"] = metric(median(run.samples["suite_s"]), "s")
    out["suite.cpu_s"] = metric(median(run.samples["suite_cpu_s"]), "cpu_s")
    ids, graph = layer(stats, "ids"), layer(stats, "graph")
    scans = [layer(stats, name) for name in ("sources", "extract", "ids", "graph")]
    lay = run.layer
    out.update({
        # the scan is lazy: its input metrics land in the ids and graph spans
        "sources.bytes_read": metric(sum(s.input_bytes for s in scans) / reps, "B"),
        "sources.rows_read": metric(sum(s.input_rows for s in scans) / reps, "count"),
        "extract.edges_out": metric(lay["extract.edges_out"], "count"),
        "extract.s": metric(run.span_s.get("extract.probe", 0.0), "s"),
        "ids.vertices": metric(lay["ids.vertices"], "count"),
        "ids.s": metric(run.span_s.get("ids", 0.0) / reps, "s"),
        "ids.jobs": metric(ids.jobs / reps, "count"),
        "graph.edges": metric(lay["graph.edges"], "count"),
        "graph.s": metric(run.span_s.get("graph", 0.0) / reps, "s"),
        "graph.jobs": metric(graph.jobs / reps, "count"),
        "graph.shuffle_write_bytes": metric(graph.shuffle_write_bytes / reps, "B"),
        "checkpoint.save_calls": metric(lay["checkpoint.save_calls"] / reps, "count"),
        "checkpoint.save_s": metric(lay["checkpoint.save_s"] / reps, "s"),
        "checkpoint.bytes_written": metric(lay["checkpoint.bytes_written"] / reps, "B"),
        "checkpoint.files": metric(lay["checkpoint.files"] / reps, "count"),
        "session.start_s": metric(session_s, "s"),
        "jvm.gc_s": metric(gc_s, "s"),
        "jvm.peak_rss_mb": metric(peak_rss_mb, "MB"),
    })
    named = sum(
        v for k, v in run.span_s.items()
        if not k.startswith(("setup.", "check.", "extract.probe"))
    )
    query = sum(run.samples["query_s"])
    out["trace.query_s"] = metric(median(run.samples["query_s"]), "s")
    out["trace.span_coverage"] = metric(named / query if query else 0.0, "ratio")
    return out


def run_benchmark(args: argparse.Namespace, work: str) -> dict:
    """Everything that needs Spark; returns the result object."""
    from halvesting_geometric_spark.session import get_spark
    from perfbench import eventlog, workloads

    if args.workload not in workloads.WORKLOADS:
        raise SystemExit(
            f"unknown workload {args.workload!r}; "
            f"choose from {sorted(workloads.WORKLOADS)}"
        )
    wl = workloads.WORKLOADS[args.workload]
    cores = host_cores()
    mem_mb = driver_memory_mb(host_memory_mb())
    log_dir = os.path.join(work, "eventlog")
    extra = {}
    if args.trace:
        os.makedirs(log_dir)
        extra = {
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + log_dir,
            "spark.eventLog.compress": "false",
        }
    host = {
        "workload": args.workload, "seed": args.seed, "scale": args.scale,
        "trace": args.trace, "cores": cores, "driver_memory_mb": mem_mb,
        "loadavg_before": os.getloadavg(),
    }
    t0, py_cpu0 = time.monotonic(), sum(os.times()[:2])
    spark = get_spark(
        app_name=f"perfbench-{args.workload}", cores=cores,
        driver_memory=f"{mem_mb}m", extra_conf=extra,
    )
    session_s = time.monotonic() - t0
    jvm = spark.sparkContext._gateway.proc
    try:
        run = workloads.Run(
            spark, args.seed, args.scale, work,
            workloads.load_known_good(args.workload, args.scale),
        )
        # the JVM's CPU since it started, plus the harness's since t0
        session_cpu_s = run.now().cpu - py_cpu0
        inputs = wl.setup(run)
        if args.trace and isinstance(inputs, str):
            probe_extract(run, inputs)
        gc0 = jvm_gc_s(spark)
        deadline = time.monotonic() + args.seconds
        while not run.samples["query_s"] or time.monotonic() < deadline:
            start, check0 = run.now(), run.check_cost
            wl.query(run, inputs)
            run.record("query", run.now() - start - (run.check_cost - check0))
        gc_s = jvm_gc_s(spark) - gc0
        peak_rss_mb = (
            vm_hwm_kb(jvm.pid)
            + resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
        ) / 1024.0
    finally:
        spark.stop()
        stop_jvm(jvm)
    host["loadavg_after"] = os.getloadavg()
    host["peak_rss_mb"] = peak_rss_mb
    host["session_s"], host["session_cpu_s"] = session_s, session_cpu_s
    if args.trace:
        stats = eventlog.parse_dir(log_dir)
        shutil.rmtree(log_dir, ignore_errors=True)
        metrics = per_layer(run, stats, session_s, gc_s, peak_rss_mb, cores)
        for x in workloads.DRIVERS:
            failed_tasks = metrics[f"{x}.failed_tasks"]["value"]
            if not run.check(f"{x}.failed_tasks", failed_tasks == 0, f"{failed_tasks}"):
                run.fail(x)  # once per attempt at most, so failed <= attempted
    else:
        metrics = end_to_end(run, session_cpu_s)
    return {
        "host": host, "run": run, "metrics": metrics,
        "samples": {k: [round(x, 4) for x in v] for k, v in run.samples.items()},
    }


def probe_extract(run, path: str) -> None:
    """Traced runs only: time extraction on its own, since inside the
    query its work runs in the ``ids`` span's jobs."""
    from halvesting_geometric_spark.operators.extract import extract_conv_edges
    from halvesting_geometric_spark.sources.io import read_table

    with run.span("extract.probe"):
        run.layer["extract.edges_out"] = extract_conv_edges(
            read_table(run.spark, path)
        ).count()


def stop_jvm(proc) -> None:
    """The gateway JVM exits when its stdin closes; wait for it."""
    try:
        proc.stdin.close()
        proc.wait(timeout=60)
    except Exception:  # noqa: BLE001 -- the process must not outlive us
        proc.kill()
        proc.wait(timeout=30)


def main(argv: list[str] | None = None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        print(f"perfbench: {PACKAGE} not found under {ROOT}", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    # Spark's scratch space, the JVM's and Python's temp files, and the
    # Python workers' import path all point inside the checkout. The JVM
    # keeps its perf counters in memory (-XX:+PerfDisableSharedMem): HotSpot
    # otherwise maps them from a file under the system temp directory,
    # whatever java.io.tmpdir says.
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(
        opt for opt in (
            os.environ.get("JAVA_TOOL_OPTIONS", ""),
            "-XX:+PerfDisableSharedMem",
            "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
        ) if opt
    )
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH", "")) if p
    )
    sys.path.insert(0, ROOT)
    try:
        out = run_benchmark(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass
    run = out["run"]
    for name, m in out["metrics"].items():
        print(f"{name} {m['value']:.6g} {m['unit']}")
    for name, ok, detail in run.checks:
        print(f"check {name} {'PASS' if ok else 'FAIL'} {detail}".rstrip())
    print(f"failed_ops {run.failed}/{run.attempted}")
    print(json.dumps({
        "host": out["host"], "observed": run.observed, "samples": out["samples"],
    }))
    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": out["metrics"],
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
