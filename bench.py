#!/usr/bin/env python3
"""Benchmark harness — the engine's headline numbers per round.

Runs the full pipeline (datagen transcripts → extraction → ids → all four
algorithms) on a Zipf-skewed graph sized by the scale factor, on
``local[$SPARK_GRAFT_CPUS]``. Prints ONE JSON line:

    {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Every algorithm query runs ``SPARK_GRAFT_BENCH_K`` times (default 3); the
reported number is the MEDIAN and the raw per-run walls land in
``detail.*_sec_runs`` — this host varies ~3× run to run, so single samples
cannot distinguish noise from regression (round-2 lesson).

``--scaling`` additionally runs the PageRank job at two parallelism levels
(local[N] and local[4N]) in fresh JVMs and writes ``BENCH/SCALING_LAST.md`` +
a raw JSON under ``BENCH/raw/`` with
throughput at both plus efficiency = (T_N / T_4N) / 4 — the sandbox protocol
for the north_rule's two-cluster-size criterion (see BASELINE.md).
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

CONVS_PER_SF = 200_000  # sf0.1 → 20k conversations (~230k turns)


def run_pipeline(cores: int, n_convs: int, tol: float = 1e-6) -> dict:
    """Full pipeline; every algorithm query runs ``SPARK_GRAFT_BENCH_K``
    times (default 3) and reports the MEDIAN wall plus the raw per-run walls
    (``*_sec_runs``) — this host's run-to-run variance is measured at ~3×,
    so a single sample cannot distinguish noise from regression."""
    import statistics

    from pyspark import StorageLevel

    from halvesting_geometric_spark.datagen import generate_transcripts
    from halvesting_geometric_spark.operators.components import (
        connected_components,
    )
    from halvesting_geometric_spark.operators.graph import build_graph
    from halvesting_geometric_spark.operators.labelprop import label_propagation
    from halvesting_geometric_spark.operators.pagerank import pagerank
    from halvesting_geometric_spark.operators.triangles import triangle_count
    from halvesting_geometric_spark.session import get_spark

    k = max(int(os.environ.get("SPARK_GRAFT_BENCH_K", "3")), 1)

    spark = get_spark(
        app_name=f"hgs-bench-{cores}", cores=cores, shuffle_partitions=cores
    )
    # loadavg before/after lets a reader tell a contended run from a quiet
    # one (this host carries variable external load)
    out: dict = {
        "cores": cores,
        "n_convs": n_convs,
        "bench_k": k,
        "loadavg_before": list(os.getloadavg()),
    }

    def timed_median(name: str, fn):
        """Run fn k times; record median + raw walls; return last result."""
        walls, result = [], None
        for _ in range(k):
            t0 = time.monotonic()
            result = fn()
            walls.append(time.monotonic() - t0)
        out[f"{name}_sec"] = round(statistics.median(walls), 3)
        out[f"{name}_sec_runs"] = [round(w, 3) for w in walls]
        return result

    # gen and extract go through timed_median like every other headline
    # (r03 VERDICT: extract's single sample was unmeasurable on a loaded
    # host); each run rebuilds cold — the previous run's cache is dropped
    # first — and the last result is kept for downstream queries.
    _live: dict = {}

    def run_gen():
        if "tr" in _live:
            _live.pop("tr").unpersist()
        t = generate_transcripts(spark, n_convs).persist(
            StorageLevel.MEMORY_AND_DISK
        )
        out["transcript_rows"] = t.count()
        _live["tr"] = t
        return t

    tr = timed_median("gen", run_gen)

    def run_extract():
        if "g" in _live:
            old = _live.pop("g")
            old.edges.unpersist()
            old.vertices.unpersist()
        gg = build_graph(tr, scalable_ids=True)
        gg.edges.persist(StorageLevel.MEMORY_AND_DISK)
        gg.vertices.persist(StorageLevel.MEMORY_AND_DISK)
        out["num_edges"] = gg.num_edges()
        out["num_vertices"] = gg.num_vertices()
        _live["g"] = gg
        return gg

    g = timed_median("extract", run_extract)
    out["turns_per_sec"] = round(
        out["transcript_rows"] / out["extract_sec"], 1
    )

    # JVM/JIT + AQE warm-up: the first superstep run compiles the codegen
    # classes for every plan shape in the loop; steady-state throughput is the
    # meaningful number (matches long-running cluster behavior).
    t0 = time.monotonic()
    pagerank(g.edges, g.vertices, fixed_iters=3).ranks.count()
    out["warmup_sec"] = round(time.monotonic() - t0, 3)

    from halvesting_geometric_spark.session import small_state_aqe_bypass

    # tiny-state AQE bypass: AQE's per-job re-planning is a fixed driver
    # cost that dominates the superstep floor at bench scale (measured
    # 0.772 → 0.671 s/superstep on the 139k-edge graph); engages only when
    # the edge table is small, never in the 20M-edge scaling session
    _aqe = small_state_aqe_bypass(spark, out["num_edges"])
    out["aqe_bypassed"] = _aqe.__enter__()

    # batched supersteps: k iterations per Spark job (in-plan dangling
    # aggregates + shared intermediate RDDs) — measured 151 vs ~90
    # iters/min at k=6 on this graph; tol convergence may overshoot by
    # up to k−1 supersteps, all counted in the iteration total
    pr_batch = int(os.environ.get("SPARK_GRAFT_PR_BATCH", "6"))
    out["pr_delta_check_every"] = pr_batch

    def run_pr():
        pr = pagerank(
            g.edges, g.vertices, tol=tol, max_iter=200,
            delta_check_every=pr_batch,
        )
        pr.ranks.count()
        return pr

    pr = timed_median("pagerank", run_pr)
    pr_sec = out["pagerank_sec"]
    out["pagerank_iters"] = pr.iterations
    out["pagerank_converged"] = pr.converged
    out["edges_per_sec"] = round(out["num_edges"] * pr.iterations / pr_sec, 1)
    out["iters_per_min"] = round(pr.iterations / (pr_sec / 60.0), 2)

    cc = timed_median("cc", lambda: connected_components(g.edges, g.vertices))
    out["cc_rounds"] = cc.rounds
    out["cc_components"] = cc.num_components

    def run_lp():
        lp = label_propagation(
            g.edges, g.vertices, fixed_iters=5, sync_every=5
        )
        lp.labels.count()
        return lp

    timed_median("labelprop5", run_lp)

    tc = timed_median("triangles", lambda: triangle_count(g.edges, g.vertices))
    out["triangles_total"] = tc.total

    from halvesting_geometric_spark.operators.centrality import (
        hits,
        personalized_pagerank,
    )
    from halvesting_geometric_spark.operators.kcore import kcore_members

    timed_median(
        "ppr5",
        lambda: personalized_pagerank(
            g.edges, g.vertices, [0, 1, 2], fixed_iters=5
        ),
    )
    timed_median("hits5", lambda: hits(g.edges, g.vertices, fixed_iters=5))

    kc_counts = timed_median(
        "kcore3", lambda: kcore_members(g.edges, g.vertices, k=3).count()
    )
    out["kcore3_members"] = kc_counts

    from pyspark.sql import functions as F

    from halvesting_geometric_spark.operators.linkpred import (
        neighborhood_scores,
    )
    from halvesting_geometric_spark.operators.traversal import sssp

    we = g.edges.withColumn(
        "w", ((F.col("src") + F.col("dst")) % 5 + 1).cast("double")
    )
    out["sssp6_reached"] = timed_median(
        "sssp6",
        lambda: sssp(
            we, g.vertices, [0, 1, 2], weight_col="w", fixed_iters=6,
            sync_every=6,
        ).count(),
    )

    out["linkpred_pairs"] = timed_median(
        "linkpred",
        lambda: neighborhood_scores(
            g.edges, min_common=2, max_degree=256
        ).count(),
    )

    from halvesting_geometric_spark.operators.betweenness import (
        betweenness_sampled,
    )
    from halvesting_geometric_spark.operators.coloring import greedy_coloring

    out["betweenness_nonzero"] = timed_median(
        "betweenness",
        lambda: betweenness_sampled(
            g.edges, g.vertices, sources=[0, 1, 2], max_depth=4
        ).filter(F.col("betweenness") > 0).count(),
    )
    out["coloring_colors"] = timed_median(
        "coloring",
        lambda: greedy_coloring(g.edges, g.vertices, fixed_rounds=6)
        .agg(F.count_distinct("color"))
        .first()[0],
    )

    def run_bt():
        from halvesting_geometric_spark.operators.preference import (
            bradley_terry,
        )

        cmp_df = g.edges.select(
            F.col("dst").alias("winner"), F.col("src").alias("loser")
        )
        return bradley_terry(cmp_df, fixed_iters=5).strengths.count()

    out["bt5_items"] = timed_median("bt5", run_bt)

    def run_sparsify():
        from halvesting_geometric_spark.operators.sparsify import (
            local_jaccard_sparsify,
        )

        return local_jaccard_sparsify(g.edges, alpha=0.5).count()

    out["sparsify_kept"] = timed_median("sparsify", run_sparsify)

    _aqe.__exit__(None, None, None)
    spark.stop()
    out["loadavg_after"] = list(os.getloadavg())
    return out


def run_scaling_job(
    cores: int, n_vertices: int, n_edges: int, iters: int
) -> dict:
    """The scaling-protocol job: PageRank (fixed supersteps) on a pure-SQL
    power-law edge table big enough to be compute-dominated, on pagerank's
    shuffle-join path — the 100TB execution shape, where added cores do
    added work."""
    from pyspark import StorageLevel
    from pyspark.sql import functions as F

    from halvesting_geometric_spark.datagen import generate_power_law_edges
    from halvesting_geometric_spark.operators.pagerank import pagerank
    from halvesting_geometric_spark.session import get_spark

    import statistics

    spark = get_spark(
        # cores*8 tasks per stage (Spark's 2-4+ tasks/core guidance): finer
        # granularity lets the scheduler load-balance around transient
        # external load on the shared host instead of one fat straggler task
        # stretching the whole superstep
        app_name=f"hgs-scaling-{cores}", cores=cores, shuffle_partitions=cores * 8,
        extra_conf={
            # AQE's 64MB advisory size would coalesce the scatter shuffle to a
            # handful of partitions, capping reduce-side parallelism below the
            # core count — size it so every core gets work at this data scale
            "spark.sql.adaptive.advisoryPartitionSizeInBytes": "8m",
        },
    )
    edges = generate_power_law_edges(spark, n_vertices, n_edges).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    m = edges.count()
    verts = spark.range(n_vertices).select(F.col("id").alias("vertex_id"))
    # warm-up (JIT/AQE plan-shape compilation)
    pagerank(edges, verts, fixed_iters=2).ranks.count()
    t0 = time.monotonic()
    res = pagerank(edges, verts, fixed_iters=iters)
    res.ranks.count()
    wall = time.monotonic() - t0
    spark.stop()
    per_iter = [m_["wall_sec"] for m_ in res.metrics]
    # median/min per superstep are robust against host-noise spikes; the
    # median is what the scaling-efficiency ratio uses
    med = statistics.median(per_iter) if per_iter else wall / iters
    return {
        "cores": cores,
        "num_vertices": n_vertices,
        "num_edges": m,
        "iters": iters,
        "pagerank_sec": round(wall, 3),
        "edges_per_sec": round(m * iters / wall, 1),
        "iters_per_min": round(iters / (wall / 60.0), 2),
        "sec_per_iter": round(wall / iters, 3),
        "sec_per_iter_median": round(med, 3),
        "sec_per_iter_min": round(min(per_iter), 3) if per_iter else None,
        "edges_per_sec_median": round(m / med, 1),
        # full per-superstep walls: lets a reader audit host-noise spikes
        # inside the run instead of trusting the summary stats
        "per_iter_sec": [round(x, 3) for x in per_iter],
    }


def run_control_job(cores: int) -> dict:
    """CPU-bound control: a 64-deep sha2 chain over 2M rows (negligible data
    volume). Separates engine/scheduler scaling from the VM's shared memory
    bus: if THIS scales ≥0.8 and the superstep doesn't, the superstep is
    bandwidth-bound on local hardware, not serialized by the engine."""
    from pyspark.sql import functions as F

    from halvesting_geometric_spark.session import get_spark

    spark = get_spark(
        app_name=f"hgs-control-{cores}", cores=cores, shuffle_partitions=cores * 2
    )
    expr = F.col("id").cast("string")
    for _ in range(64):
        expr = F.sha2(expr, 256)
    q = spark.range(2_000_000).select(expr.alias("h")).agg(F.count("h"))
    q.first()  # warm
    best = float("inf")
    for _ in range(3):
        t0 = time.monotonic()
        q.first()
        best = min(best, time.monotonic() - t0)
    spark.stop()
    return {"cores": cores, "control_sec": round(best, 3)}


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--scaling", action="store_true",
                    help="run local[N] vs local[4N]; writes BENCH/SCALING_LAST.md "
                         "+ BENCH/raw/, never the curated BASELINE.md")
    ap.add_argument("--cores", type=int, default=None)
    ap.add_argument("--n-convs", type=int, default=None)
    ap.add_argument("--n-vertices", type=int, default=1_000_000)
    ap.add_argument("--n-edges", type=int, default=10_000_000)
    ap.add_argument("--iters", type=int, default=10)
    ap.add_argument("--subprocess-json", action="store_true",
                    help="internal: emit raw pipeline dict only")
    ap.add_argument("--subprocess-scaling-json", action="store_true",
                    help="internal: emit raw scaling-job dict only")
    ap.add_argument("--subprocess-control-json", action="store_true",
                    help="internal: emit cpu-bound control dict only")
    args = ap.parse_args()

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    try:
        sf = float(sf_dir.rstrip("/").rsplit("sf", 1)[1])
    except (IndexError, ValueError):
        sf = 0.1
    cpus = args.cores or int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    n_convs = args.n_convs or max(int(CONVS_PER_SF * sf), 200)

    if args.subprocess_json:
        print(json.dumps(run_pipeline(cpus, n_convs)))
        return

    if args.subprocess_scaling_json:
        print(json.dumps(
            run_scaling_job(cpus, args.n_vertices, args.n_edges, args.iters)
        ))
        return

    if args.subprocess_control_json:
        print(json.dumps(run_control_job(cpus)))
        return

    if args.scaling:
        run_scaling(cpus, args.n_vertices, args.n_edges, args.iters, sf)
        return

    r = run_pipeline(cpus, n_convs)
    result = {
        "metric": "pagerank_to_1e-6_wall_sec",
        "value": r["pagerank_sec"],
        "unit": "sec",
        "sf": sf,
        "queries": {
            "extract": r["extract_sec"],
            "pagerank_converge": r["pagerank_sec"],
            "connected_components": r["cc_sec"],
            "labelprop5": r["labelprop5_sec"],
            "triangles": r["triangles_sec"],
            "ppr5": r["ppr5_sec"],
            "hits5": r["hits5_sec"],
            "kcore3": r["kcore3_sec"],
            "sssp6": r["sssp6_sec"],
            "linkpred": r["linkpred_sec"],
            "betweenness4": r["betweenness_sec"],
            "coloring6": r["coloring_sec"],
            "bt5": r["bt5_sec"],
            "sparsify": r["sparsify_sec"],
        },
        "detail": r,
    }
    # the driver tails stdout and has clipped the (very long) single-line
    # JSON mid-string before (BENCH_r04 parsed:null) — persist the dict
    # to a file too, print the full line FIRST and a short parseable
    # summary line LAST so the tail window always contains valid JSON
    with open("BENCH_LAST.json", "w") as fh:
        json.dump(result, fh, indent=1)
    print(json.dumps(result))
    print(
        json.dumps(
            {
                "metric": result["metric"],
                "value": result["value"],
                "unit": result["unit"],
                "sf": result["sf"],
                "queries": result["queries"],
                "full_result": "BENCH_LAST.json",
            }
        )
    )


def run_scaling(
    cpus: int, n_vertices: int, n_edges: int, iters: int, sf: float
) -> None:
    """local[N] vs local[4N] on the same input, fresh JVM each — BOTH levels
    run back-to-back inside this single invocation (plus their controls), so
    the emitted JSON is a self-contained single-run measurement: never pair
    numbers across different invocations."""
    n_small = max(cpus // 4, 1)
    run_meta = {
        "started_unix": time.time(),
        "loadavg_before": os.getloadavg(),
        "single_run": True,
        "order": [n_small, cpus],
    }
    results: dict = {}
    controls: dict = {}
    for cores in (n_small, cpus):
        proc = subprocess.run(
            [sys.executable, os.path.abspath(__file__),
             "--subprocess-scaling-json", "--cores", str(cores),
             "--n-vertices", str(n_vertices), "--n-edges", str(n_edges),
             "--iters", str(iters)],
            capture_output=True, text=True, check=True,
            env={**os.environ, "SPARK_GRAFT_CPUS": str(cores)},
        )
        results[cores] = json.loads(proc.stdout.strip().splitlines()[-1])
        proc = subprocess.run(
            [sys.executable, os.path.abspath(__file__),
             "--subprocess-control-json", "--cores", str(cores)],
            capture_output=True, text=True, check=True,
            env={**os.environ, "SPARK_GRAFT_CPUS": str(cores)},
        )
        controls[cores] = json.loads(proc.stdout.strip().splitlines()[-1])
    small, big = results[n_small], results[cpus]
    ctl_eff = (
        controls[n_small]["control_sec"] / controls[cpus]["control_sec"]
    ) / (cpus / n_small)
    eff = (
        small["sec_per_iter_median"] / big["sec_per_iter_median"]
    ) / (cpus / n_small)
    os.makedirs("BENCH/raw", exist_ok=True)
    with open("BENCH/SCALING_LAST.md", "w") as fh:
        fh.write(
            f"""# BENCH baseline — scaling-efficiency evidence (sandbox protocol)

North_rule criterion: throughput scaling efficiency >= 0.8 moving N -> 4N
executors. No real cluster exists in this sandbox, so per BASELINE.md the
identical job runs at two local parallelism levels on the identical input
(fresh JVM each, JIT warm-up excluded from timing).

Job: {iters} PageRank supersteps (shuffle-join path, the 100TB execution
shape) over a deterministic power-law edge table: {small['num_edges']} edges,
{n_vertices} vertices.

| parallelism | wall (s) | sec/superstep (median) | sec/superstep (min) | edges/sec (median) |
|---|---|---|---|---|
| local[{n_small}] (N) | {small['pagerank_sec']} | {small['sec_per_iter_median']} | {small['sec_per_iter_min']} | {small['edges_per_sec_median']} |
| local[{cpus}] (4N) | {big['pagerank_sec']} | {big['sec_per_iter_median']} | {big['sec_per_iter_min']} | {big['edges_per_sec_median']} |

Scaling efficiency E = (median_superstep_N / median_superstep_4N) / 4 =
**{eff:.3f}** (medians are robust to host-noise spikes; see caveats)

CPU-bound control (64-deep sha2 chain, negligible data volume):
local[{n_small}] {controls[n_small]['control_sec']}s → local[{cpus}]
{controls[cpus]['control_sec']}s, efficiency **{ctl_eff:.3f}**. The control
isolates engine/scheduler scaling from hardware: when the control clears 0.8
and the superstep doesn't, the superstep is memory-bandwidth-bound on this
single-socket VM (all local "executors" share one bus), not serialized by the
engine. On a real N→4N cluster each added executor node adds its own memory
channels, shuffle disks and NIC — the resource that saturates here scales
with N there.

Caveats: local mode shares one JVM, one memory bus and one shuffle disk across
all threads; the sandbox host also carries variable external load.
"""
        )
    run_meta["finished_unix"] = time.time()
    run_meta["loadavg_after"] = os.getloadavg()
    result_json = {
        "metric": "scaling_efficiency_N_to_4N",
        "value": round(eff, 3),
        "unit": "ratio",
        "sf": sf,
        "n_small": n_small,
        "n_big": cpus,
        "control_efficiency": round(ctl_eff, 3),
        "run_meta": run_meta,
        "small": small,
        "big": big,
        "controls": controls,
    }
    # raw JSON always lands in BENCH/raw (named by levels + start time) so
    # no run is lost; BASELINE.md is the hand-curated evidence document and
    # is never clobbered by a run (SCALING_LAST.md above is the per-run md)
    raw_name = (
        f"BENCH/raw/scaling_{n_small}v{cpus}_"
        f"{int(run_meta['started_unix'])}.json"
    )
    with open(raw_name, "w") as fh:
        json.dump(result_json, fh)
    print(json.dumps(result_json))


if __name__ == "__main__":
    main()
