#!/usr/bin/env python3
"""Per-query isolation bench (guide §1.4) — NOT the frozen driver bench.

Builds the identical graph to bench.py (datagen → build_graph at
$SPARK_GRAFT_SF_DIR's scale factor), then times each declared bench query
in isolation: one warm-up run (JIT/codegen) + ``--reps`` timed runs, with
``setJobDescription`` labels and per-query Spark job counts (driver-floor
proxy: at sf0.1 most queries are job-scheduling-bound, so "jobs" is the
first number to shrink — guide §1.2 step 1).

Usage:
    python bench_extra.py                 # all queries, 3 reps
    python bench_extra.py --queries sparsify bt5 --reps 2
    python bench_extra.py --plans plans/r06 --suffix before   # dump explain()
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

CONVS_PER_SF = 200_000


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--queries", nargs="*", default=None)
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument("--plans", default=None,
                    help="directory to dump .explain('formatted') per query")
    ap.add_argument("--suffix", default="before",
                    help="plan file suffix: <query>_<suffix>.txt")
    ap.add_argument("--n-convs", type=int, default=None)
    args = ap.parse_args()

    from pyspark import StorageLevel
    from pyspark.sql import functions as F

    from halvesting_geometric_spark.datagen import generate_transcripts
    from halvesting_geometric_spark.operators.graph import build_graph
    from halvesting_geometric_spark.session import get_spark, small_state_aqe_bypass

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    try:
        sf = float(sf_dir.rstrip("/").rsplit("sf", 1)[1])
    except (IndexError, ValueError):
        sf = 0.1
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))
    n_convs = args.n_convs or max(int(CONVS_PER_SF * sf), 200)

    spark = get_spark(app_name="hgs-bench-extra", cores=cpus,
                      shuffle_partitions=cpus)
    sc = spark.sparkContext

    tr = generate_transcripts(spark, n_convs).persist(StorageLevel.MEMORY_AND_DISK)
    tr.count()
    g = build_graph(tr, scalable_ids=True)
    g.edges.persist(StorageLevel.MEMORY_AND_DISK)
    g.vertices.persist(StorageLevel.MEMORY_AND_DISK)
    m, n = g.num_edges(), g.num_vertices()

    out: dict = {"sf": sf, "cpus": cpus, "num_edges": m, "num_vertices": n,
                 "loadavg_before": list(os.getloadavg()), "queries": {}}

    _aqe = small_state_aqe_bypass(spark, m)
    out["aqe_bypassed"] = _aqe.__enter__()

    # ---- query definitions (identical call shapes to bench.py) ----
    from halvesting_geometric_spark.operators.betweenness import betweenness_sampled
    from halvesting_geometric_spark.operators.centrality import hits, personalized_pagerank
    from halvesting_geometric_spark.operators.coloring import greedy_coloring
    from halvesting_geometric_spark.operators.components import connected_components
    from halvesting_geometric_spark.operators.kcore import kcore_members
    from halvesting_geometric_spark.operators.labelprop import label_propagation
    from halvesting_geometric_spark.operators.linkpred import neighborhood_scores
    from halvesting_geometric_spark.operators.pagerank import pagerank
    from halvesting_geometric_spark.operators.preference import bradley_terry
    from halvesting_geometric_spark.operators.sparsify import local_jaccard_sparsify
    from halvesting_geometric_spark.operators.traversal import sssp
    from halvesting_geometric_spark.operators.triangles import triangle_count

    pr_batch = int(os.environ.get("SPARK_GRAFT_PR_BATCH", "6"))
    we = g.edges.withColumn(
        "w", ((F.col("src") + F.col("dst")) % 5 + 1).cast("double")
    )
    cmp_df = g.edges.select(
        F.col("dst").alias("winner"), F.col("src").alias("loser")
    )

    queries = {
        "pagerank_converge": lambda: pagerank(
            g.edges, g.vertices, tol=1e-6, max_iter=200,
            delta_check_every=pr_batch).ranks.count(),
        "connected_components": lambda: connected_components(
            g.edges, g.vertices).components.count(),
        "labelprop5": lambda: label_propagation(
            g.edges, g.vertices, fixed_iters=5, sync_every=5).labels.count(),
        "triangles": lambda: triangle_count(g.edges, g.vertices).total,
        "ppr5": lambda: personalized_pagerank(
            g.edges, g.vertices, [0, 1, 2], fixed_iters=5).count(),
        "hits5": lambda: hits(g.edges, g.vertices, fixed_iters=5).count(),
        "kcore3": lambda: kcore_members(g.edges, g.vertices, k=3).count(),
        "sssp6": lambda: sssp(we, g.vertices, [0, 1, 2], weight_col="w",
                              fixed_iters=6, sync_every=6).count(),
        "linkpred": lambda: neighborhood_scores(
            g.edges, min_common=2, max_degree=256).count(),
        "betweenness4": lambda: betweenness_sampled(
            g.edges, g.vertices, sources=[0, 1, 2], max_depth=4
        ).filter(F.col("betweenness") > 0).count(),
        "coloring6": lambda: greedy_coloring(
            g.edges, g.vertices, fixed_rounds=6
        ).agg(F.count_distinct("color")).first()[0],
        "bt5": lambda: bradley_terry(cmp_df, fixed_iters=5).strengths.count(),
        "sparsify": lambda: local_jaccard_sparsify(g.edges, alpha=0.5).count(),
    }
    # plan-dump frames (lazy versions of the same queries, for explain())
    plan_frames = {
        "pagerank_converge": lambda: pagerank(
            g.edges, g.vertices, fixed_iters=1).ranks,
        "connected_components": lambda: connected_components(
            g.edges, g.vertices).components,
        "labelprop5": lambda: label_propagation(
            g.edges, g.vertices, fixed_iters=5, sync_every=5).labels,
        "triangles": lambda: triangle_count(g.edges, g.vertices).per_vertex,
        "ppr5": lambda: personalized_pagerank(
            g.edges, g.vertices, [0, 1, 2], fixed_iters=5),
        "hits5": lambda: hits(g.edges, g.vertices, fixed_iters=5),
        "kcore3": lambda: kcore_members(g.edges, g.vertices, k=3),
        "sssp6": lambda: sssp(we, g.vertices, [0, 1, 2], weight_col="w",
                              fixed_iters=6, sync_every=6),
        "linkpred": lambda: neighborhood_scores(
            g.edges, min_common=2, max_degree=256),
        "betweenness4": lambda: betweenness_sampled(
            g.edges, g.vertices, sources=[0, 1, 2], max_depth=4),
        "coloring6": lambda: greedy_coloring(
            g.edges, g.vertices, fixed_rounds=6),
        "bt5": lambda: bradley_terry(cmp_df, fixed_iters=5).strengths,
        "sparsify": lambda: local_jaccard_sparsify(g.edges, alpha=0.5),
    }

    names = args.queries or list(queries)
    for name in names:
        fn = queries[name]
        sc.setJobDescription(f"{name}: warmup")
        t0 = time.monotonic()
        res = fn()
        warm = time.monotonic() - t0
        walls = []
        for i in range(args.reps):
            sc.setJobDescription(f"{name}: rep{i}")
            t0 = time.monotonic()
            res = fn()
            walls.append(time.monotonic() - t0)
        sc.setJobDescription(None)
        out["queries"][name] = {
            "warmup_sec": round(warm, 3),
            "runs": [round(w, 3) for w in walls],
            "median": round(statistics.median(walls), 3),
            "min": round(min(walls), 3),
            "result": res,
        }
        print(json.dumps({name: out["queries"][name]}), flush=True)
        if args.plans:
            os.makedirs(args.plans, exist_ok=True)
            try:
                df = plan_frames[name]()
                txt = df._sc._jvm.PythonSQLUtils.explainString(  # type: ignore[attr-defined]
                    df._jdf.queryExecution(), "formatted"
                )
            except Exception:
                import contextlib
                import io

                buf = io.StringIO()
                with contextlib.redirect_stdout(buf):
                    plan_frames[name]().explain("formatted")
                txt = buf.getvalue()
            with open(
                os.path.join(args.plans, f"{name}_{args.suffix}.txt"), "w"
            ) as fh:
                fh.write(txt)

    _aqe.__exit__(None, None, None)
    out["loadavg_after"] = list(os.getloadavg())
    print(json.dumps(out))
    with open("BENCH/raw/bench_extra_last.json", "w") as fh:
        json.dump(out, fh, indent=1)
    spark.stop()


if __name__ == "__main__":
    main()
