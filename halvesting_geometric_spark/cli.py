"""spark-submit entrypoint (north_rule: packaged for ``spark-submit
--py-files``).

Usage::

    spark-submit --py-files hgs.zip -m halvesting_geometric_spark.cli ...
    # or locally:
    python -m halvesting_geometric_spark.cli pagerank \
        --transcripts /data/transcripts --output /data/out \
        --checkpoint-dir /data/ckpt [--resume]

Reads transcripts (parquet directory; Iceberg when the session has a catalog
— same reader call with a table identifier), runs extraction + the selected
algorithm, writes results + metrics, resumable from the checkpoint dir.

Both ways take their session from ``session.get_spark``, the one policy that
library callers, the tests and the bench also get: AQE on, Arrow on, shuffle
partitions from the core count, the driver JVM's JIT/GC flags. Under
spark-submit the launch's master, driver memory, JVM options and ``--conf``
keys win over that policy (see ``session.py``).
"""

from __future__ import annotations

import argparse
import json
import sys

from halvesting_geometric_spark.operators.components import connected_components
from halvesting_geometric_spark.operators.graph import build_graph
from halvesting_geometric_spark.operators.labelprop import label_propagation
from halvesting_geometric_spark.operators.pagerank import pagerank
from halvesting_geometric_spark.operators.triangles import triangle_count
from halvesting_geometric_spark.plans.checkpoint import CheckpointManager
from halvesting_geometric_spark.schemas import TRANSCRIPTS_SCHEMA
from halvesting_geometric_spark.session import get_spark

ALGORITHMS = (
    "pagerank", "components", "labelprop", "triangles", "extract",
    "ppr", "hits", "kcore", "coreness", "bfs", "sssp", "linkpred",
    "clustering", "stats", "walks", "nf", "mis", "harmonic",
    "betweenness", "coloring", "louvain", "scc", "hh",
    "salsa", "influence", "diameter", "reciprocity", "richclub",
    "kahn", "critpath", "roletrans", "toolseq", "toolruns",
    "distinct", "zorder", "auroc", "simrank", "graphlets",
    "anomaly", "cusum", "tmotif", "burst", "gapmem",
    "support", "conductance", "freqseq", "treach", "holes", "pack",
    "assoc", "nibble", "substrdedup", "dsir", "rank",
    "convstats", "diversity", "geometry", "scan", "bpartition",
)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(prog="halvesting_geometric_spark")
    ap.add_argument("algorithm", choices=ALGORITHMS)
    ap.add_argument("--transcripts", required=True,
                    help="parquet dir or Iceberg table of transcripts")
    ap.add_argument("--output", required=True, help="result table path")
    ap.add_argument("--checkpoint-dir", default=None)
    ap.add_argument("--resume", action="store_true")
    ap.add_argument("--tol", type=float, default=1e-6)
    ap.add_argument("--max-iter", type=int, default=100)
    ap.add_argument("--damping", type=float, default=0.85)
    ap.add_argument("--seeds", type=int, nargs="+", default=[0],
                    help="ppr: teleport seed vertex ids")
    ap.add_argument("--iters", type=int, default=10,
                    help="ppr/hits: fixed iteration count")
    ap.add_argument("--simrank-c", type=float, default=0.8,
                    help="SimRank decay constant C")
    ap.add_argument("--k", type=int, default=3,
                    help="kcore: minimum degree; hh: top-k size; "
                         "toolruns: minimum run length")
    ap.add_argument("--hh-col", default="role",
                    help="hh: transcripts column to find heavy hitters in")
    ap.add_argument("--weight-col", default=None,
                    help="sssp: edge weight column (None = unit weights)")
    ap.add_argument("--min-common", type=int, default=1,
                    help="linkpred: min shared neighbors per candidate pair")
    ap.add_argument("--max-degree", type=int, default=None,
                    help="linkpred: skip wedge centers above this degree")
    # named --walk-seed (not --seed) so the historical abbreviation --seed
    # keeps resolving unambiguously to --seeds
    ap.add_argument("--walk-seed", type=int, default=42,
                    help="walks/mis: hash seed")
    ap.add_argument("--lgk", type=int, default=12,
                    help="nf/distinct: HLL sketch precision (2^lgk registers)")
    ap.add_argument("--n", type=int, default=2,
                    help="toolseq: n-gram length")
    ap.add_argument("--zbits", type=int, default=16,
                    help="zorder: bits per interleaved dimension")
    ap.add_argument("--slack", type=float, default=0.0,
                    help="cusum: allowance k in count units")
    ap.add_argument("--threshold", type=float, default=10.0,
                    help="cusum: decision interval h in count units")
    ap.add_argument("--delta", type=int, default=172800,
                    help="tmotif: motif window in seconds")
    ap.add_argument("--n-seeds", type=int, default=3,
                    help="nibble: seed set = dense vertex ids [0, n)")
    ap.add_argument("--sweep-k", type=int, default=32,
                    help="nibble: sweep prefix length (broadcast-bounded)")
    ap.add_argument("--min-support", type=int, default=2,
                    help="freqseq: minimum session support per pattern")
    ap.add_argument("--time-buckets", type=int, default=None,
                    help="treach: ascending time bands (web-scale path for "
                    "adversarial timestamp distributions); None = one "
                    "global fixpoint")
    ap.add_argument("--bin-size", type=int, default=2048,
                    help="pack: training-bin token budget")
    ap.add_argument("--gram-len", type=int, default=20,
                    help="substrdedup: duplicated-run length in tokens")
    ap.add_argument("--min-occurrences", type=int, default=2,
                    help="substrdedup: corpus occurrence threshold")
    ap.add_argument("--buckets", type=int, default=4096,
                    help="dsir: hashed-feature bucket count")
    ap.add_argument("--target-role", default="assistant",
                    help="dsir: role whose turns form the target corpus")
    ap.add_argument("--exact-nf", action="store_true",
                    help="nf: exact frontier fixpoint instead of HyperBall")
    ap.add_argument("--delta-check-every", type=int, default=1,
                    help="pagerank: supersteps batched per Spark job (1-8); "
                    "k>1 amortizes the per-job driver floor, checking "
                    "convergence on each batch's last step")
    args = ap.parse_args(argv)

    spark = get_spark(app_name=f"hgs-{args.algorithm}")

    if "/" in args.transcripts or args.transcripts.startswith("file:"):
        transcripts = spark.read.schema(TRANSCRIPTS_SCHEMA).parquet(args.transcripts)
    else:
        transcripts = spark.read.table(args.transcripts)

    g = build_graph(transcripts, scalable_ids=True)
    ckpt = (
        CheckpointManager(spark, args.checkpoint_dir, args.algorithm)
        if args.checkpoint_dir
        else None
    )

    summary: dict = {"algorithm": args.algorithm}
    if args.algorithm == "extract":
        g.edges.write.mode("overwrite").parquet(f"{args.output}/edges")
        g.vertices.write.mode("overwrite").parquet(f"{args.output}/vertices")
        summary["edges"] = g.num_edges()
        summary["vertices"] = g.num_vertices()
    elif args.algorithm == "pagerank":
        res = pagerank(
            g.edges, g.vertices, damping=args.damping, tol=args.tol,
            max_iter=args.max_iter, checkpoint=ckpt, resume=args.resume,
            delta_check_every=args.delta_check_every,
        )
        res.ranks.write.mode("overwrite").parquet(args.output)
        summary.update(iterations=res.iterations, converged=res.converged)
    elif args.algorithm == "components":
        res = connected_components(
            g.edges, g.vertices, checkpoint=ckpt, resume=args.resume
        )
        res.components.write.mode("overwrite").parquet(args.output)
        summary.update(rounds=res.rounds, components=res.num_components)
    elif args.algorithm == "labelprop":
        res = label_propagation(
            g.edges, g.vertices, max_iter=args.max_iter,
            checkpoint=ckpt, resume=args.resume,
        )
        res.labels.write.mode("overwrite").parquet(args.output)
        summary.update(iterations=res.iterations, labels=res.num_labels)
    elif args.algorithm == "triangles":
        res = triangle_count(g.edges, g.vertices)
        res.per_vertex.write.mode("overwrite").parquet(args.output)
        summary.update(total=res.total)
    elif args.algorithm == "ppr":
        from halvesting_geometric_spark.operators.centrality import (
            personalized_pagerank,
        )

        ranks = personalized_pagerank(
            g.edges, g.vertices, args.seeds,
            damping=args.damping, fixed_iters=args.iters,
        )
        ranks.write.mode("overwrite").parquet(args.output)
        summary.update(iterations=args.iters, seeds=args.seeds)
    elif args.algorithm == "hits":
        from halvesting_geometric_spark.operators.centrality import hits

        scores = hits(g.edges, g.vertices, fixed_iters=args.iters)
        scores.write.mode("overwrite").parquet(args.output)
        summary.update(iterations=args.iters)
    elif args.algorithm == "kcore":
        from halvesting_geometric_spark.operators.kcore import kcore_members

        members = kcore_members(g.edges, g.vertices, k=args.k)
        members.write.mode("overwrite").parquet(args.output)
        summary.update(k=args.k, members=members.count())
    elif args.algorithm == "coreness":
        from halvesting_geometric_spark.operators.kcore import coreness

        core = coreness(g.edges, g.vertices)
        core.write.mode("overwrite").parquet(args.output)
        summary.update(
            vertices=core.count(),
            max_coreness=core.agg({"coreness": "max"}).first()[0],
        )
    elif args.algorithm == "betweenness":
        from halvesting_geometric_spark.operators.betweenness import (
            betweenness_sampled,
        )

        bc = betweenness_sampled(
            g.edges, g.vertices, sources=args.seeds, max_depth=args.max_iter
        )
        bc.write.mode("overwrite").parquet(args.output)
        summary.update(
            sources=args.seeds,
            horizon=args.max_iter,
            nonzero=bc.filter(bc["betweenness"] > 0).count(),
        )
    elif args.algorithm == "coloring":
        from pyspark.sql import functions as F

        from halvesting_geometric_spark.operators.coloring import (
            greedy_coloring,
        )

        col = greedy_coloring(g.edges, g.vertices, max_rounds=args.max_iter)
        col.write.mode("overwrite").parquet(args.output)
        summary.update(
            vertices=col.count(),
            colors=col.agg(F.count_distinct("color")).first()[0],
        )
    elif args.algorithm == "bfs":
        from halvesting_geometric_spark.operators.traversal import bfs_levels

        dists = bfs_levels(
            g.edges, g.vertices, args.seeds, max_depth=args.max_iter
        )
        dists.write.mode("overwrite").parquet(args.output)
        summary.update(seeds=args.seeds, reached=dists.count())
    elif args.algorithm == "sssp":
        from halvesting_geometric_spark.operators.traversal import sssp

        dists = sssp(
            g.edges, g.vertices, args.seeds,
            weight_col=args.weight_col, fixed_iters=args.max_iter,
            checkpoint=ckpt, resume=args.resume,
        )
        dists.write.mode("overwrite").parquet(args.output)
        summary.update(seeds=args.seeds, reached=dists.count())
    elif args.algorithm == "linkpred":
        from halvesting_geometric_spark.operators.linkpred import (
            neighborhood_scores,
        )

        scores = neighborhood_scores(
            g.edges, min_common=args.min_common,
            max_degree=args.max_degree, exclude_existing=True,
        )
        scores.write.mode("overwrite").parquet(args.output)
        summary.update(candidate_pairs=scores.count())
    elif args.algorithm == "clustering":
        from halvesting_geometric_spark.operators.linkpred import (
            clustering_coefficients,
        )

        tri = triangle_count(g.edges, g.vertices)
        cc = clustering_coefficients(g.edges, g.vertices, tri.per_vertex)
        cc.write.mode("overwrite").parquet(args.output)
        summary.update(triangles=tri.total)
    elif args.algorithm == "walks":
        from halvesting_geometric_spark.operators.walks import random_walks

        w = random_walks(
            g.edges, args.seeds, walk_length=args.max_iter, seed=args.walk_seed
        )
        w.write.mode("overwrite").parquet(args.output)
        summary.update(seeds=args.seeds, rows=w.count())
    elif args.algorithm == "nf":
        from halvesting_geometric_spark.operators.neighborhood import (
            neighborhood_function_exact,
            neighborhood_function_hll,
        )

        if args.exact_nf:
            nf = neighborhood_function_exact(
                g.edges, g.vertices, max_t=args.max_iter
            )
        else:
            nf = neighborhood_function_hll(
                g.edges, g.vertices, max_t=args.max_iter, lgk=args.lgk
            )
        nf.write.mode("overwrite").parquet(args.output)
        summary.update(points=nf.count(), exact=args.exact_nf)
    elif args.algorithm == "mis":
        from halvesting_geometric_spark.operators.mis import (
            maximal_independent_set,
        )

        m = maximal_independent_set(g.edges, g.vertices, seed=args.walk_seed)
        m.write.mode("overwrite").parquet(args.output)
        summary.update(members=m.count())
    elif args.algorithm == "harmonic":
        from halvesting_geometric_spark.operators.neighborhood import (
            harmonic_centrality_hll,
        )

        h = harmonic_centrality_hll(
            g.edges, g.vertices, max_t=args.max_iter, lgk=args.lgk
        )
        h.write.mode("overwrite").parquet(args.output)
        summary.update(vertices=h.count())
    elif args.algorithm == "louvain":
        from halvesting_geometric_spark.operators.graph import canonical_edges
        from halvesting_geometric_spark.operators.linkpred import modularity
        from halvesting_geometric_spark.operators.louvain import louvain

        und = canonical_edges(g.edges)
        res = louvain(und, max_levels=4, max_rounds=args.max_iter)
        res.labels.write.mode("overwrite").parquet(args.output)
        from pyspark.sql import functions as F

        q = modularity(
            und, res.labels.select("vertex_id", F.col("comm").alias("label"))
        ).first()
        summary.update(
            communities=res.num_communities,
            levels=res.levels,
            rounds=res.rounds_per_level,
            modularity=q["modularity"],
        )
    elif args.algorithm == "scc":
        from halvesting_geometric_spark.operators.scc import (
            strongly_connected_components,
        )

        res = strongly_connected_components(g.edges, g.vertices)
        res.components.write.mode("overwrite").parquet(args.output)
        summary.update(rounds=res.rounds, components=res.num_components)
    elif args.algorithm == "hh":
        from halvesting_geometric_spark.operators.sketch import heavy_hitters

        hh = heavy_hitters(transcripts, args.hh_col, k=args.k)
        hh.write.mode("overwrite").parquet(args.output)
        summary.update(column=args.hh_col, k=args.k, rows=hh.count())
    elif args.algorithm == "stats":
        from halvesting_geometric_spark.operators.linkpred import graph_stats

        st = graph_stats(g.edges, g.vertices)
        st.write.mode("overwrite").parquet(args.output)
        # Row.asDict keeps ints as ints (pandas would coerce the mixed row
        # to float64)
        summary.update(st.first().asDict())
    elif args.algorithm == "salsa":
        from halvesting_geometric_spark.operators.centrality import salsa

        scores = salsa(g.edges, g.vertices, fixed_iters=args.iters)
        scores.write.mode("overwrite").parquet(args.output)
        summary.update(iterations=args.iters)
    elif args.algorithm == "influence":
        from halvesting_geometric_spark.operators.influence import (
            linear_threshold,
        )

        act = linear_threshold(
            g.edges, g.vertices, args.seeds, max_rounds=args.max_iter
        )
        act.write.mode("overwrite").parquet(args.output)
        summary.update(seeds=args.seeds, activated=act.count())
    elif args.algorithm == "diameter":
        from halvesting_geometric_spark.operators.traversal import (
            double_sweep_diameter,
        )

        dia = double_sweep_diameter(
            g.edges, g.vertices, max_depth=args.max_iter
        )
        dia.write.mode("overwrite").parquet(args.output)
        summary.update(dia.first().asDict())
    elif args.algorithm == "reciprocity":
        from halvesting_geometric_spark.operators.metrics import reciprocity

        rec = reciprocity(g.edges)
        rec.write.mode("overwrite").parquet(args.output)
        summary.update(rec.first().asDict())
    elif args.algorithm == "simrank":
        from halvesting_geometric_spark.operators.simrank import simrank

        sim = simrank(g.edges, k=args.k, c=args.simrank_c)
        sim.write.mode("overwrite").parquet(args.output)
        summary.update(k=args.k, c=args.simrank_c, pairs=sim.count())
    elif args.algorithm == "graphlets":
        from halvesting_geometric_spark.operators.graphlets import (
            graphlet_census,
        )

        census = graphlet_census(g.edges)
        census.write.mode("overwrite").parquet(args.output)
        summary.update(census.first().asDict())
    elif args.algorithm == "richclub":
        from halvesting_geometric_spark.operators.metrics import rich_club

        rc = rich_club(g.edges, k=args.k)
        rc.write.mode("overwrite").parquet(args.output)
        summary.update(rc.first().asDict())
    elif args.algorithm == "kahn":
        from pyspark.sql import functions as F

        from halvesting_geometric_spark.operators.dag import kahn_levels

        lv = kahn_levels(
            g.edges.filter(F.col("src") < F.col("dst")), g.vertices
        )
        lv.write.mode("overwrite").parquet(args.output)
        summary["depth"] = lv.agg(F.max("level")).first()[0]
    elif args.algorithm == "critpath":
        from pyspark.sql import functions as F

        from halvesting_geometric_spark.operators.dag import dag_longest_paths

        cp = dag_longest_paths(
            g.edges.filter(F.col("src") < F.col("dst")),
            g.vertices,
            weight_col=args.weight_col,
            fixed_iters=args.iters,
        )
        cp.write.mode("overwrite").parquet(args.output)
        summary["max_dist"] = cp.agg(F.max("dist")).first()[0]
    elif args.algorithm == "roletrans":
        from halvesting_geometric_spark.operators.dialogue import (
            role_transitions,
        )

        rt = role_transitions(transcripts)
        rt.write.mode("overwrite").parquet(args.output)
        summary["transitions"] = rt.count()
    elif args.algorithm == "toolseq":
        from halvesting_geometric_spark.operators.dialogue import (
            tool_sequences,
        )

        ts = tool_sequences(transcripts, n=args.n)
        ts.write.mode("overwrite").parquet(args.output)
        summary["grams"] = ts.count()
    elif args.algorithm == "toolruns":
        from halvesting_geometric_spark.operators.dialogue import tool_runs

        runs = tool_runs(transcripts, min_len=args.k)
        runs.write.mode("overwrite").parquet(args.output)
        summary["runs"] = runs.count()
    elif args.algorithm == "distinct":
        from halvesting_geometric_spark.operators.sketch import (
            approx_distinct,
        )

        ad = approx_distinct(transcripts, "conv_id", lgk=args.lgk)
        ad.write.mode("overwrite").parquet(args.output)
        summary["approx_distinct"] = ad.first()["approx_distinct"]
    elif args.algorithm == "zorder":
        from halvesting_geometric_spark.operators.layout import (
            cluster_by_zorder,
        )
        from pyspark.sql import functions as F

        lim = 1 << args.zbits
        pre = transcripts.select(
            "*",
            (F.xxhash64("conv_id") % lim + lim) % lim,
            (F.col("turn_idx") % lim + lim) % lim,
        )
        cols = tuple(pre.columns[-2:])
        cz = cluster_by_zorder(pre, cols, bits=args.zbits).drop(*cols)
        cz.write.mode("overwrite").parquet(args.output)
        summary["rows"] = transcripts.count()
    elif args.algorithm == "auroc":
        from halvesting_geometric_spark.operators.metrics import auroc
        from pyspark.sql import functions as F

        scored = transcripts.select(
            (F.xxhash64("text") % 997).alias("score"),
            (F.length("text") % 2).cast("int").alias("label"),
        )
        a = auroc(scored, scalable=True)
        a.write.mode("overwrite").parquet(args.output)
        summary.update(a.first().asDict())
    elif args.algorithm == "anomaly":
        from pyspark.sql import functions as F

        from halvesting_geometric_spark.operators.anomaly import (
            robust_anomalies,
        )

        scored = robust_anomalies(
            transcripts.select(
                "conv_id", "turn_idx", "role",
                F.length("text").cast("double").alias("n_chars"),
            ),
            "role",
            "n_chars",
        )
        scored.write.mode("overwrite").parquet(args.output)
        summary["flagged"] = scored.filter("is_anomaly").count()
    elif args.algorithm == "cusum":
        from halvesting_geometric_spark.operators.anomaly import (
            cusum_changepoints,
        )

        cp = cusum_changepoints(
            transcripts, group_col="role", ts_col="ts",
            slack=args.slack, threshold=args.threshold,
        )
        cp.write.mode("overwrite").parquet(args.output)
        summary["alarms"] = cp.filter("alarm").count()
    elif args.algorithm == "burst":
        from halvesting_geometric_spark.operators.events import burstiness

        b = burstiness(transcripts, group_col="role", order_tiebreak="turn_idx")
        b.write.mode("overwrite").parquet(args.output)
        summary["groups"] = b.count()
    elif args.algorithm == "gapmem":
        from halvesting_geometric_spark.operators.events import gap_memory

        m = gap_memory(transcripts, group_col="role", order_tiebreak="turn_idx")
        m.write.mode("overwrite").parquet(args.output)
        summary["groups"] = m.count()
    elif args.algorithm == "support":
        from halvesting_geometric_spark.operators.ktruss import edge_support

        sup = edge_support(g.edges)
        sup.write.mode("overwrite").parquet(args.output)
        summary["edges"] = sup.count()
    elif args.algorithm == "conductance":
        from halvesting_geometric_spark.operators.metrics import (
            community_conductance,
        )

        lp = label_propagation(g.edges, g.vertices, fixed_iters=args.iters)
        cond = community_conductance(
            g.edges, lp.labels.select("vertex_id", "label")
        )
        cond.write.mode("overwrite").parquet(args.output)
        summary["communities"] = cond.count()
    elif args.algorithm == "tmotif":
        from halvesting_geometric_spark.operators.temporal import (
            edge_events,
            temporal_triangles,
        )

        tt = temporal_triangles(edge_events(transcripts), delta_s=args.delta)
        tt.write.mode("overwrite").parquet(args.output)
        summary.update(tt.first().asDict())
    elif args.algorithm == "freqseq":
        from halvesting_geometric_spark.operators.behavior import (
            frequent_sequences,
        )

        fs = frequent_sequences(
            transcripts, session_col="conv_id", order_col="turn_idx",
            item_col="role", min_support=args.min_support, max_len=3,
        )
        fs.write.mode("overwrite").parquet(args.output)
        summary["patterns"] = fs.count()
    elif args.algorithm == "treach":
        from pyspark.sql import functions as F

        from halvesting_geometric_spark.operators.temporal import (
            edge_events,
            temporal_reachability,
        )

        ee = edge_events(transcripts)
        vmap = g.vertices.select("vertex_id", "conv_id")
        te = (
            ee.join(
                vmap.select(
                    F.col("vertex_id").alias("src"),
                    F.col("conv_id").alias("src_conv"),
                ),
                "src_conv",
            )
            .join(
                vmap.select(
                    F.col("vertex_id").alias("dst"),
                    F.col("conv_id").alias("dst_conv"),
                ),
                "dst_conv",
            )
            .select(
                "src", "dst",
                F.unix_micros(F.col("ts").cast("timestamp")).alias("t"),
            )
        )
        r = temporal_reachability(
            te, g.vertices.select("vertex_id"), args.seeds, start=0,
            time_buckets=args.time_buckets,
        )
        r.write.mode("overwrite").parquet(args.output)
        summary["reached"] = r.count()
    elif args.algorithm == "holes":
        from halvesting_geometric_spark.operators.structural import (
            structural_holes,
        )

        sh = structural_holes(
            g.edges,
            max_degree=args.max_degree if args.max_degree else 1024,
        )
        sh.write.mode("overwrite").parquet(args.output)
        summary["vertices"] = sh.count()
    elif args.algorithm == "pack":
        from pyspark.sql import functions as F

        from halvesting_geometric_spark.operators.mixing import (
            pack_sequences,
        )

        # one packable unit per turn; the composite id keeps the
        # conversation-then-turn concatenation order deterministic
        units = transcripts.select(
            F.concat_ws(
                "#",
                F.col("conv_id"),
                F.lpad(F.col("turn_idx").cast("string"), 9, "0"),
            ).alias("doc_id"),
            "text",
        )
        packed = pack_sequences(
            units, bin_size=args.bin_size, scalable=True
        )
        packed.write.mode("overwrite").parquet(args.output)
        summary["spans"] = packed.count()
    elif args.algorithm == "assoc":
        from halvesting_geometric_spark.operators.behavior import (
            association_rules,
        )

        rules = association_rules(
            transcripts,
            basket_cols=("conv_id",),
            item_col="role",
            min_support=args.min_support,
        )
        rules.write.mode("overwrite").parquet(args.output)
        summary["rules"] = rules.count()
    elif args.algorithm == "nibble":
        from pyspark.sql import functions as F

        from halvesting_geometric_spark.operators.localcluster import (
            ppr_sweep,
        )

        seeds = g.vertices.filter(
            F.col("vertex_id") < args.n_seeds
        ).select("vertex_id")
        prof = ppr_sweep(
            g.edges, g.vertices, seeds,
            damping=args.damping, fixed_iters=args.iters,
            k=args.sweep_k,
        )
        prof.write.mode("overwrite").parquet(args.output)
        best = (
            prof.filter(F.col("cut") > 0)
            .orderBy(F.col("phi_e6").asc(), F.col("pos").asc())
            .first()
        )
        summary["sweep_rows"] = prof.count()
        if best is not None:
            summary["best_pos"] = best["pos"]
            summary["best_phi_e6"] = best["phi_e6"]
    elif args.algorithm == "substrdedup":
        from pyspark.sql import functions as F

        from halvesting_geometric_spark.operators.dedup import (
            dedup_substrings,
        )

        docs = transcripts.select(
            F.xxhash64("conv_id", "turn_idx").alias("doc_id"), "text"
        )
        cleaned = dedup_substrings(
            docs, l=args.gram_len, min_occurrences=args.min_occurrences
        )
        cleaned.write.mode("overwrite").parquet(args.output)
        agg = cleaned.agg(
            F.count("*").alias("d"),
            F.sum("n_dup_tokens").alias("c"),
            F.sum("n_spans").alias("s"),
        ).first()
        summary["docs"] = agg["d"]
        summary["dup_tokens"] = int(agg["c"] or 0)
        summary["spans"] = int(agg["s"] or 0)
    elif args.algorithm == "dsir":
        from pyspark.sql import functions as F

        from halvesting_geometric_spark.operators.mixing import dsir_scores

        docs = transcripts.select(
            F.xxhash64("conv_id", "turn_idx").alias("doc_id"), "text", "role"
        )
        scored = dsir_scores(
            docs.select("doc_id", "text"),
            docs.filter(F.col("role") == args.target_role).select(
                "doc_id", "text"
            ),
            buckets=args.buckets,
            hash_method="xxhash64",
        )
        scored.write.mode("overwrite").parquet(args.output)
        agg = scored.agg(
            F.count("*").alias("d"), F.max("llr_e4").alias("mx")
        ).first()
        summary["docs"] = agg["d"]
        summary["max_llr_e4"] = int(agg["mx"] or 0)
    elif args.algorithm == "rank":
        from pyspark.sql import functions as F

        from halvesting_geometric_spark.operators.evalmetrics import (
            spearman_correlation,
        )
        from halvesting_geometric_spark.operators.preference import (
            bradley_terry,
            rank_centrality,
        )

        # being cited is a win: the citation edge table read as a
        # pairwise-outcome log (winner = cited, loser = citing)
        cmp_df = g.edges.select(
            F.col("dst").alias("winner"), F.col("src").alias("loser")
        )
        bt = bradley_terry(cmp_df, fixed_iters=args.iters)
        rc = rank_centrality(cmp_df, fixed_iters=args.iters)
        out = (
            bt.strengths.withColumnRenamed("strength", "bt_strength")
            .join(
                rc.withColumnRenamed("score", "rc_score"), "item", "outer"
            )
        )
        out.write.mode("overwrite").parquet(args.output)
        rho = spearman_correlation(
            bt.strengths.select("item", F.col("strength").alias("value")),
            rc.select("item", F.col("score").alias("value")),
        ).first()
        summary["items"] = bt.num_items
        summary["pairs"] = bt.num_pairs
        summary["bt_rc_spearman_e6"] = int(rho["spearman_e6"])

    elif args.algorithm == "convstats":
        from halvesting_geometric_spark.operators.dialogue import (
            conversation_stats,
        )

        cs = conversation_stats(transcripts)
        cs.write.mode("overwrite").parquet(args.output)
        summary["conversations"] = cs.count()
    elif args.algorithm == "diversity":
        from pyspark.sql import functions as F

        from halvesting_geometric_spark.operators.diversity import (
            distinct_ngrams,
            unigram_entropy,
            zipf_slope,
        )

        docs = transcripts.select(F.col("text"))
        dn = distinct_ngrams(docs, ns=(1, 2, 3))
        dn.write.mode("overwrite").parquet(args.output)
        z = zipf_slope(docs, scalable=True).first()
        h = unigram_entropy(docs).first()
        summary["zipf_slope_e6"] = int(z["slope_e6"])
        summary["zipf_r2_e6"] = int(z["r2_e6"])
        summary["entropy_e6"] = int(h["entropy_e6"])
        summary["n_tokens"] = int(h["n_tokens"])
        summary["vocab"] = int(h["vocab"])
    elif args.algorithm == "geometry":
        from pyspark.sql import functions as F

        from halvesting_geometric_spark.operators.curvature import (
            forman_curvature,
        )
        from halvesting_geometric_spark.operators.sparsify import (
            local_jaccard_sparsify,
        )

        fc = forman_curvature(g.edges)
        fc.write.mode("overwrite").parquet(args.output)
        row = fc.agg(
            F.count("*").alias("n"),
            F.min("curvature").alias("cmin"),
            F.sum(F.when(F.col("curvature") < 0, 1).otherwise(0)).alias("neg"),
        ).first()
        kept = local_jaccard_sparsify(g.edges, alpha=0.5).count()
        summary["canonical_edges"] = int(row["n"])
        summary["curvature_min"] = int(row["cmin"]) if row["cmin"] is not None else 0
        summary["negative_edges"] = int(row["neg"]) if row["neg"] is not None else 0
        summary["sparsified_kept"] = int(kept)
    elif args.algorithm == "scan":
        from pyspark.sql import functions as F

        from halvesting_geometric_spark.operators.scan import scan_clusters

        sc_out = scan_clusters(g.edges, g.vertices, eps_e6=600_000, mu=3)
        sc_out.write.mode("overwrite").parquet(args.output)
        for r in sc_out.groupBy("role").agg(F.count("*").alias("n")).collect():
            summary[f"role_{r['role']}"] = int(r["n"])
    elif args.algorithm == "bpartition":
        from pyspark.sql import functions as F

        from halvesting_geometric_spark.operators.partition import (
            balanced_partition,
        )

        labels = balanced_partition(g.edges, g.vertices, k=8, rounds=3)
        labels.write.mode("overwrite").parquet(args.output)
        loads = labels.groupBy("label").agg(F.count("*").alias("n"))
        summary["partitions"] = loads.count()
        summary["max_load"] = int(loads.agg(F.max("n")).first()[0])
        cut = (
            g.edges.join(
                labels.withColumnRenamed("vertex_id", "src").withColumnRenamed(
                    "label", "ls"
                ),
                "src",
            )
            .join(
                labels.withColumnRenamed("vertex_id", "dst").withColumnRenamed(
                    "label", "ld"
                ),
                "dst",
            )
            .filter(F.col("ls") != F.col("ld"))
            .count()
        )
        summary["edge_cut"] = int(cut)
    print(json.dumps(summary))
    return 0


if __name__ == "__main__":
    sys.exit(main())
