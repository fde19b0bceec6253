"""Layout invariance: a PageRank superstep computes the same ranks on a
hash-by-src edge layout and a balanced_partition label-clustered layout
(the A/B recorded in BENCH/raw/scale_placement_20m.json) — placement
changes bytes moved, never results."""

from __future__ import annotations

import numpy as np
from pyspark.sql import functions as F

from halvesting_geometric_spark.operators.partition import balanced_partition


def _supersteps(topo, state, n):
    x = state
    for _ in range(n):
        gathered = topo.join(
            F.broadcast(x), topo["src"] == x["v"]
        ).select("dst", (F.col("rank") / F.col("out_deg")).alias("c"))
        x = (
            gathered.groupBy("dst")
            .agg(F.sum("c").alias("rank"))
            .select(F.col("dst").alias("v"), "rank")
            .localCheckpoint(eager=True)
        )
    return {r.v: r.rank for r in x.collect()}


def test_superstep_results_are_placement_invariant(spark):
    rng = np.random.default_rng(7)
    n = 60
    pairs = sorted(
        {
            (int(a), int(b))
            for a, b in rng.integers(0, n, size=(400, 2))
            if a != b
        }
    )
    edges = spark.createDataFrame(pairs, "src long, dst long")
    verts = spark.range(n).select(F.col("id").alias("vertex_id"))
    labels = balanced_partition(edges, verts, k=4, rounds=2)
    lab_dst = labels.select(
        F.col("vertex_id").alias("dst"), F.col("label").alias("pl")
    )
    out_deg = edges.groupBy("src").agg(F.count("*").alias("out_deg"))
    enriched = edges.join(lab_dst, "dst").join(out_deg, "src")
    base = enriched.repartition(8, "src").persist()
    placed = enriched.repartition(8, "pl").persist()
    state = verts.select(
        F.col("vertex_id").alias("v"), F.lit(1.0 / n).alias("rank")
    )
    a = _supersteps(base, state, 3)
    b = _supersteps(placed, state, 3)
    assert set(a) == set(b)
    for v in a:
        assert abs(a[v] - b[v]) < 1e-12
