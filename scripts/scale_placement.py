"""Placement-aware vs hash layout: the shuffle-volume win of
balanced_partition labels on a PageRank superstep (20M edges).

Closes the loop between operators/partition.py and the north metric:
the balanced k-way labels are used to CLUSTER the edge table by the
destination's partition label (the layout a real cluster would persist
via sources/bucketed.write_bucketed with ``pl`` as the bucket key), and
the superstep is run with an explicitly broadcast rank state so the
gather join preserves the edge layout (pagerank.py itself shuffle-hash
joins the state at every scale).  The scatter
``groupBy(dst).sum`` then map-side-combines WITHIN layout partitions:

- hash-by-src layout: each partition sees ~uniformly random dsts, so
  partial aggregation collapses almost nothing — shuffle rows ~ O(E);
- label(dst)-clustered layout: every dst lives in exactly one partition,
  so partial aggregation collapses to one row per vertex — shuffle rows
  ~ O(V), an E/V-fold reduction (~20x on this graph).

Numerical results are layout-INVARIANT (tests/test_placement.py asserts
it); only bytes moved change.  Shuffle write volume is read from the
Spark status REST API as a per-phase delta.

Usage: python scripts/scale_placement.py
Writes BENCH/raw/scale_placement_20m.json.
"""

from __future__ import annotations

import json
import os
import sys
import time
import urllib.request

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

sys.path.insert(0, "/root/repo")

from halvesting_geometric_spark.datagen import generate_power_law_edges
from halvesting_geometric_spark.operators.partition import balanced_partition

spark = (
    SparkSession.builder.master("local[32]")
    .appName("scale_placement")
    .config("spark.sql.shuffle.partitions", "64")
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.driver.memory", "48g")
    .getOrCreate()
)
spark.sparkContext.setLogLevel("ERROR")

N_EDGES = 20_000_000
N_VERTS = 2_000_000
K = 64
SUPERSTEPS = 5

res: dict = {
    "n_edges": N_EDGES,
    "n_vertices": N_VERTS,
    "k": K,
    "supersteps": SUPERSTEPS,
    "loadavg_before": list(os.getloadavg()),
}


def shuffle_write_bytes() -> int:
    """Total shuffle write bytes across all completed stages so far."""
    base = spark.sparkContext.uiWebUrl
    app = spark.sparkContext.applicationId
    with urllib.request.urlopen(
        f"{base}/api/v1/applications/{app}/stages?status=complete"
    ) as r:
        stages = json.load(r)
    return sum(s.get("shuffleWriteBytes", 0) for s in stages)


edges = generate_power_law_edges(spark, N_VERTS, N_EDGES, seed=11).persist()
edges.count()
verts = (
    edges.select(F.col("src").alias("vertex_id"))
    .unionByName(edges.select(F.col("dst").alias("vertex_id")))
    .distinct()
    .persist()
)
nv = verts.count()

t0 = time.monotonic()
labels = balanced_partition(edges, verts, k=K, rounds=3).persist()
labels.count()
res["balanced_partition_s"] = round(time.monotonic() - t0, 2)

# partition quality: balance + edge cut (same-label edge fraction)
sizes = labels.groupBy("label").count()
mx, mn = sizes.agg(F.max("count"), F.min("count")).first()
res["label_balance"] = {
    "max": int(mx),
    "min": int(mn),
    "imbalance": round(K * mx / nv, 3),
}
lab_src = labels.select(F.col("vertex_id").alias("src"), F.col("label").alias("ls"))
lab_dst = labels.select(F.col("vertex_id").alias("dst"), F.col("label").alias("pl"))
cut = (
    edges.join(lab_src, "src")
    .join(lab_dst, "dst")
    .agg(
        F.count("*").alias("n"),
        F.sum(F.when(F.col("ls") == F.col("pl"), 1).otherwise(0)).alias("same"),
    )
    .first()
)
res["edge_cut"] = {
    "edges": int(cut["n"]),
    "same_label": int(cut["same"]),
    "internal_frac": round(cut["same"] / cut["n"], 4),
}

# out-degree folded into both layouts identically
out_deg = edges.groupBy("src").agg(F.count("*").alias("out_deg"))
base_edges = (
    edges.join(lab_dst, "dst")
    .join(out_deg, "src")
    .repartition(64, "src")
    .persist()
)
base_edges.count()
placed_edges = (
    edges.join(lab_dst, "dst")
    .join(out_deg, "src")
    .repartition(64, "pl")
    .persist()
)
placed_edges.count()

state = verts.select(
    F.col("vertex_id").alias("v"), F.lit(1.0 / nv).alias("rank")
).persist()
state.count()


def run_supersteps(topo, tag: str) -> None:
    t0 = time.monotonic()
    b0 = shuffle_write_bytes()
    x = state
    for _ in range(SUPERSTEPS):
        gathered = topo.join(
            F.broadcast(x), topo["src"] == x["v"]
        ).select("dst", (F.col("rank") / F.col("out_deg")).alias("c"))
        nxt = (
            gathered.groupBy("dst")
            .agg(F.sum("c").alias("rank"))
            .select(F.col("dst").alias("v"), "rank")
            .localCheckpoint(eager=True)
        )
        x = nxt
    wall = round(time.monotonic() - t0, 2)
    moved = shuffle_write_bytes() - b0
    res[tag] = {
        "wall_s": wall,
        "edges_per_sec": int(N_EDGES * SUPERSTEPS / wall),
        "shuffle_write_bytes": int(moved),
        "shuffle_mb_per_superstep": round(moved / SUPERSTEPS / 1e6, 1),
    }


run_supersteps(base_edges, "hash_by_src")
run_supersteps(placed_edges, "placed_by_label_dst")
res["shuffle_reduction_x"] = round(
    res["hash_by_src"]["shuffle_write_bytes"]
    / max(res["placed_by_label_dst"]["shuffle_write_bytes"], 1),
    2,
)
res["speedup_x"] = round(
    res["hash_by_src"]["wall_s"] / res["placed_by_label_dst"]["wall_s"], 2
)
res["loadavg_after"] = list(os.getloadavg())

out = "BENCH/raw/scale_placement_20m.json"
with open(out, "w") as fh:
    json.dump(res, fh, indent=1)
print("RESULT", json.dumps(res))
spark.stop()
