"""Deterministic linear-threshold influence propagation (Kempe, Kleinberg &
Tardos KDD'03's LT model with uniform edge weights 1/indeg and a fixed
threshold — the deterministic special case, so results are exactly
replicable by the correctness gate's unrolled DuckDB twin).

Round semantics (monotone — an active vertex never deactivates):

    active_0 = seeds
    v activates in round k (k ≥ 1) iff v inactive after round k−1 and
        |{u → v : u ∈ active_{k-1}}| / indeg(v)  ≥  θ
    (compared as integer cross-multiplication cnt·θ_den ≥ θ_num·indeg(v))

Each round is one superstep with the BFS execution shape (see
``traversal.bfs_levels``): edge join against the frontier-bearing active
set, a count aggregate per destination, an integer threshold filter, and an
anti-join against the active set — no per-row Python, no driver-side state
beyond the per-round activation count, per-round lineage truncated via
eager localCheckpoint of the bounded active table.
"""

from __future__ import annotations

from pyspark import StorageLevel
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from halvesting_geometric_spark.operators.graph import _id_frame


def linear_threshold(
    edges: DataFrame,
    vertices: DataFrame,
    seeds: DataFrame | list[int],
    theta_num: int = 1,
    theta_den: int = 2,
    max_rounds: int = 10,
) -> DataFrame:
    """(vertex_id, round) for every vertex active after ``max_rounds`` LT
    rounds — seeds have round 0; stops early at a fixpoint (monotone
    process, so a round that activates nobody is terminal).
    """
    if not (0 < theta_num <= theta_den):
        raise ValueError(f"theta must be in (0, 1]: {theta_num}/{theta_den}")
    if max_rounds < 0:
        raise ValueError(f"max_rounds must be >= 0, got {max_rounds}")
    spark = edges.sparkSession
    seeds = _id_frame(spark, seeds)
    n_shuffle = int(spark.conf.get("spark.sql.shuffle.partitions", "200"))
    topo = (
        edges.select("src", "dst")
        .repartition(n_shuffle, "src")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    topo.count()
    indeg = topo.groupBy("dst").agg(F.count("*").alias("indeg"))

    active = (
        seeds.select("vertex_id")
        .distinct()
        .join(vertices.select("vertex_id"), "vertex_id", "left_semi")
        .select("vertex_id", F.lit(0).alias("round"))
        .localCheckpoint(eager=True)
    )
    for rnd in range(1, max_rounds + 1):
        gathered = (
            topo.join(
                active.select(F.col("vertex_id").alias("src")),
                "src",
                "left_semi",
            )
            .groupBy("dst")
            .agg(F.count("*").alias("cnt"))
        )
        newly = (
            gathered.join(indeg, "dst")
            .filter(
                F.col("cnt") * theta_den >= F.lit(theta_num) * F.col("indeg")
            )
            .select(F.col("dst").alias("vertex_id"))
            .join(active.select("vertex_id"), "vertex_id", "left_anti")
            .select("vertex_id", F.lit(rnd).alias("round"))
        )
        # eager checkpoint: bounds lineage to one round AND gives an exact
        # new-activation count for the fixpoint exit in the same action
        nxt = active.unionByName(newly).localCheckpoint(eager=True)
        n_prev, n_now = active.count(), nxt.count()
        active = nxt
        if n_now == n_prev:
            break
    out = active.select(
        "vertex_id", F.col("round").cast("long").alias("round")
    )
    topo.unpersist()
    return out
