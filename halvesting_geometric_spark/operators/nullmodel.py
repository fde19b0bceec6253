"""Degree-preserving null-model graphs (configuration model; engine-new).

Motif counts, curvature distributions, assortativity and clustering are
only meaningful against a *null expectation* — and the standard null for
"same degrees, random wiring" is the directed configuration model: keep
every vertex's out-degree and in-degree, rewire the connections uniformly
at random.  The sequential textbook construction (shuffle the stub list,
pair adjacent stubs) does not distribute; the equivalent distributed
formulation pairs the i-th source stub *in seeded-hash order* with the
i-th destination stub in an independently seeded-hash order:

- each edge occurrence contributes one source stub (its ``src``) and one
  destination stub (its ``dst``);
- each stub stream is totally ordered by (hash(src, dst, occ, seed+tag),
  src, dst, occ) — occurrence numbers make parallel edges distinct, the
  id tie-break makes the order total, and two different tags make the
  two permutations independent;
- the rewired graph joins the streams on rank: one equi join on a dense
  integer key.

Self-loops and parallel edges can appear, as in the standard model
(erased-configuration-model consumers can dedupe afterwards); exact
out/in-degree sequences are preserved by construction.

Engine-new (the reference — see
``/root/reference/halvesting_geometric/utils/data/link_prediction_dataset.py``
— builds the citation graph but has no null-model machinery); the modulo
bucketing trick at
``/root/reference/halvesting_geometric/models/modeling_link_prediction.py:115``
is the closest analog of the hash-derived determinism used here.

Ranking never uses a single-task global window: ranks come from
``plans.prefix.range_prefix`` (pinned range partitions, per-partition
offsets in-plan, record index as the in-partition rank).  With
``hash_method="portable"`` the permutation is bit-reproducible in any
engine (the correctness gate's DuckDB twin replays it with
``ROW_NUMBER() OVER (ORDER BY ...)``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from halvesting_geometric_spark.operators.sampling import hash64
from halvesting_geometric_spark.plans.prefix import range_prefix


def configuration_model(
    edges: DataFrame,
    seed: int = 42,
    hash_method: str = "xxhash64",
    num_partitions: int = 64,
) -> DataFrame:
    """Rewired graph with the same out- and in-degree sequences.

    Returns ``(src, dst)`` with exactly as many rows as ``edges``; vertex
    v appears as ``src`` exactly out_deg(v) times and as ``dst`` exactly
    in_deg(v) times.  May contain self-loops and parallel edges (standard
    for the model — dedupe afterwards for the erased variant).
    """
    occ_w = Window.partitionBy("src", "dst").orderBy(F.lit(1))
    e = edges.select("src", "dst").withColumn(
        "occ", F.row_number().over(occ_w).cast("long")
    )
    s_stubs = range_prefix(
        e.withColumn(
            "_h", hash64(hash_method, "src", "dst", "occ", seed=seed * 2)
        ).select(F.col("src").alias("v"), "_h", "src", "dst", "occ"),
        ["_h", "src", "dst", "occ"],
        rank_col="rank",
        num_partitions=num_partitions,
    ).select(F.col("v").alias("new_src"), "rank")
    d_stubs = range_prefix(
        e.withColumn(
            "_h", hash64(hash_method, "src", "dst", "occ", seed=seed * 2 + 1)
        ).select(F.col("dst").alias("v"), "_h", "src", "dst", "occ"),
        ["_h", "src", "dst", "occ"],
        rank_col="rank",
        num_partitions=num_partitions,
    ).select(F.col("v").alias("new_dst"), "rank")
    return s_stubs.join(d_stubs, "rank").select(
        F.col("new_src").alias("src"), F.col("new_dst").alias("dst")
    )
