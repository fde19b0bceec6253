"""DAG operators over the citation/reply graph (engine-new).

``kahn_levels``: Kahn layering on an acyclic edge set — level(v) = length
of the longest unweighted path from any in-degree-0 source to v, computed
by peeling zero-in-degree frontiers round by round. The peel's state
SHRINKS every round (scc.topological_levels is the max-propagation twin
that keeps full-V state; a test pins them equal on DAGs), and cycles are
diagnosed exactly: when a round yields an empty frontier while vertices
remain, the remainder is the union of the cycles and their descendants.

``dag_longest_paths``: weighted critical-path distances — Bellman-Ford
supersteps with MAX-relaxation: dist'(v) = max(dist(v), max_{u→v}(dist(u) +
w)). After k supersteps every longest path using ≤ k edges is exact, so
``fixed_iters`` bounds the work AND pins externally-verifiable semantics on
any input (on a DAG, fixed_iters ≥ depth is exact; on a cyclic graph the
result is the longest-walk-within-k bound, which the gate's unrolled DuckDB
twin replicates relaxation for relaxation).

Scale notes (100 TB): the edge table shuffles once (repartition by src) and
is reused every round; state is V-sized and shrinks during peeling; each
round is one gather join + one aggregate, lineage truncated via lazy
localCheckpoint — the same audited one-job-per-superstep shape as the
pagerank/sssp drivers (BENCH/BASELINE.md). Kahn's round count is the DAG
depth: shallow for conversation reply trees, ``max_rounds``-guarded for
adversarial chains.

Reference analog: none (the reference ships no DAG utilities); engine-new
per the training-data-pipeline brief — reply trees and citation graphs are
DAGs, and level / critical-path assignment is the standard scheduling and
lineage primitive over them.
"""

from __future__ import annotations

from pyspark import StorageLevel
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from halvesting_geometric_spark.operators.graph import _id_frame

_NEG_INF = float("-inf")


def kahn_levels(
    edges: DataFrame, vertices: DataFrame, max_rounds: int = 10_000
) -> DataFrame:
    """(vertex_id, level) for every vertex, level = Kahn peel round =
    longest unweighted path from any in-degree-0 source. Isolated vertices
    (and pure sources) are level 0. Raises ``ValueError`` if the edge set
    has a cycle (including self-loops) or the peel exceeds ``max_rounds``.
    """
    if max_rounds < 1:
        raise ValueError(f"max_rounds must be >= 1, got {max_rounds}")
    spark = edges.sparkSession
    n_shuffle = int(spark.conf.get("spark.sql.shuffle.partitions", "200"))
    topo = (
        edges.select("src", "dst")
        .repartition(n_shuffle, "src")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    topo.count()
    state = (
        vertices.select("vertex_id")
        .join(
            topo.groupBy("dst").agg(F.count("*").alias("_c")).select(
                F.col("dst").alias("vertex_id"), "_c"
            ),
            "vertex_id",
            "left",
        )
        .select(
            "vertex_id", F.coalesce("_c", F.lit(0)).cast("long").alias("indeg")
        )
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    out: DataFrame | None = None
    level = 0
    while level < max_rounds:
        frontier = (
            state.filter(F.col("indeg") == 0)
            .select("vertex_id")
            .persist(StorageLevel.MEMORY_AND_DISK)
        )
        n = frontier.count()
        if n == 0:
            frontier.unpersist()
            break
        lev = frontier.select(
            "vertex_id", F.lit(level).cast("int").alias("level")
        )
        out = lev if out is None else out.unionByName(lev)
        out = out.localCheckpoint(eager=False)
        dec = (
            topo.join(
                frontier.select(F.col("vertex_id").alias("src")), "src"
            )
            .groupBy("dst")
            .agg(F.count("*").alias("_d"))
            .select(F.col("dst").alias("vertex_id"), "_d")
        )
        nxt = (
            state.join(frontier, "vertex_id", "left_anti")
            .join(dec, "vertex_id", "left")
            .select(
                "vertex_id",
                (F.col("indeg") - F.coalesce("_d", F.lit(0))).alias("indeg"),
            )
            .localCheckpoint(eager=False)
            .persist(StorageLevel.MEMORY_AND_DISK)
        )
        state.unpersist()
        frontier.unpersist()
        state = nxt
        level += 1
    remaining = state.count()
    if remaining > 0:
        state.unpersist()
        topo.unpersist()
        raise ValueError(
            f"edge set is not a DAG (or depth > max_rounds={max_rounds}): "
            f"{remaining} vertices never reached in-degree 0"
        )
    result = (
        out.localCheckpoint(eager=True)
        if out is not None
        else spark.createDataFrame([], "vertex_id long, level int")
    )
    state.unpersist()
    topo.unpersist()
    return result


def dag_longest_paths(
    edges: DataFrame,
    vertices: DataFrame,
    sources: DataFrame | list[int] | None = None,
    weight_col: str | None = None,
    fixed_iters: int = 10,
) -> DataFrame:
    """(vertex_id, dist): longest-path distance from the source set using at
    most ``fixed_iters`` edges — MAX-relaxation supersteps, the mirror image
    of :func:`traversal.sssp`. ``sources=None`` seeds every in-degree-0
    vertex (the DAG convention); ``weight_col=None`` means unit weights, so
    the result equals :func:`kahn_levels` on a DAG of depth ≤
    ``fixed_iters`` (pinned by a test). Early-exits when a relaxation
    improves nothing (a fixpoint: distances are monotone non-decreasing).
    Unreached vertices are absent.
    """
    if fixed_iters < 0:
        raise ValueError(f"fixed_iters must be >= 0, got {fixed_iters}")
    spark = edges.sparkSession
    n_shuffle = int(spark.conf.get("spark.sql.shuffle.partitions", "200"))
    w = (
        F.col(weight_col).cast("double")
        if weight_col is not None
        else F.lit(1.0)
    )
    topo = (
        edges.select("src", "dst", w.alias("w"))
        .repartition(n_shuffle, "src")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    topo.count()
    if sources is None:
        seed = vertices.select("vertex_id").join(
            topo.select(F.col("dst").alias("vertex_id")).distinct(),
            "vertex_id",
            "left_anti",
        )
    else:
        seed = _id_frame(spark, sources)
    dist = (
        seed.select("vertex_id")
        .distinct()
        .join(vertices.select("vertex_id"), "vertex_id", "left_semi")
        .select("vertex_id", F.lit(0.0).alias("dist"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    if dist.count() == 0:
        raise ValueError("source set is empty (or disjoint from vertices)")
    prev = [dist]
    for _ in range(fixed_iters):
        relaxed = (
            topo.join(
                dist.select(F.col("vertex_id").alias("src"), "dist"), "src"
            )
            .groupBy("dst")
            .agg(F.max(F.col("dist") + F.col("w")).alias("cand"))
        )
        paired = (
            dist.join(
                relaxed.select(F.col("dst").alias("vertex_id"), "cand"),
                "vertex_id",
                "full_outer",
            )
            .select(
                "vertex_id",
                F.greatest(
                    F.coalesce("dist", F.lit(_NEG_INF)),
                    F.coalesce("cand", F.lit(_NEG_INF)),
                ).alias("dist"),
                (
                    F.col("dist").isNull()
                    | (F.coalesce("cand", F.lit(_NEG_INF)) > F.col("dist"))
                ).alias("_improved"),
            )
            .persist(StorageLevel.MEMORY_AND_DISK)
        )
        n_improved = paired.filter(F.col("_improved")).count()
        nxt = paired.select("vertex_id", "dist").localCheckpoint(eager=False)
        for p in prev:
            p.unpersist()
        prev = [paired]
        dist = nxt
        if n_improved == 0:
            break
    out = dist.select("vertex_id", "dist").localCheckpoint(eager=True)
    for p in prev:
        p.unpersist()
    topo.unpersist()
    return out
