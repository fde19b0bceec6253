"""PageRank as a checkpointed gather-scatter superstep loop.

Substrate parity with the reference: each superstep has exactly the shape of
one SAGE message-passing layer — gather = embedding lookup join
(``/root/reference/halvesting_geometric/modules/link_classifier.py:33-34``),
scatter = per-destination aggregate (``.../modules/sage.py:53-54,78-82``) — but
re-expressed as DataFrame joins + hash aggregates that Catalyst/AQE plan, with
per-iteration Iceberg/parquet checkpoints so any iteration is resumable
(north_rule).

Skew: the scatter is a plain ``groupBy(dst).sum``. Its map-side partial
aggregate already bounds a hot destination to one row per map partition,
and AQE's skew-join splitting covers the gather. The salted, Arrow-bincount
and hot-source-broadcast alternatives were removed because they lost on the
100k-edge power-law input (seed 42, 6 steps, CPU seconds of the JVM): 10.9
and 11.4 CPU-s against 7.9 for the default, and 18.9 against 10.1 for the
hot-source split, which filtered the src-partitioned edge cache and so moved
no edge off a hot partition (that input's hubs are destinations anyway:
max in-degree 4,690, max out-degree 24).

Semantics: classic damped PageRank with dangling-mass redistribution —

    rank'(v) = (1-d)/n + d * ( Σ_{u→v} rank(u)/outdeg(u) + dangling_mass/n )

so Σ rank = 1 at every iteration. Convergence: L1 delta < tol (1e-6 per
BASELINE.json north_star).
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark import StorageLevel
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from halvesting_geometric_spark.plans.checkpoint import CheckpointManager
from halvesting_geometric_spark.plans.superstep import (
    resume_point,
    run_supersteps,
)


@dataclass
class PageRankResult:
    ranks: DataFrame  # (vertex_id, rank)
    iterations: int
    converged: bool
    num_vertices: int
    num_edges: int
    metrics: list[dict] = field(default_factory=list)


def pagerank(
    edges: DataFrame,
    vertices: DataFrame | None = None,
    damping: float = 0.85,
    tol: float = 1e-6,
    max_iter: int = 100,
    fixed_iters: int | None = None,
    checkpoint: CheckpointManager | None = None,
    resume: bool = False,
    weight_col: str | None = None,
    initial_ranks: DataFrame | None = None,
    delta_check_every: int = 1,
) -> PageRankResult:
    """Run PageRank to ``tol`` convergence (or exactly ``fixed_iters`` steps).

    ``initial_ranks``: optional (vertex_id, rank) warm start — e.g. the
    converged ranks of a slightly older graph snapshot; the vector is
    L1-normalized over the CURRENT vertex set (missing vertices start at 0,
    disappeared vertices' mass rescales away), so convergence semantics are
    unchanged and re-convergence after a small graph delta takes far fewer
    supersteps than a cold start. Ignored when ``resume`` finds a checkpoint.

    ``weight_col``: optional edge-weight column (non-negative, finite) —
    contributions become rank(u)·w(u,v)/W(u) with W(u) = Σ out-weights; a
    vertex whose out-weights sum to zero is dangling. The per-vertex divide
    (rank/W) still happens once per vertex; only the w(u,v) multiply is
    per-edge.

    ``vertices``: DataFrame with a ``vertex_id`` column; defaults to the
    vertex set induced by ``edges`` (but pass the real vertex table so
    isolated vertices get rank mass). Precondition: ``vertices`` must be a
    superset of all edge endpoints — contributions to a dst missing from
    ``vertices`` are silently dropped and total rank mass leaks below 1
    (``build_vertices`` guarantees the superset).

    ``delta_check_every``: supersteps batched into one Spark job, with the
    checkpoint, resume and convergence rules of ``plans/superstep.py``;
    a checkpoint saves (vertex_id, rank, out_deg) every superstep.
    """
    if not 0.0 < damping < 1.0:
        raise ValueError(f"damping must be in (0, 1), got {damping}")
    if tol <= 0:
        raise ValueError(f"tol must be positive, got {tol}")
    spark = edges.sparkSession
    if vertices is None:
        vertices = (
            edges.select(F.col("src").alias("vertex_id"))
            .unionByName(edges.select(F.col("dst").alias("vertex_id")))
            .distinct()
        )
    weighted = weight_col is not None
    if weighted:
        out_deg = edges.groupBy("src").agg(
            F.sum(F.col(weight_col).cast("double")).alias("out_deg")
        )
    else:
        out_deg = edges.groupBy("src").agg(F.count("*").alias("out_deg"))
    # Loop-invariant vertex table carries the out-degree (or out-weight sum).
    # The rank state then rides (vertex_id, rank, out_deg), so each superstep
    # divides rank/out_deg ONCE PER VERTEX (not once per edge), tests dangling
    # as out_deg == 0, and the cached edge table is pure (src, dst) topology
    # (plus the weight column when weighted) — minimum bytes through the
    # cache and the gather join.
    vertices = (
        vertices.select("vertex_id")
        .join(
            out_deg.select(F.col("src").alias("vertex_id"), "out_deg"),
            "vertex_id",
            "left",
        )
        .select(
            "vertex_id",
            F.coalesce("out_deg", F.lit(0))
            .cast("double" if weighted else "long")
            .alias("out_deg"),
        )
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    vstats = vertices.agg(
        F.count("*").alias("n"),
        F.sum(F.when(F.col("out_deg") == 0, 1).otherwise(0)).alias("n_dangling"),
        F.min("vertex_id").alias("vmin"),
        F.max("vertex_id").alias("vmax"),
    ).first()
    n, n_dangling = int(vstats["n"]), int(vstats["n_dangling"])
    # id compaction: when every vertex id fits int32 (always true for the
    # dense-id pipeline below ~2B vertices), carry ids as int through the
    # cached edge table, the gather join and the scatter shuffle — half the
    # bytes on the superstep's hottest data paths. Ids are keys only; the
    # returned ranks are cast back to long so the API schema is unchanged.
    _vid_type = dict(vertices.dtypes)["vertex_id"]
    compact = (
        _vid_type in ("bigint", "int", "smallint", "tinyint")
        and vstats["vmin"] is not None
        and -(2**31) <= int(vstats["vmin"])
        and int(vstats["vmax"]) < 2**31
    )
    idt = "int" if compact else "long"
    if compact:
        vertices2 = vertices.select(
            F.col("vertex_id").cast("int").alias("vertex_id"), "out_deg"
        ).persist(StorageLevel.MEMORY_AND_DISK)
        vertices.unpersist()
        vertices = vertices2
    # loop-invariant edge table, hash-partitioned on the gather key once: each
    # iteration's shuffle join then moves only the small rank table — the
    # cached edge partitioning is reused
    n_shuffle = int(spark.conf.get("spark.sql.shuffle.partitions", "200"))
    _ecols = (
        [
            F.col("src").cast(idt).alias("src"),
            F.col("dst").cast(idt).alias("dst"),
        ]
        if compact
        else [F.col("src"), F.col("dst")]
    )
    if weighted:
        _ecols.append(F.col(weight_col).cast("double").alias("_w"))
    contrib_edges = (
        edges.select(*_ecols)
        .repartition(n_shuffle, "src")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    m = contrib_edges.count()  # materialize the loop-invariant once

    start, ranks = resume_point(checkpoint, resume)
    # a resumed state's dangling mass is aggregated in-plan by its first step
    dangling = None
    if ranks is None and initial_ranks is not None:
        base0 = vertices.join(
            initial_ranks.select(
                F.col("vertex_id").cast(idt).alias("vertex_id"),
                F.col("rank").cast("double").alias("_r0"),
            ),
            "vertex_id",
            "left",
        ).select(
            "vertex_id", F.coalesce("_r0", F.lit(0.0)).alias("_r0"), "out_deg"
        )
        st0 = base0.agg(
            F.sum("_r0").alias("total"),
            F.sum(
                F.when(F.col("out_deg") == 0, F.col("_r0")).otherwise(F.lit(0.0))
            ).alias("dang"),
        ).first()
        total = float(st0["total"] or 0.0)
        if total > 0.0:
            ranks = base0.select(
                "vertex_id", (F.col("_r0") / total).alias("rank"), "out_deg"
            ).localCheckpoint(eager=False)
            dangling = float(st0["dang"] or 0.0) / total
    if ranks is None:
        # a lazy projection of the cached vertex table — no extra job/cache
        ranks = vertices.select(
            "vertex_id", (F.lit(1.0) / F.lit(float(n))).alias("rank"), "out_deg"
        )
        dangling = n_dangling / float(n)

    # Vertex-state join strategy: step hints both state joins
    # shuffle_hash at EVERY scale. The cached edge table is pre-partitioned
    # on the gather key, so a shuffle join moves only the V-row state, while
    # a broadcast build serializes V rows through the driver once per
    # superstep — measured SLOWER at both bench scales (sf0.1: 9.9 vs 8.2 s
    # to 1e-6; sf1.0: 29.2 vs 16.4 s), and its serial driver-side hashmap
    # build caps multi-executor scaling. The hint matters as much as the
    # absence of an explicit broadcast: without it AQE auto-broadcasts any
    # state table under spark.sql.autoBroadcastJoinThreshold. shuffle_hash
    # keeps the state side a parallel shuffled build against the cached,
    # pre-partitioned edge table (no sort, no edge re-shuffle).

    def step(state_df: DataFrame, carried: dict | None) -> DataFrame:
        """One lazy superstep over ``state_df`` (vertex_id, rank, out_deg).

        Returns the pair table (vertex_id, old_rank, out_deg, rank). The
        dangling mass is ``carried``'s, the driver scalar observed on the
        previous superstep (analytically Σ rank = 1 every iteration; fp
        drift O(1e-16·iters) ≪ tol); without one it is an in-plan 1-row
        broadcast aggregate of ``state_df``, so a batch's intermediate steps
        stay inside one job with exact semantics, and the scatter shuffles
        shared by a step's two consumers dedupe via ReusedExchange.
        """
        # per-VERTEX divide: each edge row then just carries the precomputed
        # contribution through the gather join (no per-edge arithmetic)
        rank_w = state_df.filter(F.col("out_deg") > 0).select(
            F.col("vertex_id").alias("src"),
            (F.col("rank") / F.col("out_deg")).alias("contrib"),
        )
        # weighted: the per-edge multiply happens here in the gather select;
        # the divide stayed per-vertex above
        _c = (
            (F.col("contrib") * F.col("_w")).alias("contrib")
            if weighted
            else F.col("contrib")
        )
        sums = (
            contrib_edges.join(rank_w.hint("shuffle_hash"), "src")
            .select(F.col("dst"), _c)
            .groupBy("dst")
            .agg(F.sum("contrib").alias("msg_sum"))
        )
        joined = state_df.select(
            "vertex_id", F.col("rank").alias("old_rank"), "out_deg"
        ).join(
            sums.select(F.col("dst").alias("vertex_id"), "msg_sum").hint(
                "shuffle_hash"
            ),
            "vertex_id",
            "left",
        )
        if carried is not None:
            base = F.lit(
                (1.0 - damping) / n + damping * carried["dangling"] / n
            )
        else:
            dang_df = state_df.agg(
                F.coalesce(
                    F.sum(
                        F.when(F.col("out_deg") == 0, F.col("rank")).otherwise(
                            F.lit(0.0)
                        )
                    ),
                    F.lit(0.0),
                ).alias("_dang")
            )
            joined = joined.crossJoin(F.broadcast(dang_df))
            base = (
                F.lit((1.0 - damping) / n)
                + F.lit(damping) * F.col("_dang") / F.lit(float(n))
            )
        rank_expr = (
            base + F.lit(damping) * F.coalesce(F.col("msg_sum"), F.lit(0.0))
        ).alias("rank")
        return joined.select("vertex_id", "old_rank", "out_deg", rank_expr)

    def observe(pair: DataFrame) -> dict:
        """One aggregate: the convergence delta (L1/L∞) AND the next
        superstep's dangling mass."""
        _d = F.abs(F.col("rank") - F.col("old_rank"))
        agg = pair.agg(
            F.sum(_d).alias("l1"),
            F.max(_d).alias("linf"),
            F.sum(
                F.when(F.col("out_deg") == 0, F.col("rank")).otherwise(F.lit(0.0))
            ).alias("dangling"),
        ).first()
        return {
            "delta_l1": float(agg["l1"]),
            "delta_linf": float(agg["linf"]),
            "dangling": float(agg["dangling"] or 0.0),
        }

    # Compacted int ids are widened back so the API schema is input-stable.
    out_id = (
        F.col("vertex_id").cast("long").alias("vertex_id")
        if compact and _vid_type == "bigint"
        else F.col("vertex_id")
    )

    def finish(state: DataFrame) -> DataFrame:
        ranks = state.select(out_id, "rank")
        ranks.count()
        return ranks

    try:
        run = run_supersteps(
            ranks, step, observe, finish,
            done=lambda obs, _: fixed_iters is None and obs["delta_l1"] < tol,
            steps=fixed_iters if fixed_iters is not None else max_iter,
            start=start,
            batch=delta_check_every,
            observed=None if dangling is None else {"dangling": dangling},
            checkpoint=checkpoint,
        )
    finally:
        contrib_edges.unpersist()
        vertices.unpersist()
    return PageRankResult(
        ranks=run.result,
        iterations=run.iterations,
        converged=run.converged or fixed_iters is not None,
        num_vertices=n,
        num_edges=m,
        metrics=run.metrics,
    )
