"""Synchronous label propagation with deterministic min-label tie-breaking.

Substrate parity with the reference: one LP superstep has the shape of a GAT/
SAGE neighborhood aggregate (``/root/reference/halvesting_geometric/modules/
sage.py:78-82`` — gather neighbor states, reduce per destination), re-expressed
as join + two-level hash aggregate. Determinism (north_star: assignments exact
/ allclose) requires synchronous updates + a total tie order: most frequent
neighbor label wins, ties broken by the smaller label.

The per-vertex argmax avoids a window sort: ``max(struct(cnt, -label))`` picks
max count then min label in a single hash aggregate — one shuffle instead of
an aggregate plus a ranking window.
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

# vertex count up to which the label table broadcasts into the gather join
_BROADCAST_STATE_THRESHOLD = 1_000_000


@dataclass
class LabelPropResult:
    labels: DataFrame  # (vertex_id, label)
    iterations: int
    converged: bool
    num_labels: int
    metrics: list[dict] = field(default_factory=list)


def label_propagation(
    edges: DataFrame,
    vertices: DataFrame | None = None,
    max_iter: int = 20,
    fixed_iters: int | None = None,
    checkpoint: CheckpointManager | None = None,
    resume: bool = False,
    sync_every: int = 1,
) -> LabelPropResult:
    """Community labels over the undirected simple graph induced by ``edges``.

    Initial label = vertex_id. Isolated vertices keep their own label.
    Stops when no label changes (or after exactly ``fixed_iters`` steps).

    ``sync_every``: supersteps batched into one Spark job, with the
    checkpoint, resume and convergence rules of ``plans/superstep.py``.
    """
    if vertices is None:
        vertices = (
            edges.select(F.col("src").alias("vertex_id"))
            .unionByName(edges.select(F.col("dst").alias("vertex_id")))
            .distinct()
        )
    vertices = vertices.select("vertex_id").persist(StorageLevel.MEMORY_AND_DISK)
    simple = edges.filter(F.col("src") != F.col("dst")).select("src", "dst")
    sym = (
        simple.unionByName(
            simple.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        .dropDuplicates(["src", "dst"])
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    sym.count()

    start, labels = resume_point(checkpoint, resume)
    if labels is None:
        labels = vertices.select(
            "vertex_id", F.col("vertex_id").alias("label")
        ).persist(StorageLevel.MEMORY_AND_DISK)

    n = vertices.count()
    # small-state broadcast (pagerank, by contrast, shuffle-hash joins at
    # every scale): the cached sym edge table is never reshuffled per
    # superstep when the label table broadcasts
    bcast = n <= _BROADCAST_STATE_THRESHOLD

    def _b(df: DataFrame) -> DataFrame:
        return F.broadcast(df) if bcast else df

    def _step(state_df: DataFrame, _carried: dict | None) -> DataFrame:
        """One lazy superstep: (vertex_id, old_label, label)."""
        nbr_labels = sym.join(
            _b(state_df.select(
                F.col("vertex_id").alias("dst"), F.col("label").alias("nbr_label")
            )),
            "dst",
        ).select(F.col("src").alias("vertex_id"), "nbr_label")
        picked = (
            nbr_labels.groupBy("vertex_id", "nbr_label")
            .agg(F.count("*").alias("cnt"))
            .groupBy("vertex_id")
            .agg(F.max(F.struct(F.col("cnt"), (-F.col("nbr_label")).alias("neg"))).alias("best"))
            .select("vertex_id", (-F.col("best.neg")).alias("new_label"))
        )
        return (
            state_df.select("vertex_id", F.col("label").alias("old_label"))
            .join(_b(picked), "vertex_id", "left")
            .select(
                "vertex_id",
                "old_label",
                F.coalesce("new_label", F.col("old_label")).alias("label"),
            )
        )

    def observe(pair: DataFrame) -> dict:
        return {"changed": pair.filter(F.col("label") != F.col("old_label")).count()}

    def finish(state: DataFrame) -> tuple[DataFrame, int]:
        labels = state.persist(StorageLevel.MEMORY_AND_DISK)
        return labels, labels.select("label").distinct().count()

    try:
        run = run_supersteps(
            labels, _step, observe, finish,
            done=lambda obs, _: fixed_iters is None and obs["changed"] == 0,
            steps=fixed_iters if fixed_iters is not None else max_iter,
            start=start,
            batch=sync_every,
            checkpoint=checkpoint,
        )
    finally:
        sym.unpersist()
        vertices.unpersist()
    labels, n_labels = run.result
    return LabelPropResult(
        labels=labels,
        iterations=run.iterations,
        converged=run.converged or fixed_iters is not None,
        num_labels=n_labels,
        metrics=run.metrics,
    )


def seeded_label_propagation(
    edges: DataFrame,
    seeds: DataFrame,
    vertices: DataFrame | None = None,
    rounds: int = 5,
) -> DataFrame:
    """Semi-supervised node classification by clamped label propagation
    (the hard-label variant of Zhu–Ghahramani label spreading).

    ``seeds`` is a (vertex_id, label) table of labeled vertices; their
    labels are CLAMPED (never change).  Unlabeled vertices start with no
    label and, each synchronous round, take the majority label among
    their labeled neighbors (ties → smaller label, the same total order
    as :func:`label_propagation`); vertices whose neighborhood is still
    entirely unlabeled stay unlabeled.  Runs exactly ``rounds`` rounds —
    labels spread one hop per round, so ``rounds`` bounds the
    classification radius and the output is externally replayable
    (the gate's DuckDB twin unrolls every round).

    Returns ``(vertex_id, label, is_seed)`` over ``vertices`` (defaults
    to the edge endpoints ∪ seeds); ``label`` is NULL where no seed is
    reachable within ``rounds`` hops.  Scale shape: per round one
    gather join on the cached symmetric edge table + the same
    max(struct(cnt, −label)) single-shuffle argmax as community LPA —
    no windows, state is one (vertex, label) row per vertex.
    """
    if rounds < 1:
        raise ValueError(f"rounds must be >= 1, got {rounds}")
    # conflicting seed rows resolve to the MIN label (deterministic winner,
    # not dropDuplicates' arbitrary first-seen row)
    seeds = (
        seeds.select("vertex_id", F.col("label").cast("long").alias("label"))
        .groupBy("vertex_id")
        .agg(F.min("label").alias("label"))
    )
    if vertices is None:
        vertices = (
            edges.select(F.col("src").alias("vertex_id"))
            .unionByName(edges.select(F.col("dst").alias("vertex_id")))
            .unionByName(seeds.select("vertex_id"))
            .distinct()
        )
    simple = edges.filter(F.col("src") != F.col("dst")).select("src", "dst")
    sym = (
        simple.unionByName(
            simple.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        .dropDuplicates(["src", "dst"])
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    sym.count()

    state = (
        vertices.select("vertex_id")
        .join(seeds.withColumnRenamed("label", "seed_label"), "vertex_id", "left")
        .select(
            "vertex_id",
            F.col("seed_label").alias("label"),
            F.col("seed_label").isNotNull().alias("is_seed"),
        )
        .localCheckpoint(eager=True)
    )
    for _ in range(rounds):
        votes = (
            sym.join(
                state.filter(F.col("label").isNotNull()).select(
                    F.col("vertex_id").alias("dst"),
                    F.col("label").alias("nbr_label"),
                ),
                "dst",
            )
            .groupBy(F.col("src").alias("vertex_id"), "nbr_label")
            .agg(F.count("*").alias("cnt"))
            .groupBy("vertex_id")
            .agg(
                F.max(
                    F.struct(F.col("cnt"), (-F.col("nbr_label")).alias("neg"))
                ).alias("best")
            )
            .select("vertex_id", (-F.col("best.neg")).alias("new_label"))
        )
        state = (
            state.join(votes, "vertex_id", "left")
            .select(
                "vertex_id",
                F.when(F.col("is_seed"), F.col("label"))
                .otherwise(F.coalesce("new_label", "label"))
                .alias("label"),
                "is_seed",
            )
            .localCheckpoint(eager=True)
        )
    sym.unpersist()
    return state
