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

import time
from dataclasses import dataclass, field

from pyspark import StorageLevel
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from halvesting_geometric_spark.plans.checkpoint import CheckpointManager

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

    ``sync_every``: supersteps batched into one Spark job (1-8) — the
    pagerank ``delta_check_every`` lever. Intermediate states are lazy
    localCheckpoints (consumers share one RDD inside the batch job); the
    changed-count — and therefore convergence — is observed only on each
    batch's last step, so tol-style convergence can overshoot by up to
    k−1 supersteps. Forced to 1 when a checkpoint manager is attached.
    """
    if not 1 <= sync_every <= 8:
        raise ValueError(f"sync_every must be in [1, 8], got {sync_every}")
    spark = edges.sparkSession
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

    start_iter = 0
    if resume and checkpoint is not None and checkpoint.latest_iteration() is not None:
        start_iter = checkpoint.latest_iteration() + 1
        labels = checkpoint.load_state(start_iter - 1)
    else:
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

    def _step(state_df: DataFrame) -> DataFrame:
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

    target = fixed_iters if fixed_iters is not None else max_iter
    batch = sync_every if checkpoint is None else 1
    converged = False
    all_metrics: list[dict] = []
    prev_paired: DataFrame | None = None
    it = start_iter
    while it < target:
        t0 = time.monotonic()
        k_eff = min(batch, target - it)
        # intermediate steps chain lazily; each is a LAZY localCheckpoint so
        # its two consumers (neighbor gather + pairing) share one RDD
        # materialized inside the batch's single counting job
        state_df = labels
        for _ in range(k_eff - 1):
            state_df = (
                _step(state_df)
                .select("vertex_id", "label")
                .localCheckpoint(eager=False)
            )
        # one action per batch: materialize (old, new) pairs + changed count
        paired = _step(state_df).persist(StorageLevel.MEMORY_AND_DISK)
        changed = paired.filter(F.col("label") != F.col("old_label")).count()
        it += k_eff
        row = {
            "iteration": it - 1,
            "batched_steps": k_eff,
            "changed": changed,
            "wall_sec": time.monotonic() - t0,
        }
        all_metrics.append(row)
        # truncate lineage every iteration (see pagerank.py — the state is
        # referenced twice per superstep, so deferred truncation is exponential)
        state = paired.select("vertex_id", "label")
        if checkpoint is not None:
            labels = checkpoint.save_state(it - 1, state, metrics=row)
            if prev_paired is not None:
                prev_paired.unpersist()
            paired.unpersist()
            prev_paired = None
        else:
            # LAZY truncation = ONE Spark job per superstep (the `changed`
            # count): the checkpoint RDD materializes inside the next
            # iteration's job from this iteration's cached pair table, so the
            # PREVIOUS pair cache is the one released here (see pagerank.py)
            labels = state.localCheckpoint(eager=False)
            if prev_paired is not None:
                prev_paired.unpersist()
            prev_paired = paired
        if fixed_iters is None and changed == 0:
            converged = True
            break
    else:  # while exhausted without a convergence break: it == target
        converged = fixed_iters is not None

    labels = labels.persist(StorageLevel.MEMORY_AND_DISK)
    n_labels = labels.select("label").distinct().count()
    if prev_paired is not None:
        prev_paired.unpersist()
    sym.unpersist()
    vertices.unpersist()
    return LabelPropResult(
        labels=labels,
        iterations=it,
        converged=converged,
        num_labels=n_labels,
        metrics=all_metrics,
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
