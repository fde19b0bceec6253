"""Connected components via alternating large-star / small-star rounds.

Algorithm: Kiveris, Lattanzi, Mirrokni, Rastogi, Vassilvitskii,
"Connected Components in MapReduce and Beyond" (SoCC'14) — the two-phase
star-contraction method the north_star names. Each round is two
groupBy+join DataFrame jobs; the edge set converges to a union of stars
centered at each component's minimum vertex id in O(log^2 n) rounds
(O(log n) in practice).

The reference repo has no component computation; this is engine-new per
``BASELINE.json`` ``north_rule``. Exactness requirement: component ids match a
union-find oracle exactly (component id = min vertex id in the component).

Convergence detection is a (count, bit_xor(xxhash64(src,dst))) signature of
the canonicalized edge set — O(E) with no driver-side edge materialization.
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
class ComponentsResult:
    components: DataFrame  # (vertex_id, component)
    rounds: int
    num_components: int
    metrics: list[dict] = field(default_factory=list)


def _large_star(edges: DataFrame) -> DataFrame:
    """Connect every strictly-larger neighbor of u to min(N(u) ∪ {u}).

    The symmetrized view is NOT deduplicated: the min-aggregate is
    duplicate-insensitive and the output is deduplicated below, so the
    inner distinct was a pure extra shuffle per round (and with the round
    input canonicalized in :func:`connected_components`, the union is
    duplicate-free anyway).
    """
    sym = edges.unionByName(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    mins = (
        sym.groupBy("src")
        .agg(F.min("dst").alias("min_dst"))
        .select("src", F.least("min_dst", "src").alias("m"))
    )
    out = (
        sym.filter(F.col("dst") > F.col("src"))
        .join(mins, "src")
        .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
    )
    return out.filter(F.col("src") != F.col("dst")).dropDuplicates(["src", "dst"])


def _small_star(edges: DataFrame) -> DataFrame:
    """Connect every smaller neighbor of u (and u) to the minimum.

    Like :func:`_large_star`, the canonicalized view skips its own
    distinct: the min-aggregate ignores duplicates and the final
    ``dropDuplicates`` normalizes the output — one less shuffle per round.
    Duplicate rows fan out the ``nbr_edges`` join pre-dedup, but the
    large-star input is already duplicate-free (its own output dedup), so
    the fan-out is 1:1 in the alternating loop.
    """
    directed = edges.filter(F.col("src") != F.col("dst")).select(
        F.greatest("src", "dst").alias("src"),
        F.least("src", "dst").alias("dst"),
    )
    mins = directed.groupBy("src").agg(F.min("dst").alias("m"))
    nbr_edges = directed.join(mins, "src").select(
        F.col("dst").alias("src"), F.col("m").alias("dst")
    )
    self_edges = mins.select("src", F.col("m").alias("dst"))
    out = nbr_edges.unionByName(self_edges)
    return out.filter(F.col("src") != F.col("dst")).dropDuplicates(["src", "dst"])


def _signature(edges: DataFrame) -> dict:
    row = edges.select(
        F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b")
    ).dropDuplicates(["a", "b"]).agg(
        F.count("*").alias("cnt"), F.bit_xor(F.xxhash64("a", "b")).alias("sig")
    ).first()
    return {
        "edges": int(row["cnt"]),
        "signature": int(row["sig"] if row["sig"] is not None else 0),
    }


def connected_components(
    edges: DataFrame,
    vertices: DataFrame | None = None,
    max_rounds: int = 50,
    checkpoint: CheckpointManager | None = None,
    resume: bool = False,
) -> ComponentsResult:
    """Exact connected components; component id = min vertex id in component.

    ``vertices`` (optional, ``vertex_id`` column): isolated vertices become
    their own singleton components.
    """
    start, cur = resume_point(checkpoint, resume)
    if cur is None:
        # canonical (src<dst) initial form: both directions of a pair
        # collapse to one row, so the symmetrized large-star view is
        # duplicate-free and the round works on the minimal edge set.
        # Star-contraction only depends on the undirected edge SET, so
        # results are unchanged.
        cur = (
            edges.filter(F.col("src") != F.col("dst"))
            .select(
                F.least("src", "dst").alias("src"),
                F.greatest("src", "dst").alias("dst"),
            )
            .dropDuplicates(["src", "dst"])
        )
    cur = cur.persist(StorageLevel.MEMORY_AND_DISK)

    def finish(cur: DataFrame) -> tuple[DataFrame, int]:
        # At the fixpoint the edge set is a union of stars (v → component min).
        sym = cur.unionByName(
            cur.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        comp = sym.groupBy("src").agg(F.min("dst").alias("nbr_min")).select(
            F.col("src").alias("vertex_id"),
            F.least(F.col("nbr_min"), F.col("src")).alias("component"),
        )
        if vertices is not None:
            comp = (
                vertices.select("vertex_id")
                .join(comp, "vertex_id", "left")
                .select(
                    "vertex_id",
                    F.coalesce("component", F.col("vertex_id")).alias("component"),
                )
            )
        comp = comp.persist(StorageLevel.MEMORY_AND_DISK)
        return comp, comp.select("component").distinct().count()

    run = run_supersteps(
        cur,
        lambda edges, _carried: _small_star(_large_star(edges)),
        _signature,
        finish,
        done=lambda sig, prev_sig: sig == prev_sig,
        steps=max_rounds,
        start=start,
        observed=_signature(cur),
        checkpoint=checkpoint,
    )
    comp, n_comp = run.result
    return ComponentsResult(
        components=comp,
        rounds=run.iterations,
        num_components=n_comp,
        metrics=run.metrics,
    )
