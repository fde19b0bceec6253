"""k-truss decomposition (edge-level cohesion; engine-new).

The k-truss is the maximal subgraph in which every edge closes at least
k−2 triangles — the edge-wise analog of the k-core's vertex degrees, and a
much stronger community signal. Standard iterative peeling:

1. count each canonical edge's support (triangles through it) — reuses the
   degree-oriented triangle listing (O(√E)-bounded wedge join), each
   triangle crediting its three edges;
2. drop edges with support < k−2;
3. repeat until a fixed point (dropping an edge can break other edges'
   triangles).

``fixed_rounds`` runs exactly that many peels (the externally-verifiable
mode the gate unrolls in SQL); ``fixed_rounds=None`` iterates to the
fixpoint with early stop. Each round is bounded by the previous round's
(shrinking) edge set; lineage truncates per round via eager
localCheckpoint (same driver shape as k-core peeling).
"""

from __future__ import annotations

from pyspark import StorageLevel
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from halvesting_geometric_spark.operators.graph import canonical_edges
from halvesting_geometric_spark.operators.triangles import (
    _oriented,
    triangle_listing,
)


def _support(edges: DataFrame) -> DataFrame:
    """(src, dst, support, deg_src, deg_dst) per canonical edge of ``edges``;
    zero-support edges included, degrees over the simple undirected graph.

    One pass over one persisted oriented table (:func:`_oriented`, which
    canonicalizes ``edges`` and carries both endpoint degrees): list the
    triangles, credit each one's three oriented edges with one explode, and
    left-join the counts back. The result is pinned eagerly so the oriented
    table can be released: the peeling loop would otherwise leak one cached
    table per round.
    """
    o = _oriented(edges).persist(StorageLevel.MEMORY_AND_DISK)
    # the lister emits a->b, a->c and the closing b->c, all in o's orientation
    tri = triangle_listing(edges, oriented=o)
    hits = (
        tri.select(
            F.explode(
                F.array(
                    F.struct(F.col("a"), F.col("b")),
                    F.struct(F.col("a"), F.col("c").alias("b")),
                    F.struct(F.col("b").alias("a"), F.col("c").alias("b")),
                )
            ).alias("e")
        )
        .select("e.*")
        .groupBy("a", "b")
        .agg(F.count("*").alias("support"))
    )
    fwd = F.col("a") < F.col("b")
    out = (
        o.join(hits, ["a", "b"], "left")
        .select(
            F.least("a", "b").alias("src"),
            F.greatest("a", "b").alias("dst"),
            F.coalesce("support", F.lit(0)).cast("long").alias("support"),
            F.when(fwd, F.col("da")).otherwise(F.col("db")).alias("deg_src"),
            F.when(fwd, F.col("db")).otherwise(F.col("da")).alias("deg_dst"),
        )
        .localCheckpoint(eager=True)
    )
    o.unpersist()
    return out


def edge_support(edges: DataFrame) -> DataFrame:
    """Per-edge triangle support (embeddedness) of the simple undirected
    graph: (src, dst, support) with src < dst, zero-support edges included.

    The k-truss round-0 table exposed as a first-class result — support is
    the number of common neighbors of the endpoints, and support 0 marks
    local bridges (edges in no triangle, the classic weak-tie signal).
    Same degree-oriented wedge-join bound as triangle listing: O(√E) work
    per edge, no adjacency-list buffering.
    """
    return _support(edges).select("src", "dst", "support")


def ktruss(
    edges: DataFrame, k: int, fixed_rounds: int | None = None, max_rounds: int = 64
) -> DataFrame:
    """Edges of the k-truss with their in-truss support.

    Returns (src, dst, support) over the simple undirected graph
    (src < dst); support is computed within the surviving subgraph of the
    final round. Raises if the fixpoint isn't reached in ``max_rounds``
    (fixpoint mode only).
    """
    if k < 2:
        raise ValueError(f"k must be >= 2, got {k}")
    cur = canonical_edges(edges).persist(StorageLevel.MEMORY_AND_DISK)
    n_cur = cur.count()
    rounds = fixed_rounds if fixed_rounds is not None else max_rounds
    prev: DataFrame | None = cur
    for r in range(rounds):
        sup = _support(cur)
        nxt = (
            sup.filter(F.col("support") >= k - 2)
            .select("src", "dst")
            .localCheckpoint(eager=True)
        )
        n_nxt = nxt.count()
        if prev is not None:
            prev.unpersist()
            prev = None
        converged = n_nxt == n_cur
        cur, n_cur = nxt, n_nxt
        if fixed_rounds is None and converged:
            break
        if n_cur == 0:
            break
    else:
        if fixed_rounds is None:
            raise RuntimeError(
                f"k-truss did not converge within max_rounds={max_rounds}"
            )
    out = _support(cur).select("src", "dst", "support")
    if prev is not None:
        prev.unpersist()
    return out
