"""Forman–Ricci curvature of graph edges (discrete geometry; engine-new).

Discrete Ricci curvature turns local geometry into an edge attribute:
negatively curved edges are bridges/bottlenecks between communities,
positively curved edges sit inside densely triangulated cores.  The
augmented Forman curvature for an unweighted simple graph, counting
triangles as 2-cells (Samal et al., *Comparative analysis of two
discretizations of Ricci curvature for complex networks*, Sci. Rep. 2018),
is the closed form

    F#(u, v) = 4 − deg(u) − deg(v) + 3·t(u, v)

where ``t(u, v)`` is the number of triangles through the edge and the
degrees are undirected simple-graph degrees.  Everything is integral, so
the operator is exactly reproducible across engines — no float anywhere.

Scale shape: one support pass (``ktruss._support``: the degree-oriented
wedge join, O(√E)-bounded work per edge, no adjacency buffering) gives
each edge its support and both endpoint degrees, so no degree table is
joined.  The per-vertex scalar curvature is one further explode + hash
aggregate.  No window over unbounded groups, no driver
state; every shuffle keys on a vertex or canonical-edge id.

The reference (see
``/root/reference/halvesting_geometric/utils/data/link_prediction_dataset.py``)
materializes the citation graph but computes no geometric quantities; this
extends the same edge-table surface its graph feeds.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from halvesting_geometric_spark.operators.ktruss import _support


def forman_curvature(edges: DataFrame) -> DataFrame:
    """Augmented Forman–Ricci curvature per canonical edge.

    Returns ``(src, dst, support, deg_src, deg_dst, curvature)`` with
    ``src < dst`` over the simple undirected graph:
    ``curvature = 4 − deg_src − deg_dst + 3·support`` (all exact longs).

    Interpretation: an edge in no triangle between two hubs is strongly
    negative (a bottleneck); an edge inside a clique is positive.  The
    most negative edges are the classic cut candidates for
    community-aware partitioning.
    """
    return _support(edges).select(
        "src",
        "dst",
        "support",
        "deg_src",
        "deg_dst",
        (F.lit(4) - F.col("deg_src") - F.col("deg_dst") + F.lit(3) * F.col("support"))
        .cast("long")
        .alias("curvature"),
    )


def forman_vertex_curvature(edges: DataFrame, vertices: DataFrame) -> DataFrame:
    """Scalar (vertex) Forman curvature: sum of incident edge curvatures.

    Returns ``(vertex_id, degree, curvature)`` for every vertex in
    ``vertices`` (isolated vertices get degree 0 and curvature 0).  The
    scalar curvature ranks structural roles globally: deeply negative
    vertices are inter-community connectors, positive ones sit inside
    triangle-dense cores.  One explode of the edge-curvature table + one
    hash aggregate + a left join back to the vertex set.
    """
    fc = forman_curvature(edges)
    incid = fc.select(
        F.col("src").alias("vertex_id"), "curvature"
    ).unionByName(fc.select(F.col("dst").alias("vertex_id"), "curvature"))
    agg = incid.groupBy("vertex_id").agg(
        F.count("*").alias("degree"),
        F.sum("curvature").alias("curvature"),
    )
    return (
        vertices.select("vertex_id")
        .join(agg, "vertex_id", "left")
        .select(
            "vertex_id",
            F.coalesce("degree", F.lit(0)).cast("long").alias("degree"),
            F.coalesce("curvature", F.lit(0)).cast("long").alias("curvature"),
        )
    )
