"""SCAN structural graph clustering (Xu et al., KDD 2007; engine-new).

SCAN clusters vertices by *structural similarity* instead of raw
connectivity: an edge counts toward a cluster only when its endpoints
share enough of their neighborhoods.  Unlike modularity methods it also
CLASSIFIES every vertex — cluster members (cores + borders), *hubs* that
bridge several clusters, and *outliers* attached to none — which is
exactly the triage a 100 TB link graph needs before downstream mining
(hubs are the cross-topic connectors, outliers the noise).

Engine-new (the reference — see
``/root/reference/halvesting_geometric/utils/data/link_prediction_dataset.py``
— builds the citation graph but computes no clustering); extends the same
edge-table surface as the other structure operators.

Definitions over the simple undirected graph (Γ(v) = N(v) ∪ {v}):

- σ(u,v) = |Γ(u) ∩ Γ(v)| / sqrt(|Γ(u)|·|Γ(v)|), so for an edge (u,v)
  the numerator is support(u,v) + 2 (each endpoint sits in both closed
  neighborhoods).
- An edge is an *ε-edge* when σ ≥ ε; a vertex is a *core* when its
  ε-neighborhood (itself plus its ε-edge neighbors) has ≥ μ members.
- Clusters are the connected components of cores under ε-edges; border
  vertices attach to an adjacent core's cluster; remaining vertices are
  hubs (adjacent to ≥ 2 distinct clusters) or outliers.

Determinism (engine twin = DuckDB): σ is exported as round-half-up e6
fixed point — the numerator and the degree product are exact integers,
and *, /, sqrt are all correctly-rounded IEEE ops.  Border vertices
adjacent to several clusters attach to the MINIMUM cluster id (the
original algorithm's answer depends on visit order; the min rule makes
the output order-free).  Cluster ids are the min core vertex id.

Scale shape: per-edge support and both endpoint degrees from one support
pass (``ktruss._support``: the degree-oriented wedge join, O(√E)-bounded
work per edge, no degree-table join), threshold filters, hash aggregates,
two semi-joins, and one run of the proven small-star/large-star CC driver
over the (much smaller) core-core ε-edge backbone.  No per-row Python,
no windows over unbounded groups, no driver state beyond CC's O(log n)
supersteps.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from halvesting_geometric_spark.operators.components import connected_components
from halvesting_geometric_spark.operators.graph import canonical_edges
from halvesting_geometric_spark.operators.ktruss import _support


def structural_similarity(
    edges: DataFrame, _canon: DataFrame | None = None
) -> DataFrame:
    """e6-quantized SCAN similarity per canonical edge.

    Returns ``(src, dst, support, sigma_e6)`` with ``src < dst``:
    ``sigma_e6 = floor(1e6·(support+2)/sqrt((deg_u+1)·(deg_v+1)) + 0.5)``.
    ``_canon``: a pinned canonical edge table read instead of ``edges``
    (internal — :func:`scan_clusters` passes the one its hub detection
    reads).
    """
    sup = _support(_canon if _canon is not None else edges)
    return sup.select(
        "src",
        "dst",
        "support",
        F.floor(
            (F.col("support") + F.lit(2))
            * 1_000_000.0
            / F.sqrt(((F.col("deg_src") + 1) * (F.col("deg_dst") + 1)).cast("double"))
            + F.lit(0.5)
        )
        .cast("long")
        .alias("sigma_e6"),
    )


def scan_clusters(
    edges: DataFrame,
    vertices: DataFrame,
    eps_e6: int = 600_000,
    mu: int = 3,
) -> DataFrame:
    """Full SCAN classification of every vertex.

    Returns ``(vertex_id, cluster, role)`` — ``cluster`` is the min core
    vertex id of the cluster (NULL for hubs/outliers), ``role`` one of
    ``core`` / ``border`` / ``hub`` / ``outlier``.

    ``eps_e6``: similarity threshold in e6 fixed point (600000 = 0.6,
    the paper's recommended regime); ``mu``: minimum ε-neighborhood size
    (including the vertex itself).
    """
    if mu < 2:
        raise ValueError(f"mu must be >= 2, got {mu}")
    if not 0 < eps_e6 <= 1_000_000:
        raise ValueError(f"eps_e6 must be in (0, 1e6], got {eps_e6}")
    canon = canonical_edges(edges).localCheckpoint(eager=True)
    sim = structural_similarity(edges, _canon=canon)
    eps_edges = sim.filter(F.col("sigma_e6") >= eps_e6).select("src", "dst")
    eps_edges = eps_edges.localCheckpoint(eager=True)

    eps_deg = (
        eps_edges.select(F.col("src").alias("v"))
        .unionByName(eps_edges.select(F.col("dst").alias("v")))
        .groupBy("v")
        .agg(F.count("*").alias("nbrs"))
    )
    cores = (
        eps_deg.filter(F.col("nbrs") + 1 >= mu)
        .select(F.col("v").alias("vertex_id"))
        .localCheckpoint(eager=True)
    )

    backbone = eps_edges.join(
        cores.select(F.col("vertex_id").alias("src")), "src", "left_semi"
    ).join(cores.select(F.col("vertex_id").alias("dst")), "dst", "left_semi")
    cc = connected_components(backbone.select("src", "dst"), cores).components
    core_rows = cc.select(
        "vertex_id", F.col("component").alias("cluster"), F.lit("core").alias("role")
    ).localCheckpoint(eager=True)

    # border: non-core endpoint of an eps-edge whose other endpoint is a
    # clustered core; ties across clusters resolve to the min cluster id
    incid = eps_edges.select(
        F.col("src").alias("v"), F.col("dst").alias("other")
    ).unionByName(
        eps_edges.select(F.col("dst").alias("v"), F.col("src").alias("other"))
    )
    border_rows = (
        incid.join(cores, incid.v == cores.vertex_id, "left_anti")
        .join(
            core_rows.select(
                F.col("vertex_id").alias("other"), F.col("cluster")
            ),
            "other",
        )
        .groupBy("v")
        .agg(F.min("cluster").alias("cluster"))
        .select("v", "cluster", F.lit("border").alias("role"))
        .withColumnRenamed("v", "vertex_id")
    )
    clustered = core_rows.unionByName(border_rows).localCheckpoint(eager=True)

    # hub vs outlier over the remaining vertices: hub touches >= 2 clusters
    adj = canon.select(
        F.col("src").alias("v"), F.col("dst").alias("other")
    ).unionByName(canon.select(F.col("dst").alias("v"), F.col("src").alias("other")))
    rest = vertices.select("vertex_id").join(
        clustered.select("vertex_id"), "vertex_id", "left_anti"
    )
    touch = (
        rest.join(adj, rest.vertex_id == adj.v)
        .join(
            clustered.select(
                F.col("vertex_id").alias("other"), F.col("cluster").alias("nc")
            ),
            "other",
        )
        .groupBy(rest.vertex_id)
        .agg(F.count_distinct("nc").alias("n_clusters"))
    )
    rest_rows = (
        rest.join(touch, "vertex_id", "left")
        .select(
            "vertex_id",
            F.lit(None).cast("long").alias("cluster"),
            F.when(F.coalesce("n_clusters", F.lit(0)) >= 2, F.lit("hub"))
            .otherwise(F.lit("outlier"))
            .alias("role"),
        )
    )
    return clustered.select(
        "vertex_id", F.col("cluster").cast("long").alias("cluster"), "role"
    ).unionByName(rest_rows)
