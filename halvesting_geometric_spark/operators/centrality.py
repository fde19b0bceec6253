"""Seeded, mutual-reinforcement and spectral centralities (engine-new,
beyond the reference's analytics surface — same gather/scatter substrate as
``operators/pagerank.py``).

- :func:`personalized_pagerank` — random-walk-with-restart: the teleport
  (and dangling) mass returns to a seed set instead of spreading uniformly.
- :func:`hits` and :func:`salsa` — hubs/authorities with per-half-step L1
  normalization; SALSA splits each contribution over the contributor's
  degree. Both run one loop, :func:`_hub_authority`.
- :func:`eigenvector_centrality` and :func:`katz_centrality` — power
  iterations on the plain adjacency matrix.

All five repeat one step, :func:`_gather`: sum a message across the cached
(src, dst) topology from one edge end onto the other and left-join the sums
onto every vertex, 0.0 where nothing arrives. They are fixed-iteration, so
none needs a per-iteration driver synchronization: the dangling mass (ppr)
and the norms (hits, salsa, eigenvector) are in-plan 1-row broadcast
aggregates, and every intermediate state is a lazy ``localCheckpoint``
whose consumers share one RDD. The whole recurrence is therefore ONE
Spark action at the end — under AQE each query stage of it is its own job
(``hits(fixed_iters=1)`` runs about 30), but no job waits on a driver-side
result between supersteps. This is the fixed-iteration analog of pagerank's
``delta_check_every`` batching (measured there: driver-floor amortization
took 27-iteration sf0.1 pagerank from ~90 to 151 iters/min and made walls
load-insensitive).

All are deterministic fixed-iteration operators, so an external ANSI-SQL
engine can replicate them exactly (the correctness gate's DuckDB twins unroll
the iterations as CTEs).
"""

from __future__ import annotations

import math

from pyspark import StorageLevel
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from halvesting_geometric_spark.operators.graph import _id_frame


def _topology(
    edges: DataFrame, vertices: DataFrame, compact: bool = False
) -> tuple[DataFrame, DataFrame]:
    """(topo, verts): ``edges`` (src, dst and any per-edge weights) cached
    and hash-partitioned on the gather key ``src``, counted; ``vertices``
    cached.

    ``compact`` narrows ``src``, ``dst`` and ``vertex_id`` to int32 when
    every vertex id fits — half the bytes through the cache, the
    per-iteration gather join and the scatter shuffle (the compaction that
    moved the 20M-edge pagerank superstep from E(1→4)=0.70 to 0.95; ids are
    keys only, callers cast the output id column back to long)."""
    if compact:
        vstats = vertices.agg(
            F.min("vertex_id").alias("vmin"), F.max("vertex_id").alias("vmax")
        ).first()
        if (
            vstats["vmin"] is not None
            and -(2**31) <= int(vstats["vmin"])
            and int(vstats["vmax"]) < 2**31
        ):
            edges = edges.withColumns(
                {c: F.col(c).cast("int") for c in ("src", "dst")}
            )
            vertices = vertices.withColumn(
                "vertex_id", F.col("vertex_id").cast("int")
            )
    n_shuffle = int(
        edges.sparkSession.conf.get("spark.sql.shuffle.partitions", "200")
    )
    topo = edges.repartition(n_shuffle, "src").persist(
        StorageLevel.MEMORY_AND_DISK
    )
    topo.count()
    return topo, vertices.persist(StorageLevel.MEMORY_AND_DISK)


def _vertex_count(topo: DataFrame, verts: DataFrame) -> int:
    """``verts``' row count, once some edge of ``topo`` is known to leave a
    vertex: an edge-free (or vertex-disjoint) graph has no normalizable
    solution."""
    n = verts.count()
    if (
        topo.join(
            verts.select(F.col("vertex_id").alias("src")), "src", "left_semi"
        )
        .limit(1)
        .count()
        == 0
    ):
        raise ValueError("graph has no edges reaching any vertex")
    return n


def _gather(
    topo: DataFrame,
    msgs: DataFrame,
    value: Column,
    verts: DataFrame,
    key_in: str = "src",
    key_out: str = "dst",
) -> DataFrame:
    """``verts`` plus ``raw``: the sum of ``value`` over the edges of
    ``topo`` whose ``key_in`` end is a ``msgs`` row (keyed by vertex_id),
    onto their ``key_out`` end; 0.0 where nothing arrives. ``value`` may
    read ``msgs``' and ``topo``'s columns. Lazy: runs no action."""
    sums = (
        topo.join(msgs.withColumnRenamed("vertex_id", key_in), key_in)
        .groupBy(key_out)
        .agg(F.sum(value).alias("raw"))
    )
    return verts.join(
        sums.withColumnRenamed(key_out, "vertex_id"), "vertex_id", "left"
    ).select(*verts.columns, F.coalesce("raw", F.lit(0.0)).alias("raw"))


def personalized_pagerank(
    edges: DataFrame,
    vertices: DataFrame,
    seeds: DataFrame | list[int],
    damping: float = 0.85,
    fixed_iters: int = 10,
) -> DataFrame:
    """Personalized PageRank over the seed set.

    rank'(v) = (1-d)·1{v∈S}/|S| + d·(Σ_{u→v} rank(u)/outdeg(u)
               + dangling_mass·1{v∈S}/|S|)

    so Σ rank = 1 every iteration and all teleport/dangling mass restarts at
    the seeds. ``seeds``: DataFrame with ``vertex_id`` or a list of ids.
    Returns (vertex_id, rank).
    """
    if not 0.0 < damping < 1.0:
        raise ValueError(f"damping must be in (0, 1), got {damping}")
    if fixed_iters < 0:
        raise ValueError(f"fixed_iters must be >= 0, got {fixed_iters}")
    seeds = _id_frame(edges.sparkSession, seeds)
    out_deg = edges.groupBy("src").agg(F.count("*").alias("out_deg"))
    topo, verts = _topology(
        edges.select("src", "dst"),
        vertices.select("vertex_id")
        .join(
            out_deg.select(F.col("src").alias("vertex_id"), "out_deg"),
            "vertex_id",
            "left",
        )
        .join(
            seeds.select("vertex_id", F.lit(True).alias("_s")).distinct(),
            "vertex_id",
            "left",
        )
        .select(
            "vertex_id",
            F.coalesce("out_deg", F.lit(0)).cast("long").alias("out_deg"),
            F.coalesce("_s", F.lit(False)).alias("is_seed"),
        ),
    )
    try:
        st = verts.agg(
            F.sum(F.when(F.col("is_seed"), 1).otherwise(0)).alias("n_seed"),
            F.sum(
                F.when(F.col("is_seed") & (F.col("out_deg") == 0), 1).otherwise(0)
            ).alias("n_seed_dangling"),
        ).first()
        n_seed = int(st["n_seed"] or 0)
        if n_seed == 0:
            raise ValueError("seed set is empty (or disjoint from vertices)")
        ranks = verts.select(
            "vertex_id",
            F.when(F.col("is_seed"), F.lit(1.0) / n_seed)
            .otherwise(F.lit(0.0))
            .alias("rank"),
            "out_deg",
            "is_seed",
        )
        dangling0 = int(st["n_seed_dangling"] or 0) / float(n_seed)
        # every iteration after the first takes its dangling mass from an
        # in-plan 1-row broadcast aggregate of the previous state (the first
        # uses the precomputed scalar)
        for i in range(fixed_iters):
            paired = _gather(
                topo,
                ranks.filter(F.col("out_deg") > 0).select(
                    "vertex_id",
                    (F.col("rank") / F.col("out_deg")).alias("contrib"),
                ),
                F.col("contrib"),
                ranks.select("vertex_id", "out_deg", "is_seed"),
            )
            if i == 0:
                seed_mass = F.lit(
                    (1.0 - damping) / n_seed + damping * dangling0 / n_seed
                )
            else:
                dang_df = ranks.agg(
                    F.coalesce(
                        F.sum(
                            F.when(
                                F.col("out_deg") == 0, F.col("rank")
                            ).otherwise(F.lit(0.0))
                        ),
                        F.lit(0.0),
                    ).alias("_dang")
                )
                paired = paired.crossJoin(F.broadcast(dang_df))
                seed_mass = (
                    F.lit((1.0 - damping) / n_seed)
                    + F.lit(damping) * F.col("_dang") / F.lit(float(n_seed))
                )
            rank_expr = (
                F.when(F.col("is_seed"), seed_mass).otherwise(F.lit(0.0))
                + F.lit(damping) * F.col("raw")
            ).alias("rank")
            ranks = paired.select(
                "vertex_id", rank_expr, "out_deg", "is_seed"
            ).localCheckpoint(eager=False)
        out = ranks.select("vertex_id", "rank")
        out.count()
        return out
    finally:
        topo.unpersist()
        verts.unpersist()


def _hub_authority(
    edges: DataFrame,
    vertices: DataFrame,
    fixed_iters: int,
    auth_msg: Column,
    hub_msg: Column,
) -> DataFrame:
    """(vertex_id, hub, auth) after ``fixed_iters`` rounds from hub = 1/n:
    auth gathers ``auth_msg`` src → dst, then hub gathers ``hub_msg``
    dst → src, each L1-normalized. A message reads the sender's ``score``
    and the columns of ``edges`` (src, dst and any per-edge weights). The
    result is pinned, so reading it runs no join again."""
    if fixed_iters < 1:
        raise ValueError(f"fixed_iters must be >= 1, got {fixed_iters}")
    topo, verts = _topology(edges, vertices.select("vertex_id"))
    try:
        # checked ONCE up front — after a valid first half-step every later
        # norm is positive (the dst that received auth mass hands hub mass
        # back to its own src through the same edge)
        n = _vertex_count(topo, verts)

        def half_step(score, key_in, key_out, msg):
            # the gathered table has TWO consumers (norm aggregate +
            # division); the lazy checkpoint makes them share one RDD —
            # without it each half-step's gather join runs twice (measured:
            # hits5 7.0s vs 3.9s at sf0.1)
            full = _gather(
                topo, score, msg, verts, key_in, key_out
            ).localCheckpoint(eager=False)
            norm_df = full.agg(F.sum("raw").alias("_norm"))
            return full.crossJoin(F.broadcast(norm_df)).select(
                "vertex_id", (F.col("raw") / F.col("_norm")).alias("score")
            )

        hub = verts.select("vertex_id", (F.lit(1.0) / n).alias("score"))
        for _ in range(fixed_iters):
            auth = half_step(hub, "src", "dst", auth_msg)
            hub = half_step(auth, "dst", "src", hub_msg)
        return (
            hub.select("vertex_id", F.col("score").alias("hub"))
            .join(
                auth.select("vertex_id", F.col("score").alias("auth")),
                "vertex_id",
            )
            .select("vertex_id", "hub", "auth")
            .localCheckpoint(eager=True)
        )
    finally:
        topo.unpersist()
        verts.unpersist()


def hits(
    edges: DataFrame,
    vertices: DataFrame,
    fixed_iters: int = 5,
) -> DataFrame:
    """Hubs and authorities (Kleinberg), L1-normalized every half-step:

        auth_k(v) = Σ_{u→v} hub_{k-1}(u)   then auth_k /= Σ auth_k
        hub_k(u)  = Σ_{u→v} auth_k(v)      then hub_k  /= Σ hub_k

    Initial hub = 1/n. Returns (vertex_id, hub, auth); auth/hub are 0.0 for
    a vertex with no in/out edges respectively. Precondition: the graph has
    at least one edge whose endpoints are in ``vertices`` (an edge-free graph
    has no normalizable HITS solution — raises ValueError). Deterministic, so
    the gate's DuckDB twin unrolls the same recurrence.
    """
    return _hub_authority(
        edges.select("src", "dst"),
        vertices,
        fixed_iters,
        F.col("score"),
        F.col("score"),
    )


def eigenvector_centrality(
    edges: DataFrame,
    vertices: DataFrame,
    fixed_iters: int = 8,
) -> DataFrame:
    """Eigenvector centrality by power iteration with per-step L2
    normalization:

        raw_k(v) = Σ_{u→v} x_{k-1}(u)      then x_k = raw_k / ||raw_k||_2

    starting from the L2-normalized uniform vector x_0 = 1/√n. Distinct from
    :func:`hits` (which alternates two mutually-reinforcing scores) and from
    PageRank (whose stochastic normalization + teleport changes the matrix):
    this is the dominant eigenvector of the plain adjacency matrix A^T.
    Callers who want the classic undirected variant pass a symmetrized edge
    table (``operators.graph.undirected``).

    Engine-new per ``BASELINE.json`` ``north_rule`` (centrality family over
    the citation link graph); the reference computes no spectral scores.
    Same one-action batched superstep shape as :func:`hits`: the L2 norm is
    an in-plan 1-row broadcast aggregate, every intermediate state a lazy
    ``localCheckpoint``, no per-iteration driver action. Deterministic up to
    float summation order, so the gate's DuckDB twin unrolls the same
    recurrence and compares at 1e-6 rounding.

    Returns (vertex_id, score). Raises on an edge-free graph (no
    normalizable solution).
    """
    if fixed_iters < 1:
        raise ValueError(f"fixed_iters must be >= 1, got {fixed_iters}")
    topo, verts = _topology(
        edges.select("src", "dst"), vertices.select("vertex_id"), compact=True
    )
    try:
        n = _vertex_count(topo, verts)
        x = verts.select("vertex_id", F.lit(1.0 / math.sqrt(n)).alias("score"))
        for _ in range(fixed_iters):
            # two consumers (norm aggregate + division) share one RDD
            full = _gather(topo, x, F.col("score"), verts).localCheckpoint(
                eager=False
            )
            norm_df = full.agg(
                F.sqrt(F.sum(F.col("raw") * F.col("raw"))).alias("_norm")
            )
            # a DAG longer than its depth drains all mass: norm 0 → scores 0
            # (defined, instead of a divide-by-zero null cascade)
            x = full.crossJoin(F.broadcast(norm_df)).select(
                "vertex_id",
                F.when(F.col("_norm") > 0.0, F.col("raw") / F.col("_norm"))
                .otherwise(F.lit(0.0))
                .alias("score"),
            )
        return x.select(
            F.col("vertex_id").cast("long").alias("vertex_id"), "score"
        ).localCheckpoint(eager=True)
    finally:
        topo.unpersist()
        verts.unpersist()


def katz_centrality(
    edges: DataFrame,
    vertices: DataFrame,
    alpha: float = 0.05,
    beta: float = 1.0,
    fixed_iters: int = 8,
) -> DataFrame:
    """Katz centrality: attenuated count of incoming paths of every length,

        x_t(v) = β + α · Σ_{u→v} x_{t-1}(u),    x_0 = 0

    so after t iterations x(v) = Σ_{k≤t} α^k (#paths of length k into v)·β
    plus β. Converges for α < 1/λ_max; the caller picks α (no in-engine
    spectral estimate — fixed-iteration mode is the gate-verifiable one and
    the usual cluster deployment). Unlike :func:`eigenvector_centrality`
    there is no normalization step and the β source term keeps isolated
    vertices at β rather than zero; unlike PageRank the contribution is not
    divided by out-degree.

    Engine-new (centrality family per ``BASELINE.json`` ``north_rule``).
    Same one-action batched superstep shape as the other fixed-iteration
    centralities: each state is a lazy ``localCheckpoint``, no per-iteration
    driver action, DuckDB twin unrolls the recurrence. Returns
    (vertex_id, score).
    """
    if fixed_iters < 1:
        raise ValueError(f"fixed_iters must be >= 1, got {fixed_iters}")
    if alpha <= 0:
        raise ValueError(f"alpha must be > 0, got {alpha}")
    topo, verts = _topology(
        edges.select("src", "dst"), vertices.select("vertex_id"), compact=True
    )
    try:
        x = verts.select("vertex_id", F.lit(0.0).alias("score"))
        for _ in range(fixed_iters):
            x = (
                _gather(topo, x, F.col("score"), verts)
                .select(
                    "vertex_id",
                    (F.lit(beta) + F.lit(alpha) * F.col("raw")).alias("score"),
                )
                .localCheckpoint(eager=False)
            )
        out = x.select(
            F.col("vertex_id").cast("long").alias("vertex_id"), "score"
        )
        out.count()
        return out
    finally:
        topo.unpersist()
        verts.unpersist()


def salsa(
    edges: DataFrame,
    vertices: DataFrame,
    fixed_iters: int = 3,
) -> DataFrame:
    """SALSA (Lempel & Moran): hubs/authorities by power iteration on the
    degree-normalized bipartite chains —

        auth_k(v) = Σ_{u→v} hub_{k-1}(u) / outdeg(u)   then auth_k /= Σ auth_k
        hub_k(u)  = Σ_{u→v} auth_k(v) / indeg(v)       then hub_k  /= Σ hub_k

    i.e. HITS where every contribution is split across the contributor's
    edges instead of copied along each — SALSA's random-surfer chains, which
    makes the scores degree-robust (a pure-HITS hub farm gains nothing).
    Initial hub = 1/n. Execution shape is identical to :func:`hits`: a cached
    (src, dst, inv_out, inv_in) topology (the degree reciprocals joined ONCE,
    not per iteration), per-half-step in-plan 1-row broadcast L1 norms, lazy
    localCheckpoints, one Spark action at the end. Deterministic →
    the gate's DuckDB twin unrolls the same recurrence.

    Returns (vertex_id, hub, auth); 0.0 where the vertex has no out/in edges.
    Raises ValueError on a graph with no edge touching ``vertices`` (same
    precondition as :func:`hits`).
    """
    e = edges.select("src", "dst")
    outdeg = e.groupBy("src").agg(F.count("*").alias("od"))
    indeg = e.groupBy("dst").agg(F.count("*").alias("id_"))
    weighted = (
        e.join(outdeg, "src")
        .join(indeg, "dst")
        .select(
            "src",
            "dst",
            (F.lit(1.0) / F.col("od")).alias("inv_out"),
            (F.lit(1.0) / F.col("id_")).alias("inv_in"),
        )
    )
    return _hub_authority(
        weighted,
        vertices,
        fixed_iters,
        F.col("score") * F.col("inv_out"),
        F.col("score") * F.col("inv_in"),
    )
