"""Frontier BFS, Bellman-Ford distances and absorbing walks (engine-new).

Hop distances: :func:`bfs_levels` and :func:`landmark_bfs` run one frontier
loop, :func:`_bfs`. The cached pure-topology edge table never reshuffles;
each level is one gather join (frontier → neighbors) + one anti join (drop
already-visited) — first discovery is the shortest distance, so no
min-recomputation pass is needed. Lineage truncates per level via lazy
localCheckpoint; the frontier (not the full visited set) drives the join, so
per-level work is proportional to the frontier's edge boundary.

Weighted distances: :func:`sssp` and :func:`landmark_sssp` run one
Bellman-Ford relaxation, :func:`_bellman_ford`, through
``plans/superstep.py``'s driver.

Both loops key their state on ``vertex_id`` plus a key tuple: ``()``, or
``("lm",)`` for the landmark twins, whose k sources expand together as
(vertex, landmark) rows.
"""

from __future__ import annotations

from pyspark import StorageLevel
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from halvesting_geometric_spark.operators.centrality import _gather
from halvesting_geometric_spark.operators.graph import _id_frame, undirected
from halvesting_geometric_spark.plans.superstep import (
    resume_point,
    run_supersteps,
)


def _seeds(
    sources: DataFrame | list[int], vertices: DataFrame, keys: tuple[str, ...]
) -> DataFrame:
    """(vertex_id, *keys): the distinct sources that are vertices, so no
    state row ever leaves the graph; each key column holds the source
    itself."""
    return (
        _id_frame(vertices.sparkSession, sources)
        .select("vertex_id")
        .distinct()
        .join(vertices.select("vertex_id"), "vertex_id", "left_semi")
        .select("vertex_id", *[F.col("vertex_id").alias(k) for k in keys])
    )


def _bfs(
    edges: DataFrame,
    vertices: DataFrame,
    sources: DataFrame | list[int],
    max_depth: int,
    directed: bool,
    keys: tuple[str, ...] = (),
) -> DataFrame:
    """(vertex_id, *keys, dist) for every vertex within ``max_depth`` hops
    of a source, ``dist`` counted from the nearest source that agrees on
    ``keys``."""
    if max_depth < 0:
        raise ValueError(f"max_depth must be >= 0, got {max_depth}")
    n_shuffle = int(
        edges.sparkSession.conf.get("spark.sql.shuffle.partitions", "200")
    )
    topo = (
        edges.select("src", "dst")
        if directed
        else undirected(edges, dedupe=False)
    )
    topo = (
        topo.repartition(n_shuffle, "src").persist(StorageLevel.MEMORY_AND_DISK)
    )
    topo.count()

    cols = ["vertex_id", *keys]
    visited = _seeds(sources, vertices, keys).select(
        *cols, F.lit(0).alias("dist")
    )
    frontier = visited
    prev_caches: list[DataFrame] = []
    for depth in range(1, max_depth + 1):
        nxt = (
            topo.join(
                frontier.select(F.col("vertex_id").alias("src"), *keys), "src"
            )
            .select(F.col("dst").alias("vertex_id"), *keys)
            .distinct()
            .join(visited.select(*cols), cols, "left_anti")
            .select(*cols, F.lit(depth).alias("dist"))
            .persist(StorageLevel.MEMORY_AND_DISK)
        )
        n_new = nxt.count()
        if n_new == 0:
            nxt.unpersist()
            break
        visited = visited.unionByName(nxt).localCheckpoint(eager=False)
        frontier = nxt
        for p in prev_caches:
            p.unpersist()
        prev_caches = [nxt]
    out = visited.select(*cols, F.col("dist").cast("long").alias("dist"))
    out = out.localCheckpoint(eager=True)
    for p in prev_caches:
        p.unpersist()
    topo.unpersist()
    return out


def bfs_levels(
    edges: DataFrame,
    vertices: DataFrame,
    sources: DataFrame | list[int],
    max_depth: int = 20,
    directed: bool = True,
) -> DataFrame:
    """Hop distance from the nearest source. Returns (vertex_id, dist) for
    every REACHED vertex (unreached vertices are absent; sources have dist 0).

    ``directed=False`` follows edges both ways. Stops early when a level adds
    no new vertices; otherwise explores exactly ``max_depth`` levels (distances
    are then correct for every emitted row — deeper vertices are just absent),
    which is the externally-verifiable fixed-depth mode the gate uses.
    """
    return _bfs(edges, vertices, sources, max_depth, directed)


def landmark_bfs(
    edges: DataFrame,
    vertices: DataFrame,
    landmarks: DataFrame | list[int],
    max_depth: int = 6,
    directed: bool = False,
) -> DataFrame:
    """Per-landmark hop distances: (vertex_id, lm, dist) for every vertex
    within ``max_depth`` hops of each landmark.

    The precompute half of a landmark distance oracle (Das Sarma et al.,
    "A Sketch-Based Distance Oracle for Web-Scale Graphs", WSDM 2010 —
    public paper): k seeds expand together in one frontier whose rows are
    (vertex, landmark) pairs, so the whole precompute is ``max_depth``
    supersteps regardless of k, on the same cached-topology /
    frontier-anti-join loop as :func:`bfs_levels`. State is at most
    V×k rows — the explicit, budgetable cost of the oracle.
    """
    return _bfs(edges, vertices, landmarks, max_depth, directed, ("lm",))


def _weighted_topology(
    edges: DataFrame, weight_col: str | None, directed: bool
) -> DataFrame:
    """The cached (src, dst, w) topology hash-partitioned on ``src``, both
    directions unless ``directed``; ``weight_col=None`` means unit weights.
    Raises on a negative weight."""
    n_shuffle = int(
        edges.sparkSession.conf.get("spark.sql.shuffle.partitions", "200")
    )
    w = (
        F.col(weight_col).cast("double")
        if weight_col is not None
        else F.lit(1.0)
    )
    topo = edges.select("src", "dst", w.alias("w"))
    if not directed:
        topo = topo.unionByName(
            edges.select(
                F.col("dst").alias("src"), F.col("src").alias("dst"), w.alias("w")
            )
        )
    topo = topo.repartition(n_shuffle, "src").persist(
        StorageLevel.MEMORY_AND_DISK
    )
    neg = topo.agg(F.min("w").alias("m")).first()["m"]
    if neg is not None and neg < 0:
        topo.unpersist()
        raise ValueError(f"negative edge weight {neg}; requires w >= 0")
    return topo


def _bellman_ford(
    topo: DataFrame,
    dist: DataFrame,
    keys: tuple[str, ...],
    steps: int,
    start: int = 0,
    batch: int = 1,
    checkpoint=None,
) -> DataFrame:
    """Relax every edge of ``topo`` from the state (vertex_id, *keys, dist)
    in supersteps ``start`` .. ``steps - 1``, ``batch`` to a Spark job,
    stopping early at a round that improves nothing (``run_supersteps``'
    rules). Releases ``topo``."""
    cols = ["vertex_id", *keys]

    def _relax(state_df: DataFrame, _carried: dict | None) -> DataFrame:
        """One lazy relaxation: (vertex_id, *keys, dist, _improved)."""
        relaxed = (
            topo.join(
                state_df.select(F.col("vertex_id").alias("src"), *keys, "dist"),
                "src",
            )
            .groupBy(F.col("dst").alias("vertex_id"), *keys)
            .agg(F.min(F.col("dist") + F.col("w")).alias("cand"))
        )
        return state_df.join(relaxed, cols, "full_outer").select(
            *cols,
            F.least(
                F.coalesce("dist", F.lit(float("inf"))),
                F.coalesce("cand", F.lit(float("inf"))),
            ).alias("dist"),
            (
                F.col("dist").isNull()
                | (F.coalesce("cand", F.lit(float("inf"))) < F.col("dist"))
            ).alias("_improved"),
        )

    try:
        return run_supersteps(
            dist,
            _relax,
            lambda pair: {"n_improved": pair.filter(F.col("_improved")).count()},
            lambda state: state.localCheckpoint(eager=True),
            done=lambda obs, _: obs["n_improved"] == 0,
            steps=steps,
            start=start,
            batch=batch,
            checkpoint=checkpoint,
        ).result
    finally:
        topo.unpersist()


def landmark_sssp(
    edges: DataFrame,
    vertices: DataFrame,
    landmarks: DataFrame | list[int],
    weight_col: str | None = None,
    fixed_iters: int = 6,
    directed: bool = False,
) -> DataFrame:
    """Weighted landmark distances: Bellman-Ford relaxations over
    (vertex, landmark)-keyed state — the weighted upgrade of
    :func:`landmark_bfs`, completing the distance oracle for weighted
    graphs (travel-time / cost metrics, not just hops).

    All k landmarks relax together: one gather join + min-aggregate +
    full-outer merge per superstep regardless of k (``fixed_iters``
    supersteps total — after them every distance using ≤ that many hops
    is exact, the same externally-verifiable contract as :func:`sssp`,
    whose relaxation and superstep driver it runs). State is at most V×k
    rows. Weights must be non-negative; ``None`` = unit weights (then
    distances equal :func:`landmark_bfs` hop counts). Returns
    (vertex_id, lm, dist double) for reached pairs; empty when no landmark
    is a vertex.
    """
    if fixed_iters < 0:
        raise ValueError(f"fixed_iters must be >= 0, got {fixed_iters}")
    topo = _weighted_topology(edges, weight_col, directed)
    dist = (
        _seeds(landmarks, vertices, ("lm",))
        .withColumn("dist", F.lit(0.0))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    return _bellman_ford(topo, dist, ("lm",), fixed_iters)


def landmark_distance_estimates(
    dists: DataFrame, pairs: DataFrame
) -> DataFrame:
    """Query half of the landmark oracle: for each (a, b) pair, the upper
    bound ``min over landmarks of d(a, lm) + d(lm, b)`` — exact whenever
    some landmark sits on a shortest a-b path (triangle inequality).

    ``dists``: output of :func:`landmark_bfs` (undirected for symmetric
    estimates). ``pairs``: (a, b). Pairs sharing no reached landmark are
    absent from the result (unknown, not zero). Two equi-join shuffles —
    on ``a``, then on (b, lm) — then one groupBy; no per-vertex vectors
    are ever buffered in a single row.
    """
    da = dists.select(
        F.col("vertex_id").alias("a"), "lm", F.col("dist").alias("d_a")
    )
    db = dists.select(
        F.col("vertex_id").alias("b"), "lm", F.col("dist").alias("d_b")
    )
    return (
        pairs.join(da, "a")
        .join(db, ["b", "lm"])
        .groupBy("a", "b")
        .agg(
            F.min(F.col("d_a") + F.col("d_b")).cast("long").alias("est_dist")
        )
    )


def sssp(
    edges: DataFrame,
    vertices: DataFrame,
    sources: DataFrame | list[int],
    weight_col: str | None = None,
    fixed_iters: int = 10,
    directed: bool = True,
    checkpoint=None,
    resume: bool = False,
    sync_every: int = 1,
) -> DataFrame:
    """Single/multi-source weighted shortest paths — Bellman-Ford supersteps.

    Each superstep relaxes every edge once: dist'(v) = min(dist(v),
    min_{u→v}(dist(u) + w(u, v))) as one gather join + min-aggregate + one
    full-outer pair — the same one-action-per-iteration shape as the PageRank
    driver, lineage truncated via lazy localCheckpoint. After k supersteps
    every distance using ≤ k hops is exact, so ``fixed_iters`` bounds both
    the work and the externally-verifiable semantics (the gate's DuckDB twin
    unrolls the same k relaxations). Converges early when no distance
    improves. Weights must be non-negative (checked against the first
    superstep's min); ``weight_col=None`` means unit weights (= BFS
    distances, cross-checkable against :func:`bfs_levels`).

    ``checkpoint``/``resume``/``sync_every``: a checkpoint manager saves
    (vertex_id, dist) every relaxation, and relaxations batch into one
    Spark job, by the rules of ``plans/superstep.py``. A batch's early exit
    is sound because with w ≥ 0 a zero-improvement round is a fixpoint.

    Returns (vertex_id, dist) for every vertex reached within
    ``fixed_iters`` hops; unreached vertices are absent.
    """
    topo = _weighted_topology(edges, weight_col, directed)
    start, dist = resume_point(checkpoint, resume)
    if dist is None:
        dist = _seeds(sources, vertices, ()).withColumn("dist", F.lit(0.0))
    dist = dist.persist(StorageLevel.MEMORY_AND_DISK)
    if dist.count() == 0:
        dist.unpersist()
        topo.unpersist()
        raise ValueError("source set is empty (or disjoint from vertices)")
    return _bellman_ford(
        topo,
        dist,
        (),
        fixed_iters,
        start=start,
        batch=sync_every,
        checkpoint=checkpoint,
    )


def double_sweep_diameter(
    edges: DataFrame,
    vertices: DataFrame,
    max_depth: int = 10,
) -> DataFrame:
    """Double-sweep diameter lower bound on the undirected graph
    (Magnien/Latapy/Habib's classic heuristic — on real-world graphs the
    bound is usually exact or off by 1).

    Sweep 1: BFS from a deterministic start — the max-undirected-degree
    vertex (ties broken by smallest id); take the farthest reached vertex u
    (ties again by smallest id).  Sweep 2: BFS from u; the eccentricity of u
    is the bound.  Both sweeps are :func:`bfs_levels` runs (distributed,
    level-synchronous); the only driver-side data are TWO single-row argmax
    lookups — bounded metadata, never the frontier.

    ``max_depth`` caps both sweeps, so with a finite cap the result is
    min(true bound, max_depth) — the externally-verifiable fixed-depth
    semantics the gate's DuckDB twin unrolls.  Returns ONE row
    ``(start, far_vertex, diameter_lb)``.  Raises on an empty vertex set.
    """
    und = undirected(edges).filter(F.col("src") != F.col("dst"))
    deg = und.groupBy(F.col("src").alias("vertex_id")).agg(
        F.count("*").alias("deg")
    )
    start_row = (
        vertices.select("vertex_id")
        .join(deg, "vertex_id", "left")
        .select("vertex_id", F.coalesce("deg", F.lit(0)).alias("deg"))
        .orderBy(F.col("deg").desc(), F.col("vertex_id").asc())
        .limit(1)
        .collect()
    )
    if not start_row:
        raise ValueError("empty vertex set")
    start = int(start_row[0]["vertex_id"])
    d1 = bfs_levels(edges, vertices, [start], max_depth=max_depth,
                    directed=False)
    far_row = (
        d1.orderBy(F.col("dist").desc(), F.col("vertex_id").asc())
        .limit(1)
        .collect()
    )
    far = int(far_row[0]["vertex_id"])
    d2 = bfs_levels(edges, vertices, [far], max_depth=max_depth,
                    directed=False)
    spark = edges.sparkSession
    ecc = d2.agg(F.max("dist").alias("diameter_lb")).collect()[0][0]
    return spark.createDataFrame(
        [(start, far, int(ecc))],
        "start long, far_vertex long, diameter_lb long",
    )


def ego_subgraph(
    edges: DataFrame,
    vertices: DataFrame,
    seeds: DataFrame | list[int],
    hops: int = 2,
    directed: bool = False,
) -> tuple[DataFrame, DataFrame]:
    """K-hop ego network around a seed set: the induced subgraph on every
    vertex within ``hops`` of a seed.

    Returns ``(members, induced)``: members = (vertex_id, dist) from
    :func:`bfs_levels` (each kept vertex with its hop distance), induced =
    the distinct edges of the ORIGINAL direction whose both endpoints are
    members — two left-semi joins against the (small, frontier-bounded)
    member set, which Catalyst broadcasts when it fits. This is the subgraph
    a GNN mini-batch or a debugging session extracts around entities of
    interest; reachability reuses the superstep BFS driver (one action per hop,
    lineage-truncated).
    """
    members = bfs_levels(
        edges, vertices, seeds, max_depth=hops, directed=directed
    )
    mem_ids = members.select("vertex_id")
    induced = (
        edges.select("src", "dst")
        .distinct()
        .join(mem_ids.select(F.col("vertex_id").alias("src")), "src", "left_semi")
        .join(mem_ids.select(F.col("vertex_id").alias("dst")), "dst", "left_semi")
        .select("src", "dst")
    )
    return members, induced


def hitting_probability(
    edges: DataFrame,
    vertices: DataFrame,
    targets: DataFrame | list[int],
    steps: int,
) -> DataFrame:
    """Absorbing-random-walk hitting probability: for every vertex, the
    probability a uniform out-edge walk reaches the target set within
    ``steps`` steps (targets absorb: h=1 always; dangling non-targets
    never hit: h=0).

    Recurrence h_i(v) = 1 if v ∈ T else Σ_{(v,u) ∈ E} h_{i-1}(u) / outdeg(v),
    h_0 = [v ∈ T] — the same gather-scatter superstep as PageRank with the
    target rows pinned, so the per-iteration plan is one join on the
    edge destination + one groupBy on the source (shuffles on vertex id,
    AQE-planned). Each state is a lazy localCheckpoint, so the recurrence
    is one action at the end. Returns (vertex_id, hit_prob: double).
    """
    if steps < 0:
        raise ValueError(f"steps must be >= 0, got {steps}")
    tset = (
        _seeds(targets, vertices, ())
        .withColumn("_t", F.lit(1))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    outdeg = edges.groupBy("src").agg(F.count("*").alias("od"))
    topo = edges.select("src", "dst").join(outdeg, "src").persist(
        StorageLevel.MEMORY_AND_DISK
    )
    topo.count()

    def pinned(h: DataFrame) -> DataFrame:
        """Targets at 1.0, every other vertex at ``raw``."""
        return h.join(tset, "vertex_id", "left").select(
            "vertex_id",
            F.when(F.col("_t").isNotNull(), F.lit(1.0))
            .otherwise(F.col("raw"))
            .alias("hit_prob"),
        )

    verts = vertices.select("vertex_id")
    # h_0: exactly the target indicator (join-based; no driver-side id list)
    h = pinned(verts.withColumn("raw", F.lit(0.0)))
    for _ in range(steps):
        h = pinned(
            _gather(topo, h, F.col("hit_prob") / F.col("od"), verts, "dst", "src")
        ).localCheckpoint(eager=False)
    out = h.localCheckpoint(eager=True)
    topo.unpersist()
    tset.unpersist()
    return out
