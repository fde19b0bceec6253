"""Multi-source BFS: shortest hop distance from a seed set (engine-new).

Frontier-expansion supersteps on the same substrate as the other iterative
drivers: the cached pure-topology edge table never reshuffles; each level is
one gather join (frontier → neighbors) + one anti join (drop already-visited)
— first discovery is the shortest distance, so no min-recomputation pass is
needed. Lineage truncates per level via lazy localCheckpoint; the frontier
(not the full visited set) drives the join, so per-level work is proportional
to the frontier's edge boundary.
"""

from __future__ import annotations

from pyspark import StorageLevel
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from halvesting_geometric_spark.plans.superstep import (
    resume_point,
    run_supersteps,
)


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
    if max_depth < 0:
        raise ValueError(f"max_depth must be >= 0, got {max_depth}")
    spark = edges.sparkSession
    if isinstance(sources, (list, tuple)):
        sources = spark.createDataFrame(
            [(int(s),) for s in sources], "vertex_id long"
        )
    n_shuffle = int(spark.conf.get("spark.sql.shuffle.partitions", "200"))
    topo = edges.select("src", "dst")
    if not directed:
        topo = topo.unionByName(
            edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
    topo = (
        topo.repartition(n_shuffle, "src").persist(StorageLevel.MEMORY_AND_DISK)
    )
    topo.count()

    # restrict seeds to real vertices so dist rows never leave the graph
    visited = (
        sources.select("vertex_id")
        .distinct()
        .join(vertices.select("vertex_id"), "vertex_id", "left_semi")
        .select("vertex_id", F.lit(0).alias("dist"))
    )
    frontier = visited
    prev_caches: list[DataFrame] = []
    for depth in range(1, max_depth + 1):
        nxt = (
            topo.join(
                frontier.select(F.col("vertex_id").alias("src")), "src", "left_semi"
            )
            .select(F.col("dst").alias("vertex_id"))
            .distinct()
            .join(visited.select("vertex_id"), "vertex_id", "left_anti")
            .select("vertex_id", F.lit(depth).alias("dist"))
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
    out = visited.select("vertex_id", F.col("dist").cast("long").alias("dist"))
    out = out.localCheckpoint(eager=True)
    for p in prev_caches:
        p.unpersist()
    topo.unpersist()
    return out


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
    frontier-anti-join substrate as :func:`bfs_levels`. State is at most
    V×k rows — the explicit, budgetable cost of the oracle.
    """
    if max_depth < 0:
        raise ValueError(f"max_depth must be >= 0, got {max_depth}")
    spark = edges.sparkSession
    if isinstance(landmarks, (list, tuple)):
        landmarks = spark.createDataFrame(
            [(int(s),) for s in landmarks], "vertex_id long"
        )
    n_shuffle = int(spark.conf.get("spark.sql.shuffle.partitions", "200"))
    topo = edges.select("src", "dst")
    if not directed:
        topo = topo.unionByName(
            edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
    topo = (
        topo.repartition(n_shuffle, "src").persist(StorageLevel.MEMORY_AND_DISK)
    )
    topo.count()

    visited = (
        landmarks.select("vertex_id")
        .distinct()
        .join(vertices.select("vertex_id"), "vertex_id", "left_semi")
        .select(
            "vertex_id", F.col("vertex_id").alias("lm"), F.lit(0).alias("dist")
        )
    )
    frontier = visited
    prev_caches: list[DataFrame] = []
    for depth in range(1, max_depth + 1):
        nxt = (
            topo.join(
                frontier.select(F.col("vertex_id").alias("src"), "lm"), "src"
            )
            .select(F.col("dst").alias("vertex_id"), "lm")
            .distinct()
            .join(visited.select("vertex_id", "lm"), ["vertex_id", "lm"], "left_anti")
            .select("vertex_id", "lm", F.lit(depth).alias("dist"))
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
    out = visited.select(
        "vertex_id", "lm", F.col("dist").cast("long").alias("dist")
    )
    out = out.localCheckpoint(eager=True)
    for p in prev_caches:
        p.unpersist()
    topo.unpersist()
    return out


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
    is exact, the same externally-verifiable contract as :func:`sssp`).
    State is at most V×k rows; per-round lineage truncates via lazy
    localCheckpoint. Weights must be non-negative; ``None`` = unit
    weights (then distances equal :func:`landmark_bfs` hop counts).
    Returns (vertex_id, lm, dist double) for reached pairs.
    """
    if fixed_iters < 0:
        raise ValueError(f"fixed_iters must be >= 0, got {fixed_iters}")
    spark = edges.sparkSession
    if isinstance(landmarks, (list, tuple)):
        landmarks = spark.createDataFrame(
            [(int(s),) for s in landmarks], "vertex_id long"
        )
    n_shuffle = int(spark.conf.get("spark.sql.shuffle.partitions", "200"))
    w = (
        F.col(weight_col).cast("double")
        if weight_col is not None
        else F.lit(1.0)
    )
    topo = edges.select("src", "dst", w.alias("w"))
    if not directed:
        topo = topo.unionByName(
            edges.select(
                F.col("dst").alias("src"),
                F.col("src").alias("dst"),
                w.alias("w"),
            )
        )
    topo = topo.repartition(n_shuffle, "src").persist(
        StorageLevel.MEMORY_AND_DISK
    )
    neg = topo.agg(F.min("w").alias("m")).first()["m"]
    if neg is not None and neg < 0:
        raise ValueError(f"negative edge weight {neg}; requires w >= 0")

    dist = (
        landmarks.select("vertex_id")
        .distinct()
        .join(vertices.select("vertex_id"), "vertex_id", "left_semi")
        .select(
            "vertex_id", F.col("vertex_id").alias("lm"),
            F.lit(0.0).alias("dist"),
        )
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    prev = dist
    for _ in range(fixed_iters):
        cand = (
            topo.join(
                dist.select(F.col("vertex_id").alias("src"), "lm", "dist"),
                "src",
            )
            .groupBy(F.col("dst").alias("vertex_id"), "lm")
            .agg(F.min(F.col("dist") + F.col("w")).alias("cand"))
        )
        merged = (
            dist.join(cand, ["vertex_id", "lm"], "full_outer")
            .select(
                "vertex_id",
                "lm",
                F.when(
                    F.col("dist").isNull(), F.col("cand")
                )
                .when(F.col("cand").isNull(), F.col("dist"))
                .otherwise(F.least("dist", "cand"))
                .alias("dist"),
                (
                    F.col("dist").isNull()
                    | (F.col("cand").isNotNull() & (F.col("cand") < F.col("dist")))
                ).cast("long").alias("_imp"),
            )
            .localCheckpoint(eager=False)
            .persist(StorageLevel.MEMORY_AND_DISK)
        )
        improved = merged.agg(F.sum("_imp")).first()[0] or 0
        nxt = merged.drop("_imp")
        prev.unpersist()
        prev = merged
        dist = nxt
        if improved == 0:
            break
    out = dist.localCheckpoint(eager=True)
    prev.unpersist()
    topo.unpersist()
    return out


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
    full-outer pair — the same one-job-per-iteration shape as the PageRank
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
    spark = edges.sparkSession
    if isinstance(sources, (list, tuple)):
        sources = spark.createDataFrame(
            [(int(s),) for s in sources], "vertex_id long"
        )
    n_shuffle = int(spark.conf.get("spark.sql.shuffle.partitions", "200"))
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
        raise ValueError(f"negative edge weight {neg}; sssp requires w >= 0")

    start, dist = resume_point(checkpoint, resume)
    if dist is None:
        dist = (
            sources.select("vertex_id")
            .distinct()
            .join(vertices.select("vertex_id"), "vertex_id", "left_semi")
            .select("vertex_id", F.lit(0.0).alias("dist"))
        )
    dist = dist.persist(StorageLevel.MEMORY_AND_DISK)
    if dist.count() == 0:
        raise ValueError("source set is empty (or disjoint from vertices)")
    def _relax(state_df: DataFrame, _carried: dict | None) -> DataFrame:
        """One lazy relaxation: (vertex_id, dist, _improved)."""
        relaxed = (
            topo.join(
                state_df.select(F.col("vertex_id").alias("src"), "dist"), "src"
            )
            .groupBy("dst")
            .agg(F.min(F.col("dist") + F.col("w")).alias("cand"))
        )
        return state_df.join(
            relaxed.select(F.col("dst").alias("vertex_id"), "cand"),
            "vertex_id",
            "full_outer",
        ).select(
            "vertex_id",
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
            steps=fixed_iters,
            start=start,
            batch=sync_every,
            checkpoint=checkpoint,
        ).result
    finally:
        topo.unpersist()


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
    und = edges.select("src", "dst").unionByName(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).filter(F.col("src") != F.col("dst")).dropDuplicates(["src", "dst"])
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
    interest; reachability reuses the superstep BFS driver (one job per hop,
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
    AQE-planned), with per-round lineage truncation. Returns
    (vertex_id, hit_prob: double).
    """
    if steps < 0:
        raise ValueError(f"steps must be >= 0, got {steps}")
    spark = edges.sparkSession
    if isinstance(targets, (list, tuple)):
        targets = spark.createDataFrame(
            [(int(t),) for t in targets], "vertex_id long"
        )
    tset = (
        targets.select("vertex_id")
        .distinct()
        .join(vertices.select("vertex_id"), "vertex_id", "left_semi")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    outdeg = edges.groupBy("src").agg(F.count("*").alias("od"))
    topo = edges.select("src", "dst").join(outdeg, "src").persist(
        StorageLevel.MEMORY_AND_DISK
    )
    topo.count()
    # h_0: exactly the target indicator (join-based; no driver-side id list)
    h = (
        vertices.select("vertex_id")
        .join(tset.withColumn("_t", F.lit(1)), "vertex_id", "left")
        .select(
            "vertex_id",
            F.when(F.col("_t").isNotNull(), F.lit(1.0))
            .otherwise(F.lit(0.0))
            .alias("hit_prob"),
        )
    )
    prev_cp = None
    for _ in range(steps):
        gathered = (
            topo.join(
                h.select(F.col("vertex_id").alias("dst"), "hit_prob"), "dst"
            )
            .groupBy("src")
            .agg(F.sum(F.col("hit_prob") / F.col("od")).alias("_g"))
        )
        nxt = (
            vertices.select("vertex_id")
            .join(gathered.select(F.col("src").alias("vertex_id"), "_g"),
                  "vertex_id", "left")
            .join(tset.withColumn("_t", F.lit(1)), "vertex_id", "left")
            .select(
                "vertex_id",
                F.when(F.col("_t").isNotNull(), F.lit(1.0))
                .otherwise(F.coalesce(F.col("_g"), F.lit(0.0)))
                .alias("hit_prob"),
            )
        )
        h = nxt.localCheckpoint(eager=True)
        if prev_cp is not None:
            prev_cp.unpersist()
        prev_cp = h
    out = h.select("vertex_id", "hit_prob")
    out = out.localCheckpoint(eager=True)
    topo.unpersist()
    tset.unpersist()
    return out
