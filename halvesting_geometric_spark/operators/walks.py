"""Deterministic random walks (DeepWalk/node2vec-style corpus generation).

The reference trains GNNs on neighbor samples; the sibling classic pipeline
(DeepWalk, node2vec) feeds *walks* to an embedding trainer. This operator
generates them as a relational superstep loop with a seeded hash instead of
an RNG, so walks are reproducible across runs/partitionings AND externally
verifiable: at step t, the walker at vertex v moves to the neighbor with
rank ``hash(walker_id, t, seed) mod outdeg(v)`` in the dst-sorted adjacency.
With ``hash_method="portable"`` an external SQL engine replays the walk
bit-for-bit (the correctness-gate mode; xxhash64 is the fast default).

Scale notes:
- The ranked adjacency is built once (row_number over the per-src window;
  a 10⁸-degree hub ranks in one task — at that scale swap in the two-phase
  offset ranking from `operators/ids.py`, same contract) and cached; each
  step is one join + filter on it, lineage truncated per step.
- Every step shuffles only the walker frontier (|walkers| rows), never the
  edge table.
- Walkers stop silently at sinks (vertices with no out-neighbor): their
  rows simply end at the step where they got stuck.
"""

from __future__ import annotations

from pyspark import StorageLevel
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from halvesting_geometric_spark.operators.graph import _id_frame
from halvesting_geometric_spark.operators.hetero import HeteroGraph
from halvesting_geometric_spark.operators.sampling import hash64


def random_walks(
    edges: DataFrame,
    starts: DataFrame | list[int],
    walk_length: int,
    seed: int = 42,
    hash_method: str = "xxhash64",
) -> DataFrame:
    """Walk ``walk_length`` steps from each start; returns
    (walker_id, step, vertex_id) with step 0 = the start vertex.

    ``starts``: DataFrame with (walker_id, vertex_id) — several walkers may
    share a start vertex — or a list of vertex ids (walker_id = vertex id).
    """
    if walk_length < 0:
        raise ValueError(f"walk_length must be >= 0, got {walk_length}")
    starts = _id_frame(edges.sparkSession, starts, ("walker_id", "vertex_id"))
    adj = (
        edges.select("src", "dst")
        .distinct()
        .withColumn(
            "rank",
            F.row_number().over(
                Window.partitionBy("src").orderBy("dst")
            )
            - 1,
        )
        .withColumn("deg", F.count("*").over(Window.partitionBy("src")))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    adj.count()

    cur = starts.select("walker_id", F.col("vertex_id"))
    out = cur.select("walker_id", F.lit(0).alias("step"), "vertex_id")
    prev_caches: list[DataFrame] = []
    for t in range(1, walk_length + 1):
        pick = F.pmod(
            hash64(hash_method, F.col("walker_id"), F.lit(t), seed=seed),
            F.col("deg"),
        )
        nxt = (
            cur.join(adj, cur["vertex_id"] == adj["src"])
            .filter(F.col("rank") == pick)
            .select("walker_id", F.col("dst").alias("vertex_id"))
            .persist(StorageLevel.MEMORY_AND_DISK)
        )
        n_alive = nxt.count()
        out = out.unionByName(
            nxt.select("walker_id", F.lit(t).alias("step"), "vertex_id")
        ).localCheckpoint(eager=False)
        for p in prev_caches:
            p.unpersist()
        prev_caches = [nxt]
        cur = nxt
        if n_alive == 0:
            break
    out = out.localCheckpoint(eager=True)
    for p in prev_caches:
        p.unpersist()
    adj.unpersist()
    return out


def metapath_walks(
    hg: HeteroGraph,
    metapath: list[str],
    starts: DataFrame | list,
    seed: int = 42,
    hash_method: str = "xxhash64",
) -> DataFrame:
    """Typed walks constrained to a relation sequence (metapath2vec-style
    corpus generation over the reference's heterogeneous model — e.g.
    ``["writes", "cites"]`` walks user → conversation → cited conversation).

    Step t uses relation ``metapath[t-1]``'s edge table; the pick is the
    neighbor ranked ``hash(walker_id, t, seed) mod deg`` in the dst-sorted
    (string-ordered) adjacency — deterministic and, with
    ``hash_method="portable"``, externally replayable. Vertex ids are
    carried as strings so heterogeneous id types compose. Walkers with no
    matching out-edge stop at that step.

    ``starts``: DataFrame (walker_id: string, vertex_id: string) — ids of
    the first relation's source type — or a list of start ids
    (walker_id = str(id)). Returns (walker_id, step, vtype, vertex_id).
    """
    if not metapath:
        raise ValueError("metapath must be non-empty")
    keys = [hg.relation(r)[0] for r in metapath]
    for (k1, k2) in zip(keys, keys[1:]):
        if k1[2] != k2[0]:
            raise ValueError(
                f"metapath breaks: relation {k1[1]!r} ends at {k1[2]!r} but "
                f"{k2[1]!r} starts at {k2[0]!r}"
            )
    starts = _id_frame(
        hg.edges[keys[0]].sparkSession, starts, ("walker_id", "vertex_id"), "string"
    )
    cur = starts.select(
        F.col("walker_id").cast("string").alias("walker_id"),
        F.col("vertex_id").cast("string").alias("vertex_id"),
    )
    out = cur.select(
        "walker_id",
        F.lit(0).cast("long").alias("step"),
        F.lit(keys[0][0]).alias("vtype"),
        "vertex_id",
    )
    prev_caches: list[DataFrame] = []
    for t, key in enumerate(keys, start=1):
        adj = (
            hg.edges[key]
            .select(
                F.col("src").cast("string").alias("src"),
                F.col("dst").cast("string").alias("dst"),
            )
            .distinct()
            .withColumn(
                "rank",
                F.row_number().over(Window.partitionBy("src").orderBy("dst"))
                - 1,
            )
            .withColumn("deg", F.count("*").over(Window.partitionBy("src")))
        )
        pick = F.pmod(
            hash64(hash_method, F.col("walker_id"), F.lit(t), seed=seed),
            F.col("deg"),
        )
        nxt = (
            cur.join(adj, cur["vertex_id"] == adj["src"])
            .filter(F.col("rank") == pick)
            .select("walker_id", F.col("dst").alias("vertex_id"))
            .persist(StorageLevel.MEMORY_AND_DISK)
        )
        n_alive = nxt.count()
        out = out.unionByName(
            nxt.select(
                "walker_id",
                F.lit(t).cast("long").alias("step"),
                F.lit(key[2]).alias("vtype"),
                "vertex_id",
            )
        ).localCheckpoint(eager=True)
        for p in prev_caches:
            p.unpersist()
        prev_caches = [nxt]
        cur = nxt
        if n_alive == 0:
            break
    out = out.localCheckpoint(eager=True)
    for p in prev_caches:
        p.unpersist()
    return out


def node2vec_walks(
    edges: DataFrame,
    starts: DataFrame | list[int],
    walk_length: int,
    p: float = 2.0,
    q: float = 4.0,
    seed: int = 42,
    hash_method: str = "xxhash64",
) -> DataFrame:
    """Second-order biased walks (node2vec; Grover & Leskovec, KDD'16).

    At step t ≥ 2 the walker at v (having come from u) picks neighbor x with
    unnormalized weight α = 1/p if x == u (return), 1 if x is also a
    neighbor of u (BFS-ish), 1/q otherwise (DFS-ish). Step 1 is uniform
    (no previous vertex), matching the standard implementation. Sampling is
    the seeded-hash inverse-CDF over the dst-sorted candidate list:
    τ = (hash(walker, t, seed) mod 2²⁰)/2²⁰ · Σα, pick the first candidate
    whose running Σα exceeds τ. With the default p=2, q=4 every α is an
    exact binary fraction, so the running sums and τ are computed exactly
    in IEEE doubles — the pick is bit-deterministic across engines and the
    DuckDB gate twin replays it with plain window functions.

    Scale notes (same frontier discipline as :func:`random_walks`):
    - per step the join fan-out is Σ outdeg over *frontier* vertices, never
      the edge table; the extra second-order input is one broadcast-or-hash
      join against the (src, dst) set to mark "neighbor of previous".
    - the candidate re-ranking is a per-(walker) window over that fan-out —
      bounded by the frontier's degree sum, hub-capped by the caller's
      start-set size, not by |V|.

    Returns (walker_id, step, vertex_id); walkers stop silently at sinks.
    """
    if walk_length < 0:
        raise ValueError(f"walk_length must be >= 0, got {walk_length}")
    if p <= 0 or q <= 0:
        raise ValueError(f"p and q must be > 0, got p={p} q={q}")
    starts = _id_frame(edges.sparkSession, starts, ("walker_id", "vertex_id"))
    m = 1 << 20  # dyadic hash resolution: τ has ≤20 mantissa bits
    nbr = edges.select("src", "dst").distinct().persist(
        StorageLevel.MEMORY_AND_DISK
    )
    adj = (
        nbr.withColumn(
            "rank",
            F.row_number().over(Window.partitionBy("src").orderBy("dst")) - 1,
        )
        .withColumn("deg", F.count("*").over(Window.partitionBy("src")))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    adj.count()

    out = starts.select(
        "walker_id", F.lit(0).alias("step"), "vertex_id"
    )
    prev_caches: list[DataFrame] = []
    # step 1: uniform hash-rank pick; carry prev for the biased steps
    cur = (
        starts.join(adj, starts["vertex_id"] == adj["src"])
        .filter(
            F.col("rank")
            == F.pmod(
                hash64(hash_method, F.col("walker_id"), F.lit(1), seed=seed),
                F.col("deg"),
            )
        )
        .select(
            "walker_id",
            F.col("dst").alias("vertex_id"),
            F.col("src").alias("prev"),
        )
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    n_alive = cur.count() if walk_length >= 1 else 0
    if walk_length >= 1:
        out = out.unionByName(
            cur.select("walker_id", F.lit(1).alias("step"), "vertex_id")
        )
        prev_caches = [cur]
    for t in range(2, walk_length + 1):
        if n_alive == 0:
            break
        cand = cur.join(
            adj, cur["vertex_id"] == adj["src"]
        ).select(
            "walker_id",
            "prev",
            F.col("src").alias("v"),
            F.col("dst").alias("x"),
        )
        mark = cand.join(
            nbr.select(
                F.col("src").alias("prev"),
                F.col("dst").alias("x"),
                F.lit(True).alias("_nb"),
            ),
            ["prev", "x"],
            "left",
        )
        alpha = (
            F.when(F.col("x") == F.col("prev"), F.lit(1.0 / p))
            .when(F.col("_nb"), F.lit(1.0))
            .otherwise(F.lit(1.0 / q))
        )
        ww = Window.partitionBy("walker_id")
        cum_w = ww.orderBy("x").rowsBetween(
            Window.unboundedPreceding, Window.currentRow
        )
        scored = mark.select(
            "walker_id",
            "v",
            "x",
            F.sum(alpha).over(cum_w).alias("cum"),
            F.sum(alpha).over(ww).alias("tot"),
        ).withColumn(
            "tau",
            F.pmod(
                hash64(hash_method, F.col("walker_id"), F.lit(t), seed=seed),
                F.lit(m),
            ).cast("double")
            / F.lit(float(m))
            * F.col("tot"),
        )
        nxt = (
            scored.filter(F.col("cum") > F.col("tau"))
            .groupBy("walker_id")
            .agg(F.min(F.struct("x", "v")).alias("_pick"))
            .select(
                "walker_id",
                F.col("_pick.x").alias("vertex_id"),
                F.col("_pick.v").alias("prev"),
            )
            .persist(StorageLevel.MEMORY_AND_DISK)
        )
        n_alive = nxt.count()
        out = out.unionByName(
            nxt.select("walker_id", F.lit(t).alias("step"), "vertex_id")
        ).localCheckpoint(eager=False)
        for c in prev_caches:
            c.unpersist()
        prev_caches = [nxt]
        cur = nxt
    out = out.localCheckpoint(eager=True)
    for c in prev_caches:
        c.unpersist()
    adj.unpersist()
    nbr.unpersist()
    return out
