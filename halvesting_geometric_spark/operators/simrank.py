"""SimRank structural similarity (Jeh & Widom, KDD 2002).

"Two objects are similar if they are referenced by similar objects" — the
classic citation-graph similarity measure, so it is a natural member of this
engine's link-graph family (BASELINE.json ``north_rule``: citation edge table
citing_paper → cited_paper). Engine-new: beyond the reference's analytics
surface, same relational-superstep substrate as ``operators/centrality.py``.

In-neighbor formulation on the directed graph, iterated ``k`` times:

    s_0(a,b) = 1{a=b}
    s_t(a,a) = 1
    s_t(a,b) = C / (|I(a)|·|I(b)|) · Σ_{i∈I(a)} Σ_{j∈I(b)} s_{t-1}(i,j)

where I(v) is the in-neighbor set; pairs where either side has no
in-neighbor score 0 and are not emitted. The pair-state is kept sparse and
symmetric-canonical (only a < b rows are stored; the diagonal is implicit),
and each superstep is pure relational algebra:

    expand  = state ∪ swap(state) ∪ {(v,v,1) : outdeg(v) > 0}
    raw     = expand ⋈ edges(a=src) ⋈ edges(b=src)   [kept dst_a < dst_b]
              groupBy (dst_a, dst_b) → Σ s
    state'  = C · raw / (indeg(dst_a) · indeg(dst_b))

Execution shape: the deduplicated (src, dst) topology and the in-degree
table are cached once; every iteration's state is a lazy ``localCheckpoint``
(lineage truncation, no per-iteration driver action — the whole recurrence
materializes in one Spark job at the final action, the same driver-floor
amortization measured for pagerank/katz/hits).

Scale notes — exact SimRank's pair state is the known hazard, not the plan:
- the update fans each stored pair (i, j) out to outdeg(i)·outdeg(j)
  successor pairs before the groupBy re-aggregates; hubs therefore dominate
  cost. ``max_out_degree`` drops edges out of vertices above the cap before
  iterating (documented approximation, exact on bounded-degree graphs).
- ``min_score`` is the standard ε-truncation: pairs below the threshold are
  pruned between supersteps, bounding |state| at a small score cost.
- at true web scale the published approach is Monte-Carlo reverse-walk
  meeting (Fogaras & Rácz, WWW 2005) — implemented as :func:`simrank_mc`
  over the same walk substrate as ``operators/walks.py`` (no pair state at
  all); bounded-k exact mode is the verification anchor (both have
  correctness-gate DuckDB twins).

Deterministic given (k, C) — no RNG anywhere — so an external ANSI-SQL
engine replays it exactly.
"""

from __future__ import annotations

from pyspark import StorageLevel
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from halvesting_geometric_spark.operators.graph import _id_frame

__all__ = ["simrank", "simrank_mc"]


def simrank(
    edges: DataFrame,
    k: int = 2,
    c: float = 0.8,
    min_score: float | None = None,
    max_out_degree: int | None = None,
) -> DataFrame:
    """k-iteration SimRank over the directed (src, dst) edge table.

    Returns (a, b, score) with a < b, one row per pair with score > 0
    after ``k`` iterations (the implicit diagonal s(v,v)=1 is not emitted).
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    if not 0.0 < c <= 1.0:
        raise ValueError(f"c must be in (0, 1], got {c}")
    spark = edges.sparkSession
    n_shuffle = int(spark.conf.get("spark.sql.shuffle.partitions", "200"))

    e = edges.select("src", "dst").where(F.col("src") != F.col("dst")).distinct()
    if max_out_degree is not None:
        keep = (
            e.groupBy("src")
            .agg(F.count("*").alias("od"))
            .where(F.col("od") <= max_out_degree)
            .select("src")
        )
        e = e.join(keep, "src")
    e = e.repartition(n_shuffle, "src").persist(StorageLevel.MEMORY_AND_DISK)
    e.count()
    ind = (
        e.groupBy("dst")
        .agg(F.count("*").alias("ind"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    ind.count()

    diag = (
        e.select(F.col("src").alias("a"))
        .distinct()
        .select("a", F.col("a").alias("b"), F.lit(1.0).alias("s"))
    )
    e1 = e.select(F.col("src").alias("a"), F.col("dst").alias("da"))
    e2 = e.select(F.col("src").alias("b"), F.col("dst").alias("db"))
    ia = ind.select(F.col("dst").alias("da"), F.col("ind").alias("ia"))
    ib = ind.select(F.col("dst").alias("db"), F.col("ind").alias("ib"))

    state: DataFrame | None = None
    for _ in range(k):
        if state is None:
            expand = diag
        else:
            expand = diag.unionByName(state).unionByName(
                state.select(
                    F.col("b").alias("a"), F.col("a").alias("b"), "s"
                )
            )
        raw = (
            expand.join(e1, "a")
            .join(e2, "b")
            .where(F.col("da") < F.col("db"))
            .groupBy("da", "db")
            .agg(F.sum("s").alias("raw"))
        )
        nxt = (
            raw.join(ia, "da")
            .join(ib, "db")
            .select(
                F.col("da").alias("a"),
                F.col("db").alias("b"),
                (F.lit(c) * F.col("raw") / (F.col("ia") * F.col("ib"))).alias(
                    "s"
                ),
            )
        )
        if min_score is not None:
            nxt = nxt.where(F.col("s") >= min_score)
        state = nxt.localCheckpoint(eager=False)

    out = state.select("a", "b", F.col("s").alias("score"))
    out.count()
    e.unpersist()
    ind.unpersist()
    return out


def simrank_mc(
    edges: DataFrame,
    query_vertices: DataFrame | list[int],
    num_walks: int = 8,
    walk_length: int = 3,
    c_num: int = 4,
    c_den: int = 5,
    seed: int = 42,
    hash_method: str = "xxhash64",
) -> DataFrame:
    """Monte-Carlo SimRank (Fogaras & Rácz, WWW 2005) — the web-scale path.

    Runs ``num_walks`` deterministic REVERSE walks of ``walk_length`` steps
    from every query vertex over the same seeded-hash walk substrate as
    :func:`~halvesting_geometric_spark.operators.walks.random_walks`
    (walker ``v·W + rep`` at step t moves to the in-neighbor ranked
    ``hash(walker_id, t, seed) mod indeg``), then estimates

        s(a, b) ≈ (1/W) Σ_rep c^τ(rep),   τ = first step the two walks
                                              occupy the same vertex

    which is unbiased for the k-truncated exact recurrence at
    k = ``walk_length`` (walks from a and b hash independently; a walk
    that dies at an in-degree-0 vertex never meets — exactly the
    recurrence's s=0 at such vertices). Cost is O(|Q|·W·L) walk rows plus
    one meeting self-join — NO pair state, so it holds where
    :func:`simrank`'s exact pair table cannot.

    Determinism: c must be rational, c = ``c_num/c_den`` (default 4/5);
    each meeting contributes the INTEGER c_num^τ · c_den^(L−τ), summed
    exactly (``meet_num``), and ``score`` is the single division
    meet_num / (c_den^L · W) — bit-identical on any engine, and with
    ``hash_method="portable"`` an external SQL engine replays the whole
    estimator (the correctness gate's DuckDB twin does).

    ``query_vertices``: DataFrame with ``vertex_id`` or a list of ids.
    Returns (a, b, meet_num, score) for a < b pairs with ≥1 meeting.
    """
    if num_walks < 1:
        raise ValueError(f"num_walks must be >= 1, got {num_walks}")
    if walk_length < 1:
        raise ValueError(f"walk_length must be >= 1, got {walk_length}")
    if not 0 < c_num < c_den:
        raise ValueError(
            f"need 0 < c_num < c_den, got {c_num}/{c_den}"
        )
    from halvesting_geometric_spark.operators.walks import random_walks

    spark = edges.sparkSession
    query_vertices = _id_frame(spark, query_vertices)
    rev = edges.where(F.col("src") != F.col("dst")).select(
        F.col("dst").alias("src"), F.col("src").alias("dst")
    )
    reps = spark.range(num_walks).select(F.col("id").alias("rep"))
    starts = query_vertices.crossJoin(reps).select(
        (F.col("vertex_id") * num_walks + F.col("rep")).alias("walker_id"),
        "vertex_id",
    )
    walks = random_walks(
        rev, starts, walk_length, seed=seed, hash_method=hash_method
    ).select(
        F.floor(F.col("walker_id") / num_walks).cast("long").alias("qv"),
        F.pmod(F.col("walker_id"), F.lit(num_walks)).alias("rep"),
        "step",
        "vertex_id",
    )
    left = walks.select(
        F.col("qv").alias("a"), "rep", "step", "vertex_id"
    )
    right = walks.select(
        F.col("qv").alias("b"), "rep", "step", "vertex_id"
    )
    tau = (
        left.join(right, ["rep", "step", "vertex_id"])
        .where(F.col("a") < F.col("b"))
        .groupBy("a", "b", "rep")
        .agg(F.min("step").alias("tau"))
    )
    # integer contribution c_num^tau * c_den^(L - tau), exact at any engine
    contrib = F.lit(None).cast("long")
    for t in range(1, walk_length + 1):
        contrib = F.when(
            F.col("tau") == t,
            F.lit(c_num**t * c_den ** (walk_length - t)).cast("long"),
        ).otherwise(contrib)
    den = float(c_den**walk_length * num_walks)
    return (
        tau.where(F.col("tau") >= 1)
        .select("a", "b", contrib.alias("n"))
        .groupBy("a", "b")
        .agg(F.sum("n").alias("meet_num"))
        .select(
            "a",
            "b",
            "meet_num",
            (F.col("meet_num") / F.lit(den)).alias("score"),
        )
    )
