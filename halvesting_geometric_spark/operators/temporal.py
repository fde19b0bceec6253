"""Temporal graph analytics: how the citation graph evolves over time.

Engine-new (the reference is a static snapshot pipeline): every extracted
reference carries the turn's event time, so the edge stream is a timeline.
These operators bucket it and answer the monitoring questions a growing
10^12-turn corpus raises — is the reference graph densifying, which
conversations are gaining citations, what does a conversation's
out-degree look like week over week.

All pure DataFrame expressions (``date_trunc`` buckets, one groupBy, one
running-sum window partitioned per source — sort-based, spillable), so
the plans are the same shape as any rollup: partial aggregation map-side,
shuffle once on (vertex, bucket). Deterministic, fully SQL-twinnable.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from halvesting_geometric_spark.functions import extract_refs
from halvesting_geometric_spark.operators.graph import _id_frame


def edge_events(transcripts: DataFrame) -> DataFrame:
    """(src_conv, dst_conv, ts) per reference OCCURRENCE (not deduped) —
    the timestamped edge stream under every temporal rollup."""
    return (
        transcripts.filter(
            F.col("text").isNotNull() & F.col("text").contains("[[ref:")
        ).select(
            F.col("conv_id").alias("src_conv"),
            F.explode(extract_refs(F.col("text"))).alias("dst_conv"),
            F.col("ts"),
        )
    )


def degree_evolution(
    transcripts: DataFrame, bucket: str = "day"
) -> DataFrame:
    """Per (src_conv, time bucket): reference activity and its running total.

    Returns (src_conv, bucket_start, n_refs, n_distinct_dst, cum_refs)
    where ``cum_refs`` is the running sum of ``n_refs`` over the
    conversation's buckets in time order — the conversation's citation
    out-activity curve. ``bucket`` is any ``date_trunc`` unit.
    """
    ev = edge_events(transcripts)
    per_bucket = (
        ev.withColumn("bucket_start", F.date_trunc(bucket, F.col("ts")))
        .groupBy("src_conv", "bucket_start")
        .agg(
            F.count("*").cast("long").alias("n_refs"),
            F.count_distinct("dst_conv").cast("long").alias("n_distinct_dst"),
        )
    )
    w = (
        Window.partitionBy("src_conv")
        .orderBy("bucket_start")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return per_bucket.withColumn(
        "cum_refs", F.sum("n_refs").over(w).cast("long")
    )


def graph_growth(transcripts: DataFrame, bucket: str = "day") -> DataFrame:
    """Whole-graph densification curve: per bucket, new edge occurrences,
    distinct active sources, and the running total of occurrences.
    Returns (bucket_start, n_refs, n_active_src, cum_refs)."""
    ev = edge_events(transcripts)
    per_bucket = (
        ev.withColumn("bucket_start", F.date_trunc(bucket, F.col("ts")))
        .groupBy("bucket_start")
        .agg(
            F.count("*").cast("long").alias("n_refs"),
            F.count_distinct("src_conv").cast("long").alias("n_active_src"),
        )
    )
    w = (
        Window.orderBy("bucket_start")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return per_bucket.withColumn(
        "cum_refs", F.sum("n_refs").over(w).cast("long")
    )


def temporal_triangles(
    ev: DataFrame,
    delta_s: int,
    src: str = "src_conv",
    dst: str = "dst_conv",
    ts: str = "ts",
    max_per_bucket: int | None = 4096,
) -> DataFrame:
    """Count time-respecting triangles within a ``delta_s``-second window.

    The canonical cyclic temporal motif (Paranjape, Benson & Leskovec,
    "Motifs in Temporal Networks", WSDM 2017): event triples
    ``e1: u→v @ t1``, ``e2: v→w @ t2``, ``e3: w→u @ t3`` with
    ``t1 < t2 < t3 <= t1 + delta``. Every event triple counts (edges are
    occurrences, not deduped), matching the published motif semantics.

    Scale path — the static wedge join's hub problem gains a time axis
    here, and the fix is the bucketized band join already proven by
    ``relational.range_join_pair_counts``: each event gets a
    ``floor(t/delta)`` bucket; a partner within ``(t, t+delta]`` lives in
    the same or the next bucket, so probes explode into exactly 2 bucket
    keys and every join is a plain equi-join on (vertex, bucket) — join
    key cardinality is per-vertex *per-window* activity, not lifetime
    degree. Exact time predicates re-filter after the equi-join. All
    time arithmetic is integer microseconds (``unix_micros``), so the
    DuckDB oracle (``epoch_us``) matches exactly.

    ``max_per_bucket`` caps events per join-role key per window
    (deterministic ``row_number`` by (t, src, dst)) so one vertex that is
    hot *within a single window* cannot go quadratic — the same
    safe-by-default posture as ``linkpred.neighborhood_scores``. Counts
    are exact whenever no key exceeds the cap (any realistic window
    size); ``None`` opts into the exact-everywhere join.

    Returns a 1-row DataFrame ``(temporal_triangles,)``.
    """
    delta_us = int(delta_s) * 1_000_000
    e = ev.select(
        F.col(src).alias("u"),
        F.col(dst).alias("v"),
        # cast: parquet TIMESTAMP_NTZ is read as naive; the session pins
        # UTC, so NTZ -> LTZ is identity and unix_micros stays portable
        # with the oracle's epoch_us.
        F.unix_micros(F.col(ts).cast("timestamp")).alias("t"),
    ).withColumn("b", (F.col("t") / delta_us).cast("long"))

    def _cap(df: DataFrame, *keys: str) -> DataFrame:
        if max_per_bucket is None:
            return df
        w = Window.partitionBy(*keys, "b").orderBy("t", "u", "v")
        return (
            df.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") <= max_per_bucket)
            .drop("_rn")
        )

    e1 = _cap(e, "v").select(
        F.col("u").alias("a"),
        F.col("v").alias("m"),
        F.col("t").alias("t1"),
        F.explode(F.array(F.col("b"), F.col("b") + 1)).alias("jb"),
    )
    e2 = _cap(e, "u").select(
        F.col("u").alias("m"),
        F.col("v").alias("w"),
        F.col("t").alias("t2"),
        F.col("b").alias("jb"),
    )
    wedges = e1.join(e2, ["m", "jb"]).filter(
        (F.col("t2") > F.col("t1")) & (F.col("t2") < F.col("t1") + delta_us)
    )
    probes = wedges.select(
        "a",
        "w",
        "t1",
        "t2",
        F.explode(
            F.array(
                (F.col("t1") / delta_us).cast("long"),
                (F.col("t1") / delta_us).cast("long") + 1,
            )
        ).alias("jb"),
    )
    e3 = _cap(e, "u", "v").select(
        F.col("u").alias("w"),
        F.col("v").alias("a"),
        F.col("t").alias("t3"),
        F.col("b").alias("jb"),
    )
    closed = probes.join(e3, ["w", "a", "jb"]).filter(
        (F.col("t3") > F.col("t2")) & (F.col("t3") <= F.col("t1") + delta_us)
    )
    return closed.agg(
        F.count("*").cast("long").alias("temporal_triangles")
    )


def snapshot_diff(
    transcripts: DataFrame,
    t_old,
    t_new,
) -> DataFrame:
    """Edge-set delta between two time cutoffs of the reference graph.

    The graph at time ``t`` is the DISTINCT (src_conv, dst_conv) set over
    edge events with ``ts <= t``. Returns one row per edge that differs:
    (src_conv, dst_conv, status) with status ``'added'`` (present at
    ``t_new``, absent at ``t_old``) or ``'removed'`` (the reverse — empty on
    an append-only stream, kept for generality so the operator also serves
    retraction-bearing sources).

    ``t_old`` / ``t_new``: timestamp literals or Columns (e.g. a computed
    ``min(ts) + INTERVAL`` cutoff). Anti-joins on the two distinct edge
    sets — two shuffles on (src, dst), no window, no collect.
    """
    ev = edge_events(transcripts)
    t_old = F.lit(t_old) if not isinstance(t_old, Column) else t_old
    t_new = F.lit(t_new) if not isinstance(t_new, Column) else t_new
    old = ev.filter(F.col("ts") <= t_old).select("src_conv", "dst_conv").distinct()
    new = ev.filter(F.col("ts") <= t_new).select("src_conv", "dst_conv").distinct()
    added = new.join(old, ["src_conv", "dst_conv"], "left_anti").select(
        "src_conv", "dst_conv", F.lit("added").alias("status")
    )
    removed = old.join(new, ["src_conv", "dst_conv"], "left_anti").select(
        "src_conv", "dst_conv", F.lit("removed").alias("status")
    )
    return added.unionByName(removed)


def temporal_reachability(
    tedges: DataFrame,
    vertices: DataFrame,
    sources: DataFrame | list[int],
    time_col: str = "t",
    start: int = 0,
    max_rounds: int = 64,
    time_buckets: int | None = None,
) -> DataFrame:
    """Earliest-arrival time-respecting reachability over a timestamped
    edge stream (Wu et al., VLDB 2014 single-pass semantics, computed here
    as monotone label-correcting supersteps).

    A time-respecting path traverses edge occurrences (src, dst, t) in
    non-decreasing time: an edge is usable only when ``t >= arrival(src)``.
    ``arrival(v)`` is the minimum timestamp of the last edge on any such
    path from the seed set (seeds start at ``start``). Engine-new — the
    reference's graph is a static snapshot; its edge stream here carries
    per-turn event time (reference ``utils/data/link_prediction_datamodule``
    treats edges as timeless).

    Superstep shape (the audited SSSP/BFS pattern): the frontier is the set
    of vertices whose arrival improved last round; one shuffle join
    frontier→edges on ``src`` keeps occurrences with ``t >= arrival``, one
    min-aggregate on ``dst``, one full-outer merge with the state. A
    non-improved vertex re-relaxes nothing (its usable out-edge set only
    grows when its arrival DROPS), so work is proportional to the improved
    set — hub-safe and lineage-truncated per round. Arrival labels are
    drawn from the finite timestamp set and strictly decrease, so the
    fixpoint exists; raises if ``max_rounds`` supersteps do not reach it
    (the gate's recursive-CTE twin computes the exact fixpoint, so a
    truncated answer must fail loudly, never silently).

    Args: ``tedges`` (src, dst, <time_col>) with integer timestamps (e.g.
    epoch microseconds — keep them integral; the whole state is exact
    BIGINT arithmetic, bit-stable cross-engine). Self-loops are dropped
    (``t >= arrival(v)`` can never improve ``arrival(v)``).

    ``time_buckets``: the web-scale path for adversarial (e.g. uniform
    random) timestamp distributions, adapting Wu et al.'s time-ordered
    single pass to supersteps. Edges are split into that many equi-width
    time bands processed in ASCENDING order, each band label-corrected to
    its own fixpoint before the next opens. Once band b is at fixpoint,
    its edges can never relax again: any later improvement assigns an
    arrival drawn from a band > b, and a band-b edge needs
    ``t >= arrival`` with ``t`` below that band — so the per-band
    correction chains (and hence supersteps) are bounded by the band's
    time width, not by the global cascade. ``max_rounds`` caps each band.
    ``None`` (default) = single global fixpoint, best for naturally
    causal streams (chronological logs) with short correction chains.

    Returns (vertex_id, arrival) for every vertex reachable by a
    time-respecting path; unreached vertices are absent.
    """
    if max_rounds < 1:
        raise ValueError(f"max_rounds must be >= 1, got {max_rounds}")
    if time_buckets is not None and time_buckets < 1:
        raise ValueError(f"time_buckets must be >= 1, got {time_buckets}")
    spark = tedges.sparkSession
    sources = _id_frame(spark, sources)
    n_shuffle = int(spark.conf.get("spark.sql.shuffle.partitions", "200"))
    inf = F.lit(2**62).cast("long")
    topo = (
        tedges.select(
            "src", "dst", F.col(time_col).cast("long").alias("t")
        )
        .filter((F.col("src") != F.col("dst")) & (F.col("t") >= F.lit(int(start))))
        .repartition(n_shuffle, "src")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    topo.count()
    state = (
        sources.select("vertex_id")
        .distinct()
        .join(vertices.select("vertex_id"), "vertex_id", "left_semi")
        .select(
            "vertex_id", F.lit(int(start)).cast("long").alias("arrival")
        )
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    if state.count() == 0:
        raise ValueError("source set is empty (or disjoint from vertices)")
    # time bands: [lo, hi) half-open; (None, None) = all edges, one pass
    bands: list[tuple[int | None, int | None]] = [(None, None)]
    if time_buckets is not None and time_buckets > 1:
        lohi = topo.agg(F.min("t"), F.max("t")).first()
        tmin, tmax = lohi[0], lohi[1]
        if tmin is not None and tmin != tmax:
            width = -((tmin - tmax - 1) // time_buckets)  # ceil(span/B)
            bands = [
                (tmin + i * width, tmin + (i + 1) * width)
                for i in range(time_buckets)
            ]
    prev_caches: list[DataFrame] = [state]
    # deferred checkpoint unpersist: the checkpoint from two rounds back is
    # fully materialized (last round's action forced its successor) and
    # nothing live references it — free its blocks so long correction
    # cascades don't accumulate one checkpointed state table per superstep
    old_ckpts: list[DataFrame] = []
    for lo, hi in bands:
        if lo is None:
            bedges = topo
            frontier = state
        else:
            bedges = topo.filter((F.col("t") >= lo) & (F.col("t") < hi))
            # only a vertex arrived before the band's end can use its edges
            frontier = state.filter(F.col("arrival") < hi)
        converged = False
        for _ in range(max_rounds):
            cand = (
                bedges.join(
                    frontier.select(
                        F.col("vertex_id").alias("src"), "arrival"
                    ),
                    "src",
                )
                .filter(F.col("t") >= F.col("arrival"))
                .groupBy("dst")
                .agg(F.min("t").alias("cand"))
            )
            paired = (
                state.join(
                    cand.select(F.col("dst").alias("vertex_id"), "cand"),
                    "vertex_id",
                    "full_outer",
                )
                .select(
                    "vertex_id",
                    F.least(
                        F.coalesce("arrival", inf), F.coalesce("cand", inf)
                    ).alias("arrival"),
                    (
                        F.col("arrival").isNull()
                        | (F.coalesce("cand", inf) < F.col("arrival"))
                    ).alias("_improved"),
                )
                .persist(StorageLevel.MEMORY_AND_DISK)
            )
            n_improved = paired.filter(F.col("_improved")).count()
            # checkpoint the WHOLE paired row (incl. _improved) and derive
            # both successors from the truncated plan: deriving the frontier
            # from the un-checkpointed `paired` chains every prior round's
            # logical plan through the cand join — measured to grow the
            # plan superlinearly and exhaust the driver heap near ~90
            # supersteps on a 3 GiB heap, even with tiny state
            ckpt = paired.localCheckpoint(eager=False)
            nxt = ckpt.select("vertex_id", "arrival")
            frontier = ckpt.filter(F.col("_improved")).select(
                "vertex_id", "arrival"
            )
            for p in prev_caches:
                p.unpersist()
            prev_caches = [paired]
            old_ckpts.append(ckpt)
            while len(old_ckpts) > 2:
                old_ckpts.pop(0).unpersist()
            state = nxt
            if n_improved == 0:
                converged = True
                break
        if not converged:
            raise RuntimeError(
                f"temporal_reachability did not reach the fixpoint within "
                f"{max_rounds} supersteps"
                + (f" (time band [{lo}, {hi}))" if lo is not None else "")
            )
    out = state.select(
        "vertex_id", F.col("arrival").cast("long").alias("arrival")
    ).localCheckpoint(eager=True)
    for p in prev_caches:
        p.unpersist()
    for c in old_ckpts:
        c.unpersist()
    topo.unpersist()
    return out
