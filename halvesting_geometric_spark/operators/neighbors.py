"""SAGE-style neighbor feature aggregation (gather + elementwise agg).

The reference's GNN substrate is exactly this dataflow: ``SAGEConv`` mean-
aggregates neighbor embeddings before the linear update
(``/root/reference/halvesting_geometric/modules/sage.py:53-54``; message
gather over ``edge_index``). Round 1 scoped the *learned* layers out
(SURVEY §2.4) — this operator implements the relational core those layers
sit on: for every destination vertex, the elementwise mean/sum/max of its
in-neighbors' feature vectors.

Scale design — explicit map-side combine, never a per-vertex vector list:

1. gather: ``edges ⋈ features`` on the source id (one shuffle hash join);
2. partial: an Arrow ``mapInArrow`` kernel reduces each partition to one
   (dst, partial_vector, count) row per distinct dst in the partition —
   C-level ``np.add.at`` / ``np.maximum.at`` per Arrow batch, then one
   final reduce across the task's batch results before emitting (so the
   output really is per-*partition*, not per-10k-row Arrow batch);
3. merge: groupBy(dst) over the partials, folded by a JVM
   collect_list/zip_with. The collected list per dst is bounded by the
   number of partitions (NOT by degree), so a 10⁸-degree hub contributes at
   most one partial row per partition — hot vertices cost the same as cold
   ones after phase 2.

The merge has one path. A second Arrow pass over the dst-repartitioned
partials used to be selectable; no workload selected it, and it lost the
20M-edge FastRP A/B (419.4 vs 342.7 s whole run) because it pays a second
Python round trip.

A pure-Catalyst ``positional`` variant (posexplode → groupBy(dst, pos) →
re-assemble) cross-checks the kernel in tests; it shuffles dim× more rows
but stays whole-stage-codegen, which can win for tiny dims.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_AGGS = ("mean", "sum", "max")


def _gather(
    features: DataFrame,
    edges: DataFrame,
    id_col: str,
    feature_col: str,
    direction: str,
) -> DataFrame:
    """(dst, vec): each edge's destination paired with its source's vector.

    ``direction="in"`` aggregates over in-neighbors (messages flow src→dst,
    the GNN convention); ``"out"`` reverses.
    """
    if direction not in ("in", "out"):
        raise ValueError(f"direction must be 'in' or 'out', got {direction!r}")
    key, out = ("src", "dst") if direction == "in" else ("dst", "src")
    return edges.select(
        F.col(key).alias("_k"), F.col(out).alias("dst")
    ).join(
        features.select(
            F.col(id_col).alias("_k"), F.col(feature_col).alias("vec")
        ),
        "_k",
    ).select("dst", "vec")


def aggregate_neighbors(
    features: DataFrame,
    edges: DataFrame,
    dim: int,
    id_col: str = "vertex_id",
    feature_col: str = "features",
    agg: str = "mean",
    direction: str = "in",
    _gathered: DataFrame | None = None,
) -> DataFrame:
    """Elementwise ``agg`` of each vertex's neighbors' feature vectors.

    Returns (vertex_id, nbr_count, agg_vec: array<double>). Vertices with no
    neighbors in the chosen direction are absent. ``dim`` is the fixed vector
    width (validated in the kernel).

    ``_gathered`` (internal): a pre-built (dst, vec) frame to reduce instead
    of gathering from ``features``/``edges`` — lets message-transforming
    operators (:func:`attention_aggregate`'s per-edge softmax scaling) reuse
    the bounded-state partial kernel unchanged.
    """
    if agg not in _AGGS:
        raise ValueError(f"agg must be one of {_AGGS}, got {agg!r}")
    if dim < 1:
        raise ValueError(f"dim must be >= 1, got {dim}")
    gathered = (
        _gathered
        if _gathered is not None
        else _gather(features, edges, id_col, feature_col, direction)
    )
    is_max = agg == "max"

    def _reduce(dst: np.ndarray, mat: np.ndarray, cnt: np.ndarray):
        uniq, inv = np.unique(dst, return_inverse=True)
        if is_max:
            out = np.full((len(uniq), dim), -np.inf)
            np.maximum.at(out, inv, mat)
        else:
            out = np.zeros((len(uniq), dim))
            np.add.at(out, inv, mat)
        total = np.zeros(len(uniq), dtype=np.int64)
        np.add.at(total, inv, cnt)
        return uniq, out, total

    # cap on buffered partial rows before an intermediate re-reduce: bounds
    # executor-Python memory at ~cap·dim float64s even when a partition's
    # dst values are mostly distinct (a plain collect-all-then-reduce would
    # hold the whole partition in the worker)
    _REDUCE_CAP = 262_144

    import pyarrow as pa

    def partial(
        batches: Iterator["pa.RecordBatch"],
    ) -> Iterator["pa.RecordBatch"]:
        """Bounded per-partition reducer over (dst, vec) rows, as a
        ``mapInArrow`` kernel.

        mapInArrow instead of mapInPandas because the pandas conversion
        materializes every list row as its own small ndarray (one Python
        object per row — measured 2.4× the whole kernel stage at 40M
        gathered rows); the Arrow list column's values buffer reshapes
        to the (n, dim) matrix with zero per-row work. The reduction
        itself (np.unique + ufunc.at per batch, same _REDUCE_CAP
        folding cadence) is unchanged, so partial values are
        bit-identical to the previous pandas kernel."""
        acc_dst: list[np.ndarray] = []
        acc_vec: list[np.ndarray] = []
        acc_cnt: list[np.ndarray] = []
        acc_rows = 0
        dst_type = None

        def fold() -> tuple[np.ndarray, np.ndarray, np.ndarray]:
            return _reduce(
                np.concatenate(acc_dst),
                np.vstack(acc_vec),
                np.concatenate(acc_cnt),
            )

        for b in batches:
            if b.num_rows == 0:
                continue
            dcol = b.column("dst")
            dst_type = dcol.type
            dst = dcol.to_numpy(zero_copy_only=False)
            vcol = b.column("vec")
            if vcol.null_count:
                raise ValueError("null feature vector in gather")
            flat = vcol.flatten()
            # element nulls inside a list would silently become NaN in
            # the to_numpy() below — fail fast like the null-vector and
            # width checks
            if flat.null_count:
                raise ValueError("null element inside feature vector")
            widths = pa.compute.list_value_length(vcol).to_numpy(
                zero_copy_only=False
            )
            bad = widths[widths != dim]
            if len(bad):
                raise ValueError(
                    f"feature width {int(bad[0])} != dim={dim}"
                )
            # flatten() honors the batch's slice; one reshape, no
            # per-row objects
            mat = (
                flat.to_numpy(zero_copy_only=False)
                .astype(np.float64, copy=False)
                .reshape(-1, dim)
            )
            uniq, out, cnt = _reduce(dst, mat, np.ones(len(dst), dtype=np.int64))
            acc_dst.append(uniq)
            acc_vec.append(out)
            acc_cnt.append(cnt)
            acc_rows += len(uniq)
            if acc_rows > _REDUCE_CAP:
                uniq, out, cnt = fold()
                acc_dst, acc_vec, acc_cnt = [uniq], [out], [cnt]
                acc_rows = len(uniq)
        if not acc_dst:
            return
        # final reduce across the task's batches: one partial row per
        # distinct dst in the PARTITION — a hub emits #partitions rows
        # total
        uniq, out, cnt = fold()
        n = len(uniq)
        # offsets must stay inside int32 for a plain ListArray; with the
        # _REDUCE_CAP row bound this only trips for very wide vectors
        # (dim >= ~8200), where silent int32 wraparound would corrupt
        # the list offsets — fail fast instead
        if n * dim >= 2**31:
            raise ValueError(
                f"partial batch too wide for int32 list offsets: "
                f"{n} rows x dim={dim}"
            )
        offsets = pa.array(
            (np.arange(n + 1, dtype=np.int64) * dim).astype(np.int32)
        )
        pvec = pa.ListArray.from_arrays(
            offsets, pa.array(out.ravel(), type=pa.float64())
        )
        yield pa.RecordBatch.from_arrays(
            [
                pa.array(uniq, type=dst_type),
                pvec,
                pa.array(cnt, type=pa.int64()),
            ],
            names=["dst", "pvec", "cnt"],
        )

    # dst keeps the id column's own type (long vertex ids, or string ids in
    # typed/hetero graphs) — np.unique and the groupBy merge are type-agnostic
    _dst_t = gathered.schema["dst"].dataType.simpleString()
    _schema = f"dst {_dst_t}, pvec array<double>, cnt long"
    partials = gathered.mapInArrow(partial, _schema)
    zero = (
        F.array_repeat(F.lit(float("-inf")), dim)
        if is_max
        else F.array_repeat(F.lit(0.0), dim)
    )
    combine = (
        (lambda acc, v: F.zip_with(acc, v, lambda a, b: F.greatest(a, b)))
        if is_max
        else (lambda acc, v: F.zip_with(acc, v, lambda a, b: a + b))
    )
    merged = partials.groupBy("dst").agg(
        F.aggregate(F.collect_list("pvec"), zero, combine).alias("_acc"),
        F.sum("cnt").alias("nbr_count"),
    )
    if agg == "mean":
        vec = F.transform(F.col("_acc"), lambda x: x / F.col("nbr_count"))
    else:
        vec = F.col("_acc")
    return merged.select(
        F.col("dst").alias("vertex_id"),
        F.col("nbr_count").cast("long").alias("nbr_count"),
        vec.alias("agg_vec"),
    )


def aggregate_neighbors_positional(
    features: DataFrame,
    edges: DataFrame,
    id_col: str = "vertex_id",
    feature_col: str = "features",
    agg: str = "mean",
    direction: str = "in",
) -> DataFrame:
    """Pure-Catalyst twin of :func:`aggregate_neighbors`: posexplode each
    gathered vector, aggregate per (dst, position), re-assemble ordered by
    position. dim× the shuffle rows, zero Python — used to cross-check the
    Arrow kernel and as the fallback where Arrow is unavailable."""
    if agg not in _AGGS:
        raise ValueError(f"agg must be one of {_AGGS}, got {agg!r}")
    gathered = _gather(features, edges, id_col, feature_col, direction)
    per_dim = (
        gathered.select("dst", F.posexplode("vec").alias("pos", "val"))
        .groupBy("dst", "pos")
        .agg(
            (
                F.max("val")
                if agg == "max"
                else F.sum("val")
            ).alias("v"),
            F.count("*").alias("c"),
        )
    )
    if agg == "mean":
        per_dim = per_dim.withColumn("v", F.col("v") / F.col("c"))
    return (
        per_dim.groupBy("dst")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "v"))),
                lambda s: s["v"],
            ).alias("agg_vec"),
            F.max("c").alias("nbr_count"),
        )
        .select(
            F.col("dst").alias("vertex_id"),
            F.col("nbr_count").cast("long").alias("nbr_count"),
            "agg_vec",
        )
    )


def attention_aggregate(
    features: DataFrame,
    edges: DataFrame,
    dim: int,
    id_col: str = "vertex_id",
    feature_col: str = "features",
    direction: str = "in",
    scale: bool = True,
) -> DataFrame:
    """Softmax attention-weighted neighbor aggregation — the GAT-style
    substrate (Veličković et al. ICLR'18) with the untrained identity
    projection, completing the A6 attention row of SURVEY §2 (the reference's
    ``GATConv`` path in ``modules/gat.py``) the same way
    :func:`aggregate_neighbors` completes the SAGE row:

        score(u→v) = <x_u, x_v>            (· dim^-1/2 when ``scale``)
        alpha(u→v) = softmax over v's in-edges, max-stabilized
        out(v)     = Σ_u alpha(u→v) · x_u

    The attention weights are pure Catalyst scalar expressions — the dot
    product via ``zip_with``+``aggregate``, the stabilizing max and the
    partition function as two per-dst hash aggregates — so everything up to
    the final vector reduction is whole-stage-codegen.  The weighted sum of
    the alpha-scaled message vectors then reuses :func:`aggregate_neighbors`'
    Arrow partial kernel (``agg="sum"``), keeping per-executor state bounded
    by distinct dst per partition, never by degree — a 10⁸-degree hub costs
    one partial row per partition, exactly as in the mean/sum/max path.

    Scale shape: the dim-wide vectors appear in exactly two places — the
    initial scoring join (both endpoints' vectors are needed for the dot
    product, then immediately projected down to the scalar score) and the
    final per-edge scaling (one gather join on the source id).  Everything
    between — the stabilizing max, the exp, the partition function, the
    normalization — flows through 3-column scalar frames, so the softmax
    machinery shuffles ~24 bytes/edge instead of ~8·dim.  The scores frame
    (the one multi-consumer intermediate) is lazily ``localCheckpoint``-ed
    so the wide scoring join runs once, not once per consumer.

    The dot product is **unrolled** into ``x[0]·y[0] + … + x[d-1]·y[d-1]``
    when ``dim <= 128``: a higher-order ``aggregate`` fold is interpreted
    with per-element boxing (measured 277 s vs 31 s unrolled for the same
    20 M×32 scoring pass — an 8.8× penalty), while the unrolled ``getItem``
    arithmetic stays inside whole-stage codegen.  Above 128 dims the
    expression tree would strain codegen limits, so the fold is kept.  The
    per-edge normalization is likewise hoisted: ``alpha = w/z`` is computed
    once per edge as a scalar, not re-derived inside the per-element
    ``transform`` lambda.

    Deterministic up to float summation order; the correctness gate rounds
    to e4 fixed-point, which absorbs both the cross-engine ``exp`` ulp and
    the order-dependence of the double sums (same argument as the pagerank
    and hits gates).  Returns (vertex_id, nbr_count, agg_vec).
    """
    if dim < 1:
        raise ValueError(f"dim must be >= 1, got {dim}")
    if direction not in ("in", "out"):
        raise ValueError(f"direction must be 'in' or 'out', got {direction!r}")
    key, out = ("src", "dst") if direction == "in" else ("dst", "src")
    e = edges.select(F.col(key).alias("_u"), F.col(out).alias("dst"))
    fu = features.select(
        F.col(id_col).alias("_u"), F.col(feature_col).alias("_xu")
    )
    fv = features.select(
        F.col(id_col).alias("dst"), F.col(feature_col).alias("_xv")
    )
    if dim <= 128:
        xu, xv = F.col("_xu"), F.col("_xv")
        dot = xu[0] * xv[0]
        for i in range(1, dim):
            dot = dot + xu[i] * xv[i]
    else:
        dot = F.aggregate(
            F.zip_with("_xu", "_xv", lambda a, b: a * b),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    if scale:
        dot = dot / float(dim) ** 0.5
    # score once, project the wide vectors away immediately: (_u, dst, _s)
    # is ~24 B/edge through every following shuffle. Lazy localCheckpoint
    # cuts lineage so the two consumers (max branch, stats branch, final
    # gather) share one materialization instead of re-running the wide join.
    scores = (
        e.join(fu, "_u").join(fv, "dst")
        .select("_u", "dst", dot.alias("_s"))
        .localCheckpoint(eager=False)
    )
    mx = scores.groupBy("dst").agg(F.max("_s").alias("_mx"))
    # one narrow pass builds BOTH per-dst softmax stats: the stabilizing
    # max rides along the partition-function aggregate, so no second
    # checkpoint and no second scan of the exp-weights is needed
    stats = (
        scores.join(mx, "dst")
        .groupBy("dst")
        .agg(
            F.sum(F.exp(F.col("_s") - F.col("_mx"))).alias("_z"),
            F.max("_mx").alias("_mx"),
        )
    )
    # the only other wide join: one gather of x_u per edge, pre-normalized —
    # alpha is one scalar division per EDGE, outside the per-element lambda
    gathered = (
        scores.join(stats, "dst")
        .select(
            "_u",
            "dst",
            (F.exp(F.col("_s") - F.col("_mx")) / F.col("_z")).alias("_a"),
        )
        .join(fu, "_u")
        .select(
            "dst",
            F.transform("_xu", lambda x: x * F.col("_a")).alias("vec"),
        )
    )
    return aggregate_neighbors(
        features, edges, dim, id_col, feature_col,
        agg="sum", direction=direction, _gathered=gathered,
    )


def gated_aggregate(
    features: DataFrame,
    edges: DataFrame,
    dim: int,
    id_col: str = "vertex_id",
    feature_col: str = "features",
    direction: str = "in",
) -> DataFrame:
    """Residual gated neighbor aggregation — the ``ResGatedGraphConv``
    substrate (Bresson & Laurent 2017; the reference's RGGC model,
    ``/root/reference/halvesting_geometric/modules/rggc.py:8,31-35``) with
    untrained identity weights, closing SURVEY §2's A7 gated-aggregate row:

        gate(u→v) = σ(x_u + x_v)            (elementwise sigmoid)
        out(v)    = x_v + Σ_u gate(u→v) ⊙ x_u   (residual + gated sum)

    The per-edge gated message is pure Catalyst (``zip_with`` with an inline
    sigmoid); the sum reduction reuses :func:`aggregate_neighbors`' Arrow
    partial kernel via ``_gathered`` exactly like :func:`attention_aggregate`
    — bounded executor state, hub-proof. Returns (vertex_id, nbr_count,
    agg_vec); vertices with no in-neighbors are absent (consistent with the
    other aggregates — the pure-residual row carries no relational signal).
    """
    if dim < 1:
        raise ValueError(f"dim must be >= 1, got {dim}")
    if direction not in ("in", "out"):
        raise ValueError(f"direction must be 'in' or 'out', got {direction!r}")
    key, out = ("src", "dst") if direction == "in" else ("dst", "src")
    e = edges.select(F.col(key).alias("_u"), F.col(out).alias("dst"))
    fu = features.select(
        F.col(id_col).alias("_u"), F.col(feature_col).alias("_xu")
    )
    fv = features.select(
        F.col(id_col).alias("dst"), F.col(feature_col).alias("_xv")
    )
    gated = F.zip_with(
        "_xu", "_xv", lambda u, v: u / (F.lit(1.0) + F.exp(-(u + v)))
    )
    gathered = (
        e.join(fu, "_u").join(fv, "dst").select("dst", gated.alias("vec"))
    )
    summed = aggregate_neighbors(
        features, edges, dim, id_col, feature_col,
        agg="sum", direction=direction, _gathered=gathered,
    )
    return (
        summed.join(
            features.select(
                F.col(id_col).alias("vertex_id"),
                F.col(feature_col).alias("_res"),
            ),
            "vertex_id",
        )
        .select(
            "vertex_id",
            "nbr_count",
            F.zip_with("agg_vec", "_res", lambda a, r: a + r).alias("agg_vec"),
        )
    )
