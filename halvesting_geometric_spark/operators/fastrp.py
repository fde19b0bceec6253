"""FastRP graph embeddings: iterated sparse random projection.

Chen, Sui, Perozzi, Skiena, "Fast and Accurate Network Embeddings via Very
Sparse Random Projection" (CIKM'19): embed every vertex as a weighted sum of
degree-normalized adjacency powers applied to a very sparse random projection
matrix,

    E = Σ_k w_k · normalize( (D⁻¹A)^k · R ),   R_{vj} ∈ {+√3, 0, −√3}

(Achlioptas s=3 projection: ±√3 with probability 1/6 each). No training loop,
no gradient — the whole embedding is k rounds of the SAME neighbor-mean
dataflow the engine's SAGE substrate already runs
(:func:`operators.neighbors.aggregate_neighbors`: gather join + Arrow
partial-aggregation kernel, hub-safe map-side combine), which is why it
scales exactly as far as the other supersteps.

Engine-new per ``BASELINE.json`` ``north_rule``: the reference learns
embeddings with a torch GNN
(``/root/reference/halvesting_geometric/modules/sage.py``); FastRP is the
data-side, deterministic, cluster-scale analog producing the same artifact
shape (vertex → array<double>) for the downstream ANN / link-prediction
operators (``similarity.py``, ``linkpred.py``).

Determinism: R is not sampled — R_{vj} is derived from the engine's
selectable 64-bit hash of (vertex_id, j, seed) (``hash_method='xxhash64'``
on the scale path, ``'portable'`` for the cross-engine DuckDB twin), so the
embedding is a pure function of the graph, bit-reproducible across runs and
engines. Per-iteration per-vertex L2 normalization keeps magnitudes
comparable across powers (GDS-style); the final vector is L2-normalized too,
ready for cosine ANN.

Round 5: the inter-power state is e6 FIXED-POINT (array<int>, the engine's
e6 discipline) rather than array<double> — each power's unit vector is
quantized ``floor(x*1e6+0.5)`` before the next gather. Two wins at scale:
(1) the per-power neighbor sums become EXACT integer arithmetic (int
values accumulated in float64 stay ≤ degree*2e6 << 2^53), so the result is
independent of partitioning/summation order — the DuckDB twin replays it
exactly by construction instead of relying on last-ulp luck; (2) int32
halves the bytes through the gather join, the shuffle, and the Arrow
transfer into the kernel (the dominant per-power cost at 40M gathered
rows). The kernel is the mapInArrow
partial-aggregation path (see operators/neighbors.py), merged by its JVM
fold. A second Arrow merge pass used to be selectable and was removed: it
lost the 20M-edge whole-run A/B, 419.4 vs 342.7 s, because it pays a
second Python round trip.

Zero-mass cases are defined: a vertex with no neighbors contributes a zero
vector at every power k ≥ 1 (its final embedding is w_0-weighted projection
only if ``include_self``, else zero); zero-norm vectors stay zero rather than
NaN.
"""

from __future__ import annotations

import math
from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from halvesting_geometric_spark.operators.neighbors import aggregate_neighbors
from halvesting_geometric_spark.operators.sampling import hash64

_SQRT3 = math.sqrt(3.0)
# e6 quantization of ±sqrt(3): the projection cell values in fixed point
_SQRT3_E6 = int(math.floor(_SQRT3 * 1_000_000 + 0.5))  # 1732051


def _l2_normalize_df(
    df: DataFrame, vec_col: str, out_col: str, dim: int, id_col: str
) -> DataFrame:
    """(id, out_col = vec/||vec||₂), norm staged as a column so it is
    computed once per row. For dim ≤ 128 the sum of squares and the output
    array unroll into plain codegen arithmetic (same accumulation order as
    the fold → bit-identical values; interpreted HOFs measured 8.8× slower,
    see functions.unrolled_dot); above that the fold/transform form is kept.
    Zero vectors pass through unchanged."""
    if 1 <= dim <= 128:
        v = F.col(vec_col)
        sq = v[0] * v[0]
        for i in range(1, dim):
            sq = sq + v[i] * v[i]
        staged = df.select(
            id_col, v.alias("_nv"), F.sqrt(sq).alias("_nrm")
        )
        unit = F.array(
            *[F.col("_nv")[i] / F.col("_nrm") for i in range(dim)]
        )
    else:
        staged = df.select(
            id_col,
            F.col(vec_col).alias("_nv"),
            F.sqrt(
                F.aggregate(
                    F.col(vec_col), F.lit(0.0), lambda a, x: a + x * x
                )
            ).alias("_nrm"),
        )
        unit = F.transform(F.col("_nv"), lambda x: x / F.col("_nrm"))
    return staged.select(
        id_col,
        F.when(F.col("_nrm") > 0.0, unit)
        .otherwise(F.col("_nv"))
        .alias(out_col),
    )


def fastrp_projection(
    vertices: DataFrame,
    dim: int,
    seed: int = 42,
    hash_method: str = "xxhash64",
    id_col: str = "vertex_id",
    quantized: bool = False,
) -> DataFrame:
    """The sparse projection R as (vertex_id, features: array<double>),
    or array<int> e6 fixed point with ``quantized=True`` (cells
    ±1732051 / 0 — the inter-power state convention).

    R_{vj} = +√3 / −√3 / 0 for hash(v, j, seed) mod 6 = 0 / 1 / other —
    expectation 0, variance 1/… per Achlioptas s=3; dim hash expressions
    per row, all inside codegen (no Python)."""
    if dim < 1:
        raise ValueError(f"dim must be >= 1, got {dim}")
    if quantized:
        pos, neg, zro = (
            F.lit(_SQRT3_E6).cast("int"),
            F.lit(-_SQRT3_E6).cast("int"),
            F.lit(0).cast("int"),
        )
    else:
        pos, neg, zro = F.lit(_SQRT3), F.lit(-_SQRT3), F.lit(0.0)
    cells = [
        F.when(
            hash64(hash_method, F.col(id_col), F.lit(j), seed=seed) % 6 == 0,
            pos,
        )
        .when(
            hash64(hash_method, F.col(id_col), F.lit(j), seed=seed) % 6 == 1,
            neg,
        )
        .otherwise(zro)
        for j in range(dim)
    ]
    return vertices.select(
        F.col(id_col).alias("vertex_id"), F.array(*cells).alias("features")
    )


def fastrp_embeddings(
    edges: DataFrame,
    vertices: DataFrame,
    dim: int = 8,
    iters: int = 3,
    weights: Sequence[float] | None = None,
    seed: int = 42,
    hash_method: str = "xxhash64",
    symmetrize: bool = True,
) -> DataFrame:
    """FastRP embedding table (vertex_id, embedding: array<double>).

    ``weights``: one weight per adjacency power 1..iters (default all 1.0).
    ``symmetrize``: mean-aggregate over the undirected neighborhood (the
    usual FastRP setting); False keeps in-neighbor direction only.
    """
    if iters < 1:
        raise ValueError(f"iters must be >= 1, got {iters}")
    if weights is None:
        weights = [1.0] * iters
    if len(weights) != iters:
        raise ValueError(
            f"need {iters} weights, got {len(weights)}"
        )
    from pyspark import StorageLevel

    e = edges.select("src", "dst").filter(F.col("src") != F.col("dst"))
    if symmetrize:
        e = e.unionByName(
            e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        ).distinct()
    # every power's (eager-checkpointed) job gathers against e — persist
    # so the symmetrize-distinct shuffle runs once, not once per power
    e = e.persist(StorageLevel.MEMORY_AND_DISK)
    verts = vertices.select("vertex_id").persist(
        StorageLevel.MEMORY_AND_DISK
    )
    # e6 fixed-point state (array<int>): ±1732051 / 0 projection cells
    x = fastrp_projection(
        verts, dim, seed=seed, hash_method=hash_method, quantized=True
    )
    zero = F.array_repeat(F.lit(0.0), dim)

    def _quantize(col):
        if dim <= 128:
            return F.array(
                *[
                    F.floor(col[i] * 1_000_000 + F.lit(0.5)).cast("int")
                    for i in range(dim)
                ]
            )
        return F.transform(
            col,
            lambda v: F.floor(v * 1_000_000 + F.lit(0.5)).cast("int"),
        )

    acc = None
    for k in range(iters):
        # exact integer neighbor sums (int values in float64)
        agg = aggregate_neighbors(
            x,
            e,
            dim,
            feature_col="features",
            agg="mean",
            direction="in",
        )
        # absent vertices (no in-neighbors) are zero vectors at this power
        unit = _l2_normalize_df(
            verts.join(
                agg.select("vertex_id", "agg_vec"), "vertex_id", "left"
            ).select(
                "vertex_id", F.coalesce("agg_vec", zero).alias("_raw")
            ),
            "_raw",
            "_unit",
            dim,
            "vertex_id",
        )
        # re-quantize the unit vector to the e6 state for the next power
        x = unit.select(
            "vertex_id", _quantize(F.col("_unit")).alias("features")
        ).localCheckpoint(eager=True)
        # the accumulator sums w_k * e6-state — exact (small-int * weight
        # products, one add per power, fixed order); the final global
        # normalize cancels the e6 scale
        w = float(weights[k])
        if dim <= 128:
            f = F.col("features")
            scaled = F.array(
                *[f[i].cast("double") * F.lit(w) for i in range(dim)]
            )
        else:
            scaled = F.transform(
                "features", lambda v: v.cast("double") * F.lit(w)
            )
        term = x.select("vertex_id", scaled.alias("_t"))
        if acc is None:
            acc = term
        else:
            if dim <= 128:
                a, b = F.col("_t"), F.col("_t2")
                summed = F.array(*[a[i] + b[i] for i in range(dim)])
            else:
                summed = F.zip_with(
                    "_t", F.col("_t2"), lambda a, b: a + b
                )
            acc = acc.join(term, "vertex_id").select(
                "vertex_id", summed.alias("_t")
            )
        # pre-rename for the next join round
        acc = acc.select("vertex_id", F.col("_t").alias("_t2")).localCheckpoint(
            eager=True
        )
    out = _l2_normalize_df(acc, "_t2", "embedding", dim, "vertex_id")
    # acc is checkpointed — the persisted inputs are no longer needed
    e.unpersist()
    verts.unpersist()
    return out
