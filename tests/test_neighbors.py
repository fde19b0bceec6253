"""SAGE-style neighbor aggregation: Arrow kernel vs positional-explode twin
vs dense numpy oracle, for mean/sum/max over both directions."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from halvesting_geometric_spark.operators.neighbors import (
    aggregate_neighbors,
    aggregate_neighbors_positional,
)

DIM = 8


def _fixture(spark, n=25, m=120, seed=3):
    rng = np.random.default_rng(seed)
    pairs = sorted({(int(a), int(b)) for a, b in rng.integers(0, n, size=(m, 2))})
    feats = rng.normal(size=(n, DIM)).round(3)
    edges = spark.createDataFrame(pairs, "src long, dst long")
    fdf = spark.createDataFrame(
        [(i, feats[i].tolist()) for i in range(n)],
        "vertex_id long, features array<double>",
    )
    return edges, fdf, pairs, feats


def _numpy_oracle(pairs, feats, agg, direction):
    nbrs: dict[int, list[int]] = {}
    for a, b in pairs:
        k, o = (a, b) if direction == "in" else (b, a)
        nbrs.setdefault(o, []).append(k)
    out = {}
    for v, srcs in nbrs.items():
        mat = feats[srcs]
        vec = {
            "mean": mat.mean(axis=0),
            "sum": mat.sum(axis=0),
            "max": mat.max(axis=0),
        }[agg]
        out[v] = (len(srcs), vec)
    return out


@pytest.mark.parametrize("agg", ["mean", "sum", "max"])
@pytest.mark.parametrize("direction", ["in", "out"])
def test_aggregate_neighbors_matches_numpy(spark, agg, direction):
    edges, fdf, pairs, feats = _fixture(spark)
    expect = _numpy_oracle(pairs, feats, agg, direction)
    for fn in (aggregate_neighbors, aggregate_neighbors_positional):
        kwargs = {"dim": DIM} if fn is aggregate_neighbors else {}
        got = (
            fn(fdf, edges, agg=agg, direction=direction, **kwargs)
            .toPandas()
            .set_index("vertex_id")
        )
        assert set(got.index) == set(expect), fn.__name__
        for v, (cnt, vec) in expect.items():
            assert got.loc[v, "nbr_count"] == cnt, fn.__name__
            np.testing.assert_allclose(
                np.asarray(got.loc[v, "agg_vec"]), vec, rtol=1e-12,
                err_msg=f"{fn.__name__} {agg} {direction} v={v}",
            )


def test_aggregate_neighbors_hub_is_partition_bounded(spark):
    # star: every vertex points at 0 — the hub's merge input is bounded by
    # the number of partitions, not by its degree. Shrink the Arrow batch so
    # each task sees many batches and the cross-batch reduce is exercised.
    n = 400
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key, "10000")
    spark.conf.set(key, "50")
    try:
        edges = spark.range(1, n).select(
            F.col("id").alias("src"), F.lit(0).alias("dst")
        ).repartition(8)
        fdf = spark.range(n).select(
            F.col("id").alias("vertex_id"),
            F.array_repeat(F.col("id").cast("double"), DIM).alias("features"),
        )
        got = aggregate_neighbors(fdf, edges, dim=DIM).toPandas()
        mx = aggregate_neighbors(fdf, edges, dim=DIM, agg="max").toPandas()
    finally:
        spark.conf.set(key, old)
    assert len(got) == 1 and got.iloc[0]["vertex_id"] == 0
    assert got.iloc[0]["nbr_count"] == n - 1
    np.testing.assert_allclose(
        np.asarray(got.iloc[0]["agg_vec"]),
        np.full(DIM, (1 + n - 1) / 2.0),
    )
    np.testing.assert_allclose(
        np.asarray(mx.iloc[0]["agg_vec"]), np.full(DIM, float(n - 1))
    )


def test_aggregate_neighbors_validates(spark):
    edges = spark.createDataFrame([(0, 1)], "src long, dst long")
    fdf = spark.createDataFrame(
        [(0, [1.0] * DIM)], "vertex_id long, features array<double>"
    )
    with pytest.raises(ValueError, match="agg must be"):
        aggregate_neighbors(fdf, edges, dim=DIM, agg="median")
    with pytest.raises(ValueError, match="direction"):
        aggregate_neighbors(fdf, edges, dim=DIM, direction="both")
    with pytest.raises(Exception, match="feature width"):
        aggregate_neighbors(fdf, edges, dim=DIM + 1).collect()
