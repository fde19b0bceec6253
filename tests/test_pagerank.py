"""PageRank vs closed-form graphs + numpy oracle (FIXTURES.md §3-4)."""

from __future__ import annotations

import numpy as np
from pyspark.sql import functions as F

from halvesting_geometric_spark.datagen import generate_transcripts
from halvesting_geometric_spark.operators.graph import build_graph
from halvesting_geometric_spark.operators.pagerank import pagerank
from tests.oracles import pagerank_oracle


def _edges_df(spark, edges):
    return spark.createDataFrame(
        [(int(s), int(d)) for s, d in edges], "src long, dst long"
    )


def _verts_df(spark, n):
    return spark.range(n).select(F.col("id").alias("vertex_id"))


def _ranks_array(result, n):
    pdf = result.ranks.toPandas().sort_values("vertex_id")
    arr = np.zeros(n)
    arr[pdf["vertex_id"].to_numpy()] = pdf["rank"].to_numpy()
    return arr


def test_pagerank_ring_uniform(spark):
    n = 5
    ring = [(i, (i + 1) % n) for i in range(n)]
    res = pagerank(_edges_df(spark, ring), _verts_df(spark, n), tol=1e-9)
    arr = _ranks_array(res, n)
    assert res.converged
    assert np.allclose(arr, 1.0 / n, atol=1e-6)
    assert abs(arr.sum() - 1.0) < 1e-9


def test_pagerank_star_with_dangling(spark):
    # leaves → hub; hub is dangling (out-degree 0) → mass redistribution path
    n = 11
    star = [(i, 0) for i in range(1, n)]
    res = pagerank(_edges_df(spark, star), _verts_df(spark, n), tol=1e-8)
    arr = _ranks_array(res, n)
    exp = pagerank_oracle(np.array(star), n, tol=1e-8)
    assert np.allclose(arr, exp, atol=1e-6)
    assert abs(arr.sum() - 1.0) < 1e-6
    assert arr[0] > arr[1]


def test_pagerank_empty_edge_graph_uniform(spark):
    n = 10
    empty = spark.createDataFrame([], "src long, dst long")
    res = pagerank(empty, _verts_df(spark, n), tol=1e-9, max_iter=5)
    arr = _ranks_array(res, n)
    assert np.allclose(arr, 1.0 / n, atol=1e-9)


def test_pagerank_extracted_graph_vs_oracle(spark):
    tr = generate_transcripts(spark, 80, seed=3)
    g = build_graph(tr)
    edges_pd = g.edges.toPandas().to_numpy()
    n = g.num_vertices()
    res = pagerank(g.edges, g.vertices, tol=1e-6)
    arr = _ranks_array(res, n)
    exp = pagerank_oracle(edges_pd, n, tol=1e-6)
    assert res.converged
    assert np.allclose(arr, exp, atol=1e-6)


def test_pagerank_batched_delta_check_matches_per_iteration(spark):
    """delta_check_every > 1 batches supersteps into one job via in-plan
    dangling aggregates — the fixpoint and intermediate math must match
    the per-iteration path to fp-roundoff."""
    g = build_graph(generate_transcripts(spark, 120, seed=7))
    a = pagerank(g.edges, g.vertices, fixed_iters=7)
    b = pagerank(g.edges, g.vertices, fixed_iters=7, delta_check_every=3)
    n = a.num_vertices
    assert b.iterations == 7
    # batch sizes: 3 + 3 + 1
    assert [m["batched_steps"] for m in b.metrics] == [3, 3, 1]
    ra, rb = _ranks_array(a, n * 2), _ranks_array(b, n * 2)
    assert np.allclose(ra, rb, atol=1e-13, rtol=0)
    # tol mode: same fixpoint, convergence may overshoot by < batch
    c = pagerank(g.edges, g.vertices, tol=1e-8, max_iter=100)
    d = pagerank(
        g.edges, g.vertices, tol=1e-8, max_iter=100, delta_check_every=4
    )
    assert c.converged and d.converged
    assert c.iterations <= d.iterations < c.iterations + 4
    rc, rd = _ranks_array(c, n * 2), _ranks_array(d, n * 2)
    assert np.allclose(rc, rd, atol=1e-9, rtol=0)
    assert abs(rd.sum() - 1.0) < 1e-9


def test_pagerank_delta_check_every_validation(spark):
    g = build_graph(generate_transcripts(spark, 30, seed=7))
    import pytest as _pt

    with _pt.raises(ValueError):
        pagerank(g.edges, g.vertices, fixed_iters=1, delta_check_every=0)
    with _pt.raises(ValueError):
        pagerank(g.edges, g.vertices, fixed_iters=1, delta_check_every=9)
