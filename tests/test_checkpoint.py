"""Resume/lineage semantics (SURVEY.md §5.2 items 4-5) + partition invariance."""

from __future__ import annotations

import json

import numpy as np
import pytest
from pyspark.sql import functions as F

from halvesting_geometric_spark.datagen import (
    generate_power_law_edges,
    generate_transcripts,
)
from halvesting_geometric_spark.operators.components import connected_components
from halvesting_geometric_spark.operators.graph import PropertyGraph, build_graph
from halvesting_geometric_spark.operators.labelprop import label_propagation
from halvesting_geometric_spark.operators.pagerank import pagerank
from halvesting_geometric_spark.operators.traversal import sssp
from halvesting_geometric_spark.plans.checkpoint import CheckpointManager


def _ranks(res, n):
    pdf = res.ranks.toPandas().sort_values("vertex_id")
    arr = np.zeros(n)
    arr[pdf["vertex_id"].to_numpy()] = pdf["rank"].to_numpy()
    return arr


def _cache_entries(spark) -> int:
    return spark._jsparkSession.sharedState().cacheManager().cachedData().size()


# Each driver as (run(graph, steps, **checkpoint kwargs) -> (result, value
# column, iterations or None), interrupted steps, full steps, observed metric
# keys, whether its state holds one row per vertex).
def _pagerank(g, steps, **kw):
    res = pagerank(g.edges, g.vertices, tol=1e-4, max_iter=steps, **kw)
    return res.ranks, "rank", res.iterations


def _labelprop(g, steps, **kw):
    res = label_propagation(g.edges, g.vertices, fixed_iters=steps, **kw)
    return res.labels, "label", res.iterations


def _components(g, steps, **kw):
    res = connected_components(g.edges, g.vertices, max_rounds=steps, **kw)
    return res.components, "component", res.rounds


def _sssp(g, steps, **kw):
    we = g.edges.withColumn(
        "w", ((F.col("src") + F.col("dst")) % 5 + 1).cast("double")
    )
    dist = sssp(we, g.vertices, [0, 1], weight_col="w", fixed_iters=steps, **kw)
    return dist, "dist", None


RESUMABLE = {
    "pagerank": (_pagerank, 4, 100, {"delta_l1", "delta_linf"}, True),
    "labelprop": (_labelprop, 2, 4, {"changed"}, True),
    "components": (_components, 1, 50, {"edges", "signature"}, False),
    "sssp": (_sssp, 3, 8, {"n_improved"}, False),
}


@pytest.fixture(scope="module")
def graph(spark):
    # pinned, so the twelve driver calls below do not each re-extract it
    g = build_graph(generate_transcripts(spark, 60, seed=8))
    return PropertyGraph(g.vertices.localCheckpoint(), g.edges.localCheckpoint())


@pytest.mark.parametrize("name", sorted(RESUMABLE))
def test_kill_resume_equals_full(spark, graph, tmp_path, name):
    """A run killed after a few supersteps and resumed from its checkpoint
    ends where an uninterrupted run ends; every superstep is saved, numbered
    from 0, with its metrics row; and each call leaves only its returned
    result in the session's cache."""
    run, killed_at, steps, keys, per_vertex = RESUMABLE[name]
    ck = CheckpointManager(spark, str(tmp_path), name)

    def checked_run(*args, **kw):
        before = _cache_entries(spark)
        df, col, iterations = run(graph, *args, **kw)
        assert _cache_entries(spark) == before + df.is_cached
        pdf = df.toPandas().sort_values("vertex_id")
        df.unpersist()
        return pdf, col, iterations

    _, _, iterations = checked_run(killed_at, checkpoint=ck)  # "dies"
    assert ck.latest_iteration() == killed_at - 1
    assert iterations in (None, killed_at)
    resumed, col, iterations = checked_run(steps, checkpoint=ck, resume=True)
    if iterations is not None:
        assert ck.latest_iteration() == iterations - 1
    full, _, _ = checked_run(steps)
    assert resumed["vertex_id"].tolist() == full["vertex_id"].tolist()
    assert np.allclose(resumed[col], full[col], atol=1e-9, rtol=0)

    latest = ck.latest_iteration()
    # lineage has one row per partition per checkpointed iteration
    lin = ck.lineage_table().toPandas()
    assert set(lin.columns) >= {"partition_id", "rows", "checksum", "iteration"}
    rows = lin.groupby("iteration")["rows"].sum()
    assert rows.index.tolist() == list(range(latest + 1))
    if per_vertex:
        assert rows.eq(graph.num_vertices()).all()
    # metrics json is parseable and carries each superstep's observation
    rows_json = [
        json.loads(m) for m in ck.metrics().toPandas()["metrics_json"]
    ]
    assert sorted(r["iteration"] for r in rows_json) == list(range(latest + 1))
    for r in rows_json:
        assert r.keys() >= keys | {"batched_steps", "wall_sec"}


def test_results_invariant_to_shuffle_partitions(spark):
    """north-rule invariance: identical results across partition configs."""
    base = None
    for parts in ("2", "4", "8"):
        spark.conf.set("spark.sql.shuffle.partitions", parts)
        try:
            g = build_graph(generate_transcripts(spark, 50, seed=6))
            res = pagerank(g.edges, g.vertices, fixed_iters=6)
            arr = _ranks(res, g.num_vertices())
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", "4")
        if base is None:
            base = arr
        else:
            assert np.allclose(arr, base, atol=1e-12)


def test_power_law_edge_generator_deterministic_and_skewed(spark):
    e1 = generate_power_law_edges(spark, 1000, 20000, partitions=4).toPandas()
    e2 = generate_power_law_edges(spark, 1000, 20000, partitions=9).toPandas()
    s1 = sorted(map(tuple, e1.to_numpy()))
    assert s1 == sorted(map(tuple, e2.to_numpy()))
    assert e1["src"].between(0, 999).all() and e1["dst"].between(0, 999).all()
    counts = e1.groupby("dst").size().sort_values(ascending=False)
    # power-law: the hottest destination holds a big share; tail is long
    assert counts.iloc[0] > 20 * counts.median()
