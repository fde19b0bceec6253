"""Semantic oracles for personalized PageRank, HITS, and k-core.

Each operator is cross-checked against a dense numpy / pure-python
re-implementation on a seeded random graph — independent of both the Spark
dataflow and the DuckDB gate twins.
"""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from halvesting_geometric_spark.operators.centrality import (
    eigenvector_centrality,
    hits,
    katz_centrality,
    personalized_pagerank,
    salsa,
)
from halvesting_geometric_spark.operators.kcore import kcore_members
from halvesting_geometric_spark.operators.traversal import (
    bfs_levels,
    hitting_probability,
    landmark_bfs,
    landmark_sssp,
    sssp,
)


def _random_graph(spark, n=40, m=160, seed=11):
    rng = np.random.default_rng(seed)
    pairs = {(int(a), int(b)) for a, b in rng.integers(0, n, size=(m, 2))}
    edges = spark.createDataFrame(sorted(pairs), "src long, dst long")
    verts = spark.range(n).select(F.col("id").alias("vertex_id"))
    return edges, verts, sorted(pairs), n


def test_personalized_pagerank_matches_numpy(spark):
    edges, verts, pairs, n = _random_graph(spark)
    seeds = [0, 1, 2]
    got = (
        personalized_pagerank(edges, verts, seeds, damping=0.85, fixed_iters=8)
        .toPandas()
        .sort_values("vertex_id")["rank"]
        .to_numpy()
    )
    # dense reference
    outdeg = np.zeros(n)
    for a, _ in pairs:
        outdeg[a] += 1
    r = np.zeros(n)
    r[seeds] = 1.0 / len(seeds)
    for _ in range(8):
        msg = np.zeros(n)
        for a, b in pairs:
            msg[b] += r[a] / outdeg[a]
        dangling = r[outdeg == 0].sum()
        nxt = 0.85 * msg
        nxt[seeds] += (0.15 + 0.85 * dangling) / len(seeds)
        r = nxt
    np.testing.assert_allclose(got, r, atol=1e-12)
    assert abs(got.sum() - 1.0) < 1e-9  # mass conservation
    # teleport personalization: zero-in-degree non-seeds hold zero mass
    indeg = np.zeros(n)
    for _, b in pairs:
        indeg[b] += 1
    for v in range(n):
        if indeg[v] == 0 and v not in seeds:
            assert got[v] == 0.0


def test_personalized_pagerank_empty_seeds_raises(spark):
    edges, verts, _, _ = _random_graph(spark)
    with pytest.raises(ValueError):
        personalized_pagerank(edges, verts, [])


def test_hits_matches_numpy(spark):
    edges, verts, pairs, n = _random_graph(spark, seed=12)
    got = hits(edges, verts, fixed_iters=5).toPandas().sort_values("vertex_id")
    h = np.full(n, 1.0 / n)
    for _ in range(5):
        a = np.zeros(n)
        for x, y in pairs:
            a[y] += h[x]
        a /= a.sum()
        h = np.zeros(n)
        for x, y in pairs:
            h[x] += a[y]
        h /= h.sum()
    np.testing.assert_allclose(got["hub"].to_numpy(), h, atol=1e-12)
    np.testing.assert_allclose(got["auth"].to_numpy(), a, atol=1e-12)


def test_kcore_matches_python_peeling(spark):
    edges, verts, pairs, n = _random_graph(spark, seed=13)
    got = kcore_members(edges, verts, k=3).toPandas()
    # pure-python peeling oracle on the symmetrized simple graph
    nbrs: dict[int, set[int]] = {v: set() for v in range(n)}
    for a, b in pairs:
        if a != b:
            nbrs[a].add(b)
            nbrs[b].add(a)
    alive = set(range(n))
    while True:
        drop = {v for v in alive if len(nbrs[v] & alive) < 3}
        if not drop:
            break
        alive -= drop
    want = {v: len(nbrs[v] & alive) for v in sorted(alive)}
    assert dict(zip(got["vertex_id"], got["core_degree"])) == want


def test_kcore_fixed_rounds_converges_to_fixpoint(spark):
    edges, verts, _, _ = _random_graph(spark, seed=14)
    fix = kcore_members(edges, verts, k=3).toPandas().sort_values("vertex_id")
    rnd = (
        kcore_members(edges, verts, k=3, fixed_rounds=12)
        .toPandas()
        .sort_values("vertex_id")
    )
    assert fix.reset_index(drop=True).equals(rnd.reset_index(drop=True))


def test_weighted_pagerank_matches_numpy_and_reduces_to_unweighted(spark):
    from halvesting_geometric_spark.operators.pagerank import pagerank

    edges, verts, pairs, n = _random_graph(spark, seed=15)
    we = edges.withColumn(
        "w", ((F.col("src") * 7 + F.col("dst")) % 4 + 1).cast("double")
    )
    got = (
        pagerank(we, verts, fixed_iters=6, weight_col="w")
        .ranks.toPandas()
        .sort_values("vertex_id")["rank"]
        .to_numpy()
    )
    # dense numpy reference
    w = {(a, b): (a * 7 + b) % 4 + 1 for a, b in pairs}
    wsum = np.zeros(n)
    for (a, b), wt in w.items():
        wsum[a] += wt
    r = np.full(n, 1.0 / n)
    for _ in range(6):
        msg = np.zeros(n)
        for (a, b), wt in w.items():
            msg[b] += r[a] / wsum[a] * wt
        dangling = r[wsum == 0].sum()
        r = (0.15 + 0.85 * dangling) / n + 0.85 * msg
    np.testing.assert_allclose(got, r, atol=1e-12)
    assert abs(got.sum() - 1.0) < 1e-9

    # weight 1.0 everywhere must equal the unweighted path bit-for-bit
    ones = edges.withColumn("w", F.lit(1.0))
    a = pagerank(ones, verts, fixed_iters=4, weight_col="w").ranks.toPandas()
    b = pagerank(edges, verts, fixed_iters=4).ranks.toPandas()
    m = a.merge(b, on="vertex_id", suffixes=("_w", "_u"))
    assert (m["rank_w"] == m["rank_u"]).all()


def test_bfs_levels_matches_python(spark):
    from halvesting_geometric_spark.operators.traversal import bfs_levels

    edges, verts, pairs, n = _random_graph(spark, seed=16)
    got = bfs_levels(edges, verts, [0, 1], max_depth=50).toPandas()
    # python BFS oracle (directed)
    adj: dict[int, list[int]] = {}
    for a, b in pairs:
        adj.setdefault(a, []).append(b)
    dist = {0: 0, 1: 0}
    frontier = [0, 1]
    d = 0
    while frontier:
        d += 1
        nxt = []
        for u in frontier:
            for v in adj.get(u, ()):
                if v not in dist:
                    dist[v] = d
                    nxt.append(v)
        frontier = nxt
    assert dict(zip(got["vertex_id"], got["dist"])) == dist


def test_bfs_undirected_reaches_no_less(spark):
    from halvesting_geometric_spark.operators.traversal import bfs_levels

    edges, verts, _, _ = _random_graph(spark, seed=17)
    d_dir = bfs_levels(edges, verts, [0], max_depth=50).count()
    d_und = bfs_levels(edges, verts, [0], max_depth=50, directed=False).count()
    assert d_und >= d_dir


def test_pagerank_warm_start_reconverges_immediately(spark):
    from halvesting_geometric_spark.operators.pagerank import pagerank

    edges, verts, _, _ = _random_graph(spark, seed=18)
    cold = pagerank(edges, verts, tol=1e-9)
    warm = pagerank(edges, verts, tol=1e-9, initial_ranks=cold.ranks)
    assert warm.converged and warm.iterations <= 2 < cold.iterations
    m = cold.ranks.toPandas().merge(
        warm.ranks.toPandas(), on="vertex_id", suffixes=("_c", "_w")
    )
    np.testing.assert_allclose(m["rank_c"], m["rank_w"], atol=1e-7)
    # a non-normalized warm vector is renormalized: same fixpoint
    scaled = cold.ranks.withColumn("rank", F.col("rank") * 7.5)
    warm2 = pagerank(edges, verts, tol=1e-9, initial_ranks=scaled)
    assert warm2.iterations <= 2


def _python_coreness(pairs, n):
    """Exact core numbers by Batagelj-Zaversnik-style peeling."""
    adj = {v: set() for v in range(n)}
    for a, b in pairs:
        if a != b:
            adj[a].add(b)
            adj[b].add(a)
    deg = {v: len(adj[v]) for v in range(n)}
    core = dict(deg)
    alive = set(range(n))
    k = 0
    while alive:
        k_min = min(deg[v] for v in alive)
        k = max(k, k_min)
        peel = [v for v in alive if deg[v] <= k]
        while peel:
            v = peel.pop()
            if v not in alive:
                continue
            core[v] = k
            alive.discard(v)
            for u in adj[v]:
                if u in alive:
                    deg[u] -= 1
                    if deg[u] <= k:
                        peel.append(u)
    return core


def test_coreness_fixpoint_matches_exact_peeling(spark):
    from halvesting_geometric_spark.operators.kcore import coreness

    rng = np.random.default_rng(37)
    n = 60
    pairs = sorted({(int(a), int(b)) for a, b in rng.integers(0, n, (260, 2))
                    if a != b})
    edges = spark.createDataFrame(pairs, "src long, dst long")
    verts = spark.range(n).select(F.col("id").alias("vertex_id"))
    got = {
        r["vertex_id"]: r["coreness"]
        for r in coreness(edges, verts).collect()
    }
    assert got == _python_coreness(pairs, n)

    # planted K5 + pendant path: clique coreness 4, path decays to 1
    k5 = [(i, j) for i in range(5) for j in range(i + 1, 5)]
    path = [(4, 100), (100, 101), (101, 102)]
    e2 = spark.createDataFrame(k5 + path, "src long, dst long")
    v2 = spark.createDataFrame(
        [(v,) for v in list(range(5)) + [100, 101, 102]], "vertex_id long"
    )
    got2 = {
        r["vertex_id"]: r["coreness"] for r in coreness(e2, v2).collect()
    }
    assert all(got2[v] == 4 for v in range(5))
    assert got2[100] == got2[101] == got2[102] == 1

    # fixed_iters mode upper-bounds the fixpoint and is monotone in rounds
    up3 = {
        r["vertex_id"]: r["coreness"]
        for r in coreness(edges, verts, fixed_iters=3).collect()
    }
    exact = _python_coreness(pairs, n)
    assert all(up3[v] >= exact[v] for v in up3)

    # isolated vertices get coreness 0
    v3 = spark.range(n + 5).select(F.col("id").alias("vertex_id"))
    got3 = {
        r["vertex_id"]: r["coreness"]
        for r in coreness(edges, v3, fixed_iters=2).collect()
    }
    assert all(got3[v] == 0 for v in range(n, n + 5))

    with pytest.raises(ValueError, match="fixed_iters"):
        coreness(edges, verts, fixed_iters=-1)


def test_eigenvector_centrality_matches_numpy(spark):
    from halvesting_geometric_spark.operators.centrality import (
        eigenvector_centrality,
    )

    edges, verts, pairs, n = _random_graph(spark)
    got = (
        eigenvector_centrality(edges, verts, fixed_iters=8)
        .toPandas()
        .sort_values("vertex_id")["score"]
        .to_numpy()
    )
    x = np.full(n, 1.0 / np.sqrt(n))
    for _ in range(8):
        raw = np.zeros(n)
        for a, b in pairs:
            raw[b] += x[a]
        nrm = np.sqrt((raw * raw).sum())
        x = raw / nrm if nrm > 0 else raw
    np.testing.assert_allclose(got, x, atol=1e-9)
    assert abs((got * got).sum() - 1.0) < 1e-9  # unit L2 norm


def test_eigenvector_centrality_dag_drains_to_zero(spark):
    from halvesting_geometric_spark.operators.centrality import (
        eigenvector_centrality,
    )

    # path 0→1→2: after 3 power steps all mass has drained off the DAG
    edges = spark.createDataFrame([(0, 1), (1, 2)], "src long, dst long")
    verts = spark.range(3).select(F.col("id").alias("vertex_id"))
    got = (
        eigenvector_centrality(edges, verts, fixed_iters=4)
        .toPandas()
        .sort_values("vertex_id")["score"]
        .to_numpy()
    )
    np.testing.assert_allclose(got, np.zeros(3), atol=0.0)


def test_eigenvector_centrality_complete_graph_uniform(spark):
    from halvesting_geometric_spark.operators.centrality import (
        eigenvector_centrality,
    )

    # complete graph K_5 (no self loops): the dominant eigenvector of A is
    # exactly uniform, and the uniform start is already that eigenvector —
    # every iteration must reproduce 1/sqrt(5) per vertex exactly
    n = 5
    pairs = [(a, b) for a in range(n) for b in range(n) if a != b]
    edges = spark.createDataFrame(pairs, "src long, dst long")
    verts = spark.range(n).select(F.col("id").alias("vertex_id"))
    got = (
        eigenvector_centrality(edges, verts, fixed_iters=7)
        .toPandas()
        .sort_values("vertex_id")["score"]
        .to_numpy()
    )
    np.testing.assert_allclose(got, np.full(n, 1.0 / np.sqrt(n)), atol=1e-12)


def test_katz_centrality_matches_numpy(spark):
    from halvesting_geometric_spark.operators.centrality import katz_centrality

    edges, verts, pairs, n = _random_graph(spark)
    alpha, beta, iters = 0.05, 1.0, 8
    got = (
        katz_centrality(edges, verts, alpha=alpha, beta=beta, fixed_iters=iters)
        .toPandas()
        .sort_values("vertex_id")["score"]
        .to_numpy()
    )
    x = np.zeros(n)
    for _ in range(iters):
        raw = np.zeros(n)
        for a, b in pairs:
            raw[b] += x[a]
        x = beta + alpha * raw
    np.testing.assert_allclose(got, x, atol=1e-12)
    # isolated-in-degree vertices sit exactly at beta
    indeg = np.zeros(n)
    for _, b in pairs:
        indeg[b] += 1
    for v in range(n):
        if indeg[v] == 0:
            assert got[v] == beta


@pytest.mark.parametrize("op", [hits, salsa, eigenvector_centrality])
def test_normalized_power_iterations_return_pinned_results(spark, op):
    """Reading the result again runs no join or norm aggregate: its
    executed plan is a scan of the checkpointed RDD, with no Exchange."""
    edges, verts, _, _ = _random_graph(spark)
    out = op(edges, verts, fixed_iters=2)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "ExistingRDD" in plan
    assert "Exchange" not in plan


PORTED = {
    "personalized_pagerank": lambda e, v: personalized_pagerank(
        e, v, [0, 1], fixed_iters=2
    ),
    "hits": lambda e, v: hits(e, v, fixed_iters=2),
    "salsa": lambda e, v: salsa(e, v, fixed_iters=2),
    "eigenvector_centrality": lambda e, v: eigenvector_centrality(
        e, v, fixed_iters=2
    ),
    "katz_centrality": lambda e, v: katz_centrality(e, v, fixed_iters=2),
    "bfs_levels": lambda e, v: bfs_levels(e, v, [0, 1], max_depth=3),
    "landmark_bfs": lambda e, v: landmark_bfs(e, v, [0, 1], max_depth=3),
    "sssp": lambda e, v: sssp(e, v, [0, 1], fixed_iters=3),
    "landmark_sssp": lambda e, v: landmark_sssp(e, v, [0, 1], fixed_iters=3),
    "hitting_probability": lambda e, v: hitting_probability(e, v, [0, 1], 3),
}


@pytest.mark.parametrize("name", sorted(PORTED))
def test_gather_and_traversal_loops_leave_the_cache_as_they_found_it(
    spark, name
):
    """Every operator on the shared gather step or traversal loops releases
    what it persists: the session's cache holds the same entries after the
    call and after its result is read as before."""
    def cache_entries():
        return spark._jsparkSession.sharedState().cacheManager().cachedData().size()

    edges, verts, _, _ = _random_graph(spark)
    before = cache_entries()
    out = PORTED[name](edges, verts)
    assert cache_entries() == before
    assert out.count() > 0
    assert cache_entries() == before
