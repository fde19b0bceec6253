"""k-truss: python peeling twin + structural invariants."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from halvesting_geometric_spark.operators.curvature import forman_curvature
from halvesting_geometric_spark.operators.ktruss import edge_support, ktruss
from halvesting_geometric_spark.operators.scan import structural_similarity
from halvesting_geometric_spark.operators.sparsify import local_jaccard_sparsify


def _python_ktruss(pairs, k, fixed_rounds=None):
    edges = {(min(a, b), max(a, b)) for a, b in pairs if a != b}

    def support(es):
        adj = {}
        for a, b in es:
            adj.setdefault(a, set()).add(b)
            adj.setdefault(b, set()).add(a)
        return {
            (a, b): len(adj[a] & adj[b]) for a, b in es
        }

    rounds = fixed_rounds if fixed_rounds is not None else 10_000
    for _ in range(rounds):
        sup = support(edges)
        keep = {e for e in edges if sup[e] >= k - 2}
        if fixed_rounds is None and keep == edges:
            break
        edges = keep
        if not edges:
            break
    return support(edges)


def _graph(spark, n=30, m=150, seed=41):
    rng = np.random.default_rng(seed)
    pairs = sorted({(int(a), int(b)) for a, b in rng.integers(0, n, size=(m, 2))})
    edges = spark.createDataFrame(pairs, "src long, dst long")
    return edges, pairs


def test_ktruss_matches_python_fixpoint(spark):
    edges, pairs = _graph(spark)
    for k in (3, 4):
        got = {
            (r["src"], r["dst"]): r["support"]
            for r in ktruss(edges, k=k).collect()
        }
        assert got == _python_ktruss(pairs, k)
        # invariant: every surviving edge has support >= k-2
        assert all(s >= k - 2 for s in got.values()) or not got


def test_ktruss_fixed_rounds_matches_python(spark):
    edges, pairs = _graph(spark, seed=43)
    got = {
        (r["src"], r["dst"]): r["support"]
        for r in ktruss(edges, k=4, fixed_rounds=2).collect()
    }
    assert got == _python_ktruss(pairs, 4, fixed_rounds=2)


def test_ktruss_known_structure(spark):
    # K4 plus a pendant triangle: 4-truss is exactly the K4
    k4 = [(0, 1), (0, 2), (0, 3), (1, 2), (1, 3), (2, 3)]
    extra = [(3, 4), (3, 5), (4, 5)]
    edges = spark.createDataFrame(k4 + extra, "src long, dst long")
    got = ktruss(edges, k=4).toPandas()
    assert set(map(tuple, got[["src", "dst"]].to_numpy())) == set(k4)
    assert (got["support"] == 2).all()
    with pytest.raises(ValueError, match="k must be"):
        ktruss(edges, k=1)


SUPPORT_USERS = {
    "local_jaccard_sparsify": local_jaccard_sparsify,
    "forman_curvature": forman_curvature,
    "structural_similarity": structural_similarity,
    "edge_support": edge_support,
    "ktruss": lambda edges: ktruss(edges, k=3),
}


@pytest.mark.parametrize("name", sorted(SUPPORT_USERS))
def test_support_users_leave_the_cache_as_they_found_it(spark, name):
    """Every caller of the shared support pass releases the oriented table
    it persists: the session's cache holds the same entries after the call
    and after its result is read as before."""
    def cache_entries():
        return spark._jsparkSession.sharedState().cacheManager().cachedData().size()

    edges, _ = _graph(spark, seed=47)
    before = cache_entries()
    out = SUPPORT_USERS[name](edges)
    assert cache_entries() == before
    assert out.count() > 0
    assert cache_entries() == before
