"""The driver-side reference answers agree with networkx."""

from __future__ import annotations

import networkx as nx
import numpy as np
import pytest
from networkx.algorithms.link_analysis.pagerank_alg import _pagerank_python

from perfbench import reference


def _graph(seed: int, n: int = 60, m: int = 240) -> tuple[np.ndarray, np.ndarray]:
    rng = np.random.default_rng(seed)
    # skewed destinations, a few self-loops and duplicate edges, and
    # isolated vertices above the sampled range
    src = rng.integers(0, n - 5, m)
    dst = np.minimum((rng.random(m) ** 3 * (n - 5)).astype(np.int64), n - 6)
    return src, dst


@pytest.mark.parametrize("seed", [0, 1, 2])
def test_components_match_networkx(seed):
    src, dst = _graph(seed)
    g = nx.Graph()
    g.add_nodes_from(range(60))
    g.add_edges_from(zip(src.tolist(), dst.tolist()))
    want = np.zeros(60, dtype=np.int64)
    for comp in nx.connected_components(g):
        want[list(comp)] = min(comp)
    assert np.array_equal(reference.components(src, dst, 60), want)


@pytest.mark.parametrize("seed", [0, 1, 2])
def test_triangles_match_networkx(seed):
    src, dst = _graph(seed)
    g = nx.Graph()
    g.add_nodes_from(range(60))
    g.add_edges_from((a, b) for a, b in zip(src.tolist(), dst.tolist()) if a != b)
    tri = nx.triangles(g)
    want = np.array([tri[v] for v in range(60)])
    assert np.array_equal(reference.triangles(src, dst, 60), want)


def test_pagerank_matches_networkx_on_a_simple_graph():
    src, dst = _graph(3)
    pairs = {(a, b) for a, b in zip(src.tolist(), dst.tolist())}
    src = np.array([a for a, _ in sorted(pairs)])
    dst = np.array([b for _, b in sorted(pairs)])
    g = nx.DiGraph()
    g.add_nodes_from(range(60))
    g.add_edges_from(sorted(pairs))
    # the pure-Python networkx implementation: the default one needs scipy
    want = _pagerank_python(g, alpha=0.85, tol=1e-14, max_iter=1000)
    got = reference.pagerank(src, dst, 60)
    assert abs(got.sum() - 1.0) < 1e-12
    assert np.abs(got - np.array([want[v] for v in range(60)])).sum() < 1e-9
