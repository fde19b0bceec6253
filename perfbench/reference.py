"""Driver-side reference answers for the benchmark's output checks.

Each function takes the edge list as two numpy id arrays over dense vertex
ids ``0..n-1`` and computes the answer without Spark, so a wrong result from
the engine is caught on any seed, not only on one with recorded values.
"""

from __future__ import annotations

import numpy as np


def pagerank(
    src: np.ndarray, dst: np.ndarray, n: int, damping: float = 0.85,
    tol: float = 1e-13, max_iter: int = 2000,
) -> np.ndarray:
    """Power iteration with the engine's semantics: multi-edges count, and
    dangling mass is spread uniformly. Stops after ``max_iter`` steps or
    once the L1 delta falls below ``tol``."""
    out_deg = np.bincount(src, minlength=n).astype(np.float64)
    dangling = out_deg == 0
    safe_deg = np.where(dangling, 1.0, out_deg)
    r = np.full(n, 1.0 / n)
    for _ in range(max_iter):
        contrib = np.bincount(dst, weights=(r / safe_deg)[src], minlength=n)
        nxt = (1.0 - damping) / n + damping * (r[dangling].sum() / n + contrib)
        delta = np.abs(nxt - r).sum()
        r = nxt
        if delta < tol:
            break
    return r


def components(src: np.ndarray, dst: np.ndarray, n: int) -> np.ndarray:
    """Component id per vertex = the smallest vertex id in its component."""
    label = np.arange(n)
    while True:
        nxt = label.copy()
        np.minimum.at(nxt, src, label[dst])
        np.minimum.at(nxt, dst, label[src])
        nxt = nxt[nxt]  # pointer jumping: labels stay inside the component
        if np.array_equal(nxt, label):
            return label
        label = nxt


def triangles(src: np.ndarray, dst: np.ndarray, n: int) -> np.ndarray:
    """Triangles per vertex over the undirected simple graph."""
    keep = src != dst
    lo = np.minimum(src[keep], dst[keep])
    hi = np.maximum(src[keep], dst[keep])
    pairs = np.unique(np.stack([lo, hi], axis=1), axis=0)
    deg = np.bincount(pairs.ravel(), minlength=n)
    # orient each edge from lower to higher (degree, id): every triangle is
    # found exactly once, from its lowest-ranked vertex
    a, b = pairs[:, 0], pairs[:, 1]
    fwd = (deg[a] < deg[b]) | ((deg[a] == deg[b]) & (a < b))
    u = np.where(fwd, a, b)
    v = np.where(fwd, b, a)
    out: list[set[int]] = [set() for _ in range(n)]
    for x, y in zip(u.tolist(), v.tolist()):
        out[x].add(y)
    count = np.zeros(n, dtype=np.int64)
    for x, y in zip(u.tolist(), v.tolist()):
        common = out[x] & out[y]
        if common:
            k = len(common)
            count[x] += k
            count[y] += k
            for w in common:
                count[w] += 1
    return count
