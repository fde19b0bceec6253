"""Spinner-style balanced partitioning: goldens, capacity, python twin."""

from __future__ import annotations

import random
from collections import defaultdict

import pytest

from halvesting_geometric_spark.operators.partition import balanced_partition


def _edges_df(spark, pairs):
    return spark.createDataFrame(
        [(int(a), int(b)) for a, b in pairs], "src long, dst long"
    )


def _verts_df(spark, n):
    return spark.createDataFrame([(int(v),) for v in range(n)], "vertex_id long")


def _python_partition(pairs, n, k, rounds, slack_permille):
    adj = defaultdict(set)
    for a, b in pairs:
        if a == b:
            continue
        adj[a].add(b)
        adj[b].add(a)
    cap = (n * (1000 + slack_permille) + 1000 * k - 1) // (1000 * k)
    lab = {v: v % k for v in range(n)}
    for _ in range(rounds):
        loads = defaultdict(int)
        for v in range(n):
            loads[lab[v]] += 1
        # a candidate label always has >=1 member (some neighbor holds it),
        # so restricting to labels present in loads loses nothing
        open_labels = {l for l, ld in loads.items() if ld < cap}
        wants = []
        for v in range(n):
            cnt = defaultdict(int)
            for o in adj[v]:
                cnt[lab[o]] += 1
            cands = [(c, -l) for l, c in cnt.items() if l in open_labels]
            cur = cnt.get(lab[v], 0)
            if cands:
                bc, bl = max(cands)
                if bc > cur:
                    wants.append((v, bc, -bl))
        # per-label admission quota: top (cap - load) by (gain DESC, id ASC)
        by_label = defaultdict(list)
        for v, bc, bl in wants:
            by_label[bl].append((v, bc))
        new = dict(lab)
        for l, migs in by_label.items():
            migs.sort(key=lambda t: (-t[1], t[0]))
            for v, _ in migs[: cap - loads[l]]:
                new[v] = l
        lab = new
    return lab


def test_two_triangles_converge(spark):
    pairs = [(0, 1), (1, 2), (0, 2), (3, 4), (4, 5), (3, 5)]
    out = {
        r.vertex_id: r.label
        for r in balanced_partition(
            _edges_df(spark, pairs), _verts_df(spark, 6), k=2, rounds=2
        ).collect()
    }
    assert out == {0: 0, 1: 0, 2: 0, 3: 1, 4: 1, 5: 1}


def test_strict_cap_invariant(spark):
    # hub graph where everyone wants the hub's partition: admissions are
    # quota-bounded, so no label ever exceeds cap
    rng = random.Random(47)
    pairs = [(0, i) for i in range(1, 30)] + [
        (rng.randrange(30), rng.randrange(30)) for _ in range(60)
    ]
    pairs = [(a, b) for a, b in pairs if a != b]
    n, k, slack = 30, 3, 100
    cap = (n * (1000 + slack) + 1000 * k - 1) // (1000 * k)
    rows = balanced_partition(
        _edges_df(spark, pairs), _verts_df(spark, n), k=k, rounds=4
    ).collect()
    from collections import Counter

    loads = Counter(r.label for r in rows)
    assert max(loads.values()) <= cap


def test_full_partition_admits_no_migrants(spark):
    # hub 0 (label 0) with 6 leaves; label 0 starts at cap, so leaves
    # labeled 1 cannot migrate in and nothing changes
    pairs = [(0, i) for i in range(1, 7)]
    out = {
        r.vertex_id: r.label
        for r in balanced_partition(
            _edges_df(spark, pairs), _verts_df(spark, 7), k=2, rounds=3
        ).collect()
    }
    assert out == {v: v % 2 for v in range(7)}


def test_labels_in_range_and_total(spark):
    rng = random.Random(41)
    pairs = [(rng.randrange(50), rng.randrange(50)) for _ in range(200)]
    pairs = [(a, b) for a, b in pairs if a != b]
    rows = balanced_partition(
        _edges_df(spark, pairs), _verts_df(spark, 50), k=4, rounds=3
    ).collect()
    assert len(rows) == 50
    assert all(0 <= r.label < 4 for r in rows)


def test_random_vs_python_twin(spark):
    rng = random.Random(43)
    pairs = list({(rng.randrange(40), rng.randrange(40)) for _ in range(150)})
    pairs = [(a, b) for a, b in pairs if a != b]
    want = _python_partition(pairs, 40, 4, 3, 100)
    got = {
        r.vertex_id: r.label
        for r in balanced_partition(
            _edges_df(spark, pairs), _verts_df(spark, 40), k=4, rounds=3
        ).collect()
    }
    assert got == want


def test_validation(spark):
    e = _edges_df(spark, [(0, 1)])
    v = _verts_df(spark, 2)
    with pytest.raises(ValueError):
        balanced_partition(e, v, k=1)
    with pytest.raises(ValueError):
        balanced_partition(e, v, rounds=0)
    with pytest.raises(ValueError):
        balanced_partition(e, v, slack_permille=-1)
