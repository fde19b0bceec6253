"""plans.prefix.range_prefix against a pure-Python rank / prefix sum."""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from halvesting_geometric_spark.operators.evalmetrics import _avg_rank2
from halvesting_geometric_spark.plans import prefix
from halvesting_geometric_spark.plans.prefix import range_prefix


def _reference(rows, groups, order, sums):
    """{row: (rank, cum...)} with ``order`` as (column index, descending)."""
    ordered = list(rows)
    for i, desc in reversed(order):  # stable sorts, least significant first
        ordered.sort(key=lambda r: r[i], reverse=desc)
    for i in reversed(groups):
        ordered.sort(key=lambda r: r[i])
    out, pos, cum = {}, {}, {}
    for r in ordered:
        g = tuple(r[i] for i in groups)
        rank = pos.get(g, 0)
        pos[g] = rank + 1
        cum[g] = [c + r[i] for c, i in zip(cum.get(g, [0] * len(sums)), sums)]
        out[r] = (rank, *cum[g])
    return out


def _rows(case):
    rng = random.Random(7)
    if case == "asc_desc":
        # (a DESC, b ASC) is total: a repeats, (a, b) does not
        return [(rng.randrange(5), f"k{i:03d}", rng.randrange(100))
                for i in range(40)], 3
    if case == "empty_partitions":
        return [(i % 2, f"k{i}", i * 10) for i in range(5)], 16
    # group 0 holds 60 of the 80 rows, so it spans several partitions
    return [(0 if i < 60 else 1 + i % 2, f"k{i:03d}", rng.randrange(50))
            for i in range(80)], 8


@pytest.mark.parametrize("case", ["asc_desc", "empty_partitions", "grouped"])
def test_range_prefix_matches_python(spark, case):
    rows, n = _rows(case)
    df = spark.createDataFrame(rows, "a int, b string, w long")
    if case == "grouped":
        groups, order, spark_order = [0], [(1, False)], ["b"]
    else:
        groups, order = [], [(0, True), (1, False)]
        spark_order = [F.col("a").desc(), F.col("b").asc()]
    got = {
        (r["a"], r["b"], r["w"]): (r["rnk"], r["cum_w"])
        for r in range_prefix(
            df, spark_order, rank_col="rnk", sums=("w",),
            groups=["a"] if groups else (), num_partitions=n,
        ).collect()
    }
    assert got == _reference(rows, groups, order, [2])


def test_midrank_of_a_hot_tie(spark):
    # value 5 is held by 60 of the 100 rows: its midrank block spans ranks
    # 21..80 wherever the range partitioner cuts it
    values = [5] * 60 + list(range(-20, 0)) + list(range(100, 120))
    hist = (
        spark.createDataFrame([(v,) for v in values], "v long")
        .groupBy("v")
        .agg(F.count("*").alias("cnt"))
    )
    got = {
        r["v"]: r["r2"]
        for r in _avg_rank2(hist, "v", "cnt").collect()
    }
    ordered = sorted(values)
    want = {}
    for v in set(values):
        ranks = [i + 1 for i, x in enumerate(ordered) if x == v]
        want[v] = 2 * sum(ranks) // len(ranks)
    assert want[5] == 21 + 80
    assert got == want


def test_range_prefix_fails_when_a_partition_reaches_the_row_limit(
    spark, monkeypatch
):
    monkeypatch.setattr(prefix, "_ROW_LIMIT", 3)
    df = spark.createDataFrame([(i,) for i in range(10)], "x long")
    with pytest.raises(Exception, match="range partition reached 2\\^33"):
        range_prefix(df, ["x"], rank_col="r", num_partitions=2).collect()
