"""Skew probe: the degree histogram of an edge table.

The reference does nothing about skew although the HAL citation graph is
power-law (SURVEY.md §4.1). At 10^12-turn scale a handful of hot destination
vertices dominate the ``groupBy(dst)`` scatter of every superstep. The engine
handles that with Spark's own machinery and no extra operator:

1. the scatter is a sum, so Spark's map-side partial aggregate already bounds
   a hot key to one row per map partition before the shuffle;
2. AQE skew-join splitting covers the gather join (enabled in session.py).

The explicit salted two-phase sum and the numpy ``bincount`` partial
aggregator that used to live here were removed: no workload selected them,
and as PageRank's scatter on the 100k-edge power-law input (seed 42, 6
steps) they took 10.9 and 11.4 CPU-s against 7.9 for the plain ``groupBy``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def degree_histogram(edges: DataFrame, side: str = "dst") -> DataFrame:
    """(degree, n_vertices) histogram — the skew probe."""
    return (
        edges.groupBy(side)
        .agg(F.count("*").alias("degree"))
        .groupBy("degree")
        .agg(F.count("*").alias("n_vertices"))
        .orderBy(F.col("degree").desc())
    )
