"""Dense 0-based vertex-id assignment — done correctly at scale.

The reference assigns ids via ``df.index`` after dedupe
(``/root/reference/halvesting_geometric/utils/data/link_prediction_metadata.py:385,395,404,420,319``)
and *documents its own bug*: per-partition index reset collapses ids at scale
(docstring warning at ``:349-353``). Two correct strategies here:

- ``dense_ids_window``: ``row_number().over(Window.orderBy(key)) - 1``.
  Exact and simple; the global window is a single-task sort — fine for
  result-sized tables, wrong for billion-row vertex sets.
- ``dense_ids_scalable``: the zipWithIndex pattern kept in DataFrame land,
  via ``plans.prefix.range_prefix`` (pinned range partitions, in-plan
  per-partition offsets, record index as the in-partition rank). Scales to
  any vertex count, with no Python evaluation anywhere.

Both produce ids equal to the rank of ``key`` in global ascending order, so
they are interchangeable and cross-checked in tests.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from halvesting_geometric_spark.plans.prefix import range_prefix


def dense_ids_window(df: DataFrame, key: str, id_col: str = "vertex_id") -> DataFrame:
    """Exact dense ids via a global window (test-scale / result-scale path)."""
    w = Window.orderBy(F.col(key).asc())
    return df.select(
        (F.row_number().over(w) - 1).cast("long").alias(id_col), F.col(key)
    )


def dense_ids_scalable(
    df: DataFrame,
    key: str,
    id_col: str = "vertex_id",
    num_partitions: int | None = None,
) -> DataFrame:
    """Dense ids as the global rank of ``key`` (the at-scale path).

    ``plans.prefix.range_prefix`` ranks over ``num_partitions`` pinned range
    partitions: per-partition offsets in-plan plus each row's record index,
    no single-task window and no Python evaluation.
    """
    return range_prefix(
        df.select(key), [key], rank_col=id_col, num_partitions=num_partitions
    ).select(id_col, key)


def build_vertices(
    conv_edges: DataFrame,
    transcripts: DataFrame | None = None,
    scalable: bool = False,
    id_col: str = "vertex_id",
) -> DataFrame:
    """Vertex table ``(vertex_id, conv_id)`` from edges (± transcript convs).

    Referenced-but-absent conversations become vertices — the reference's
    vertex-set augmentation (union cited papers into the paper table + dedupe,
    ``link_prediction_metadata.py:312-319``) re-expressed as a typed union +
    ``distinct`` instead of a positional concat.
    """
    ids = conv_edges.select(F.col("src_conv").alias("conv_id")).unionByName(
        conv_edges.select(F.col("dst_conv").alias("conv_id"))
    )
    if transcripts is not None:
        ids = ids.unionByName(transcripts.select("conv_id"))
    distinct_ids = ids.distinct()
    fn = dense_ids_scalable if scalable else dense_ids_window
    return fn(distinct_ids, "conv_id", id_col=id_col)


def edges_to_ids(conv_edges: DataFrame, vertices: DataFrame) -> DataFrame:
    """Map conv-level string edges to the integer COO edge table ``(src, dst)``.

    Reference analog: joins J6/J7 resolving cited titles and citing halids to
    paper_idx (``link_prediction_metadata.py:321-331``). Two equi joins on the
    vertex table; Catalyst/AQE picks broadcast automatically when the vertex
    table is small.
    """
    src_map = vertices.select(
        F.col("conv_id").alias("src_conv"), F.col("vertex_id").alias("src")
    )
    dst_map = vertices.select(
        F.col("conv_id").alias("dst_conv"), F.col("vertex_id").alias("dst")
    )
    return (
        conv_edges.join(src_map, "src_conv")
        .join(dst_map, "dst_conv")
        .select("src", "dst")
    )
