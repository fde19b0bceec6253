"""Graph core: degrees, undirected view, canonical edges, full pipeline.

Reference analogs: reverse-edge union ``T.ToUndirected()``
(``/root/reference/halvesting_geometric/utils/data/link_prediction_datamodule.py:126``),
edge dedupe ``coalesce`` (``.../link_prediction_dataset.py:211``), implicit
degree inside SAGE mean-aggregation (``.../modules/sage.py:78-82``) — here a
first-class operator.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from halvesting_geometric_spark.operators.extract import extract_conv_edges
from halvesting_geometric_spark.operators.ids import build_vertices, edges_to_ids


def _id_frame(
    spark: SparkSession,
    ids: DataFrame | list | tuple,
    cols: tuple[str, ...] = ("vertex_id",),
    dtype: str = "long",
) -> DataFrame:
    """A seed, source or start set as a DataFrame: a DataFrame passes
    through; a list or tuple becomes one row per id, the id (as ``dtype``,
    "long" or "string") in every column of ``cols``."""
    if not isinstance(ids, (list, tuple)):
        return ids
    conv = int if dtype == "long" else str
    return spark.createDataFrame(
        [(conv(i),) * len(cols) for i in ids],
        ", ".join(f"{c} {dtype}" for c in cols),
    )


def out_degrees(edges: DataFrame) -> DataFrame:
    """(src, out_deg) — map-side-combined hash aggregate."""
    return edges.groupBy("src").agg(F.count("*").alias("out_deg"))


def in_degrees(edges: DataFrame) -> DataFrame:
    return edges.groupBy("dst").agg(F.count("*").alias("in_deg"))


def undirected(edges: DataFrame, dedupe: bool = True) -> DataFrame:
    """Symmetrized edge view — reference analog of ``ToUndirected``."""
    sym = edges.select("src", "dst").unionByName(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    return sym.dropDuplicates(["src", "dst"]) if dedupe else sym


def canonical_edges(edges: DataFrame) -> DataFrame:
    """Undirected edges with ``src < dst``, self-loops dropped, deduplicated.

    The normal form for triangle counting and connected components.
    """
    return (
        edges.filter(F.col("src") != F.col("dst"))
        .select(
            F.least("src", "dst").alias("src"),
            F.greatest("src", "dst").alias("dst"),
        )
        .dropDuplicates(["src", "dst"])
    )


@dataclass
class PropertyGraph:
    """Thin container for the extracted graph — the reference's ``HeteroData``
    (``link_prediction_dataset.py:141``) reduced to its relational essence:
    graphs are just DataFrames.
    """

    vertices: DataFrame  # (vertex_id, conv_id)
    edges: DataFrame  # (src, dst) directed, deduplicated

    def num_vertices(self) -> int:
        return self.vertices.count()

    def num_edges(self) -> int:
        return self.edges.count()


def build_graph(
    transcripts: DataFrame,
    scalable_ids: bool = False,
    include_transcript_vertices: bool = True,
    drop_self: bool = False,
) -> PropertyGraph:
    """transcripts → PropertyGraph: the reference's whole metadata build
    (``build_metadata.py`` entry points 1+2) as one declarative dataflow.
    """
    conv_edges = extract_conv_edges(transcripts, dedupe=True, drop_self=drop_self)
    vertices = build_vertices(
        conv_edges,
        transcripts=transcripts if include_transcript_vertices else None,
        scalable=scalable_ids,
    )
    edges = edges_to_ids(conv_edges, vertices)
    return PropertyGraph(vertices=vertices, edges=edges)
