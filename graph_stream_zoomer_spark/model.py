"""Data model: schemas, TableSet, StreamGraph.

Reference parity (all paths relative to
``/root/reference/src/main/java/edu/dbsleipzig/stream/grouping/``):

  - Vertex/edge physical schemas: ``model/table/TableSet.java:145-170``.
    The Gradoop RAW(Properties) bag becomes ``map<string,string>``; typed
    property values are re-derived by casting at aggregation time
    (the reference's aggregates also only accept numeric property values,
    ``impl/functions/aggregation/TableAvgProperty.java:46-53``).
  - StreamTriple (``model/graph/StreamTriple.java:28-48``) = one row with
    edge columns + nested ``source``/``target`` structs.
  - StreamGraph / StreamGraphLayout / TableSet
    (``model/graph/StreamGraph.java:53-76``, ``model/table/TableSet.java:42``)
    collapse to one small class holding two DataFrames + config.
  - Triple → vertex/edge split (``impl/functions/utils/Extractor.java:30-41``,
    wired ``model/graph/StreamGraph.java:249-257``): in Spark this is two
    projections + a unionByName, no side outputs.

NOTE on edge orientation: the reference silently swaps source/target when
building a StreamEdge from a StreamTriple (``model/graph/StreamEdge.java:45-52``).
We keep true orientation; see SURVEY.md §7 risk register.
"""

from __future__ import annotations

from dataclasses import dataclass, replace
from typing import TYPE_CHECKING

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    MapType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from .config import StreamGraphConfig

if TYPE_CHECKING:  # pragma: no cover
    from .operators.grouping import GraphStreamGrouping

PROPS = MapType(StringType(), StringType())

VERTEX_SCHEMA = StructType(
    [
        StructField("vertex_id", StringType(), False),
        StructField("event_time", TimestampType(), False),
        StructField("vertex_label", StringType(), True),
        StructField("vertex_properties", PROPS, True),
    ]
)

EDGE_SCHEMA = StructType(
    [
        StructField("edge_id", StringType(), False),
        StructField("edge_label", StringType(), True),
        StructField("edge_properties", PROPS, True),
        StructField("source_id", StringType(), False),
        StructField("target_id", StringType(), False),
        StructField("event_time", TimestampType(), False),
    ]
)

VERTEX_STRUCT = StructType(
    [
        StructField("vertex_id", StringType(), False),
        StructField("vertex_label", StringType(), True),
        StructField("vertex_properties", PROPS, True),
        StructField("event_time", TimestampType(), False),
    ]
)

TRIPLE_SCHEMA = StructType(
    [
        StructField("edge_id", StringType(), False),
        StructField("event_time", TimestampType(), False),
        StructField("edge_label", StringType(), True),
        StructField("edge_properties", PROPS, True),
        StructField("source", VERTEX_STRUCT, False),
        StructField("target", VERTEX_STRUCT, False),
    ]
)

# Canonical "no label" literal when label is not a grouping key
# (FIELD_NO_LABEL = "" at model/table/TableSet.java:106).
NO_LABEL = ""


def triple_edges(triples: DataFrame) -> DataFrame:
    """Triple stream → edge stream: one edge per triple, its endpoints
    referenced by vertex id."""
    return triples.selectExpr(
        "edge_id",
        "edge_label",
        "edge_properties",
        "source.vertex_id AS source_id",
        "target.vertex_id AS target_id",
        "event_time",
    )


def triple_vertices(triples: DataFrame, side: str) -> DataFrame:
    """The ``side`` (``"source"``/``"target"``) endpoint of each triple as
    a vertex observation (VERTEX_SCHEMA columns)."""
    return triples.selectExpr(*[f"{side}.{f} AS {f}" for f in VERTEX_SCHEMA.fieldNames()])


def split_triples(triples: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Triple stream → (vertices, edges). Spark analog of Extractor.java.

    One triple yields 1 edge + 2 vertex observations (duplicates allowed;
    windowed dedup collapses them downstream, GraphStreamGrouping.java:146-173).
    """
    vertices = triple_vertices(triples, "source").unionByName(triple_vertices(triples, "target"))
    return vertices, triple_edges(triples)


@dataclass
class StreamGraph:
    """A property-graph (stream): a pair of DataFrames + engine config.

    Closed-operator contract: operators map StreamGraph -> StreamGraph with
    identical schemas, so groupings compose (README.md:16-20,
    model/graph/GraphStreamToGraphStreamOperator.java:21-23).
    Works identically for batch and streaming DataFrames.
    """

    vertices: DataFrame
    edges: DataFrame
    config: StreamGraphConfig
    # Original triples when constructed from a triple stream; enables the
    # joinless edge-expansion fast path (SURVEY.md §2.4 J1/J2 note).
    triples: DataFrame | None = None
    # Producer hint: vertex/edge observations are already distinct (one row
    # per element id), so the windowed-DISTINCT stage (A6) can become a pure
    # window-assignment projection — saves one full shuffle per side. True
    # for the transcript binding (one row per turn / per successor pair);
    # False for raw triple splits, where a vertex repeats per incident edge.
    elements_unique: bool = False
    # Producer hint: a SQL predicate over ``triples`` rows whose source endpoint
    # is a vertex observation that ``vertices`` leaves out. The grouping
    # takes those vertices from the triple rows it already reads, so a
    # streaming binding need not join a second time to find them. The
    # streaming transcript binding sets it (a turn 0 is a vertex when its
    # successor edge exists); None for every batch binding.
    source_vertices: str | None = None

    @staticmethod
    def from_triples(triples: DataFrame, config: StreamGraphConfig | None = None) -> "StreamGraph":
        config = config or StreamGraphConfig()
        vertices, edges = split_triples(triples)
        return StreamGraph(vertices=vertices, edges=edges, config=config, triples=triples)

    def with_watermark(self) -> "StreamGraph":
        """Apply the bounded out-of-orderness watermark to both streams
        (TableSet.java:151,168 → withWatermark)."""
        d = self.config.watermark_delay
        return replace(
            self,
            vertices=self.vertices.withWatermark("event_time", d),
            edges=self.edges.withWatermark("event_time", d),
            triples=self.triples.withWatermark("event_time", d) if self.triples is not None else None,
        )

    def apply(self, operator: "GraphStreamGrouping") -> "StreamGraph":
        """Operator application (model/graph/StreamGraph.java:109-111)."""
        return operator.execute(self)

    def group_by(
        self,
        vertex_grouping_keys: list[str],
        vertex_agg_functions=None,
        edge_grouping_keys: list[str] | None = None,
        edge_agg_functions=None,
    ) -> "StreamGraph":
        """Convenience grouping entry point
        (model/graph/StreamGraphLayout.java:112-140)."""
        from .operators.grouping import GroupingBuilder

        b = GroupingBuilder()
        for k in vertex_grouping_keys:
            b.add_vertex_grouping_key(k)
        for k in edge_grouping_keys or []:
            b.add_edge_grouping_key(k)
        for a in vertex_agg_functions or []:
            b.add_vertex_aggregate_function(a)
        for a in edge_agg_functions or []:
            b.add_edge_aggregate_function(a)
        b.set_config(self.config).set_window_config(self.config.window)
        return self.apply(b.build())

    # -- sinks (S7 print, S8 CSV; model/graph/StreamGraph.java:125-161) ----
    def print(self, n: int = 20) -> None:
        """Print the graph as triples (StreamGraph.print parity)."""
        t = self.to_triples()
        if t.isStreaming:
            t.writeStream.format("console").outputMode("append").start()
        else:
            t.show(n, truncate=False)

    def print_vertices(self, n: int = 20) -> None:
        if self.vertices.isStreaming:
            self.vertices.writeStream.format("console").outputMode("append").start()
        else:
            self.vertices.show(n, truncate=False)

    def print_edges(self, n: int = 20) -> None:
        if self.edges.isStreaming:
            self.edges.writeStream.format("console").outputMode("append").start()
        else:
            self.edges.show(n, truncate=False)

    def write_as_csv(self, path: str) -> None:
        """CSV sink: two outputs <path>_V / <path>_E (writeAsCsv parity)."""
        from .sources.csv import write_graph_csv

        write_graph_csv(self.vertices, self.edges, path)

    def to_triples(self) -> DataFrame:
        """Re-join super-vertices to super-edges as a triple stream
        (model/graph/StreamGraph.java:170-226, join J3).

        Two equi joins on (endpoint id, event_time); the reference writes the
        second time predicate as a two-sided range that degenerates to
        equality — we join on equality directly.
        """
        sv = self.vertices
        se = self.edges
        src = sv.select(
            F.col("vertex_id").alias("_sid"),
            F.col("event_time").alias("_stime"),
            F.struct(
                F.col("vertex_id"),
                F.col("vertex_label"),
                F.col("vertex_properties"),
                F.col("event_time"),
            ).alias("source"),
        )
        tgt = sv.select(
            F.col("vertex_id").alias("_tid"),
            F.col("event_time").alias("_ttime"),
            F.struct(
                F.col("vertex_id"),
                F.col("vertex_label"),
                F.col("vertex_properties"),
                F.col("event_time"),
            ).alias("target"),
        )
        joined = (
            se.join(src, (se.source_id == src._sid) & (se.event_time == src._stime))
            .join(tgt, (se.target_id == tgt._tid) & (se.event_time == tgt._ttime))
        )
        return joined.select(
            "edge_id", "event_time", "edge_label", "edge_properties", "source", "target"
        )
