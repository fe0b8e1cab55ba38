"""Windowed graph-stream grouping — the reference's composite operator,
re-planned Spark-first, and the one plan builder for batch and Structured
Streaming.

Reference parity: the 10 numbered stages of
``impl/algorithm/GraphStreamGrouping.java:99-144`` (each stage maps to a
method here, stages 4 and 9 to one aggregation, so stage-level golden tests
port directly — SURVEY.md §3 entry point 3), with the grouping-key
bookkeeping of ``impl/algorithm/TableGroupingBase.java``.

Batch and streaming share every stage: ``summaries`` builds one tagged
table of grouped vertices and edges (stages 1-4, 6-9), ``execute`` splits
it by ``kind`` and folds the halves into super elements (stages 5, 10), and
``streaming/job.py`` commits the halves through an exactly-once sink. On
the triple fast path vertex and edge elements share one row shape and
stages 4 and 9 are one ``groupBy(window, kind, …)``: over a watermarked
stream, one append-mode stateful aggregation keyed by the carried window.
In batch, the split's ``kind`` filter pushes through it into the union of
the element streams and prunes the other kind's branch.

Spark-first divergences (semantics preserved, plan improved):
  - The window struct produced by ``F.window``/``F.session_window`` is
    *carried through* all stages instead of being re-derived from rowtime,
    which (a) makes sliding windows correct (an element belongs to several
    windows) and (b) eliminates join J1: vertex→super-vertex mapping is a
    pure projection (re-compute the group hash per raw vertex) rather than a
    null-safe-equality + time-range join (``TableGroupingBase.java:587-614``).
    Session windows still need the join (a row's session depends on other
    rows), implemented as key-equality + temporal containment.
  - Property extraction/fold are native Catalyst expressions (see
    functions/properties.py) so every stage stays in WholeStageCodegen.

Emission parity: the emitted event_time of a super element is the Flink
window rowtime = window_end − 1 ms (asserted by the reference goldens,
``src/test/.../LabelGroupSizeAggTest.java:127-137``).
"""

from __future__ import annotations

from dataclasses import dataclass, field, replace

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..config import StreamGraphConfig, WindowConfig, WindowKind
from ..functions.properties import (
    canonical_props,
    extract_property,
    fold_properties,
    super_element_id,
)
from ..model import NO_LABEL, StreamGraph, triple_vertices
from .aggregation import AggregateFunction

GROUP_LABEL_SYMBOL = ":label"  # TableGroupingBase.java:767
WINDOW_TYPE = "struct<start:timestamp,end:timestamp>"
VERTEX, EDGE = "v", "e"  # the ``kind`` tags of elements and summary rows
NAME = {VERTEX: "vertex", EDGE: "edge"}


def window_expr(w: WindowConfig, ts: str | Column) -> Column:
    ts_col = F.col(ts) if isinstance(ts, str) else ts
    if w.kind == WindowKind.TUMBLING:
        return F.window(ts_col, w.size_interval)
    if w.kind == WindowKind.SLIDING:
        return F.window(ts_col, w.size_interval, w.slide_interval)
    if w.kind == WindowKind.SESSION:
        return F.session_window(ts_col, w.gap_interval)
    raise ValueError(w.kind)


def rowtime_expr(window_col: str = "window") -> Column:
    """Window rowtime = window_end − 1 ms (reference emission timestamp)."""
    return F.col(f"{window_col}.end") - F.expr("INTERVAL 1 MILLISECOND")


@dataclass
class GraphStreamGrouping:
    """The grouping operator (GraphStreamGrouping.java:76-144)."""

    vertex_grouping_keys: list[str] = field(default_factory=list)
    edge_grouping_keys: list[str] = field(default_factory=list)
    use_vertex_labels: bool = False
    use_edge_labels: bool = False
    vertex_aggs: list[AggregateFunction] = field(default_factory=list)
    edge_aggs: list[AggregateFunction] = field(default_factory=list)
    window: WindowConfig = field(default_factory=WindowConfig)
    config: StreamGraphConfig = field(default_factory=StreamGraphConfig)

    # ------------------------------------------------------------------
    # internal column-name helpers (the TMP_n analog,
    # TableGroupingBase.java buildVertexGroupProjectExpressions)
    # ------------------------------------------------------------------
    @staticmethod
    def _gk(i: int) -> str:
        return f"_gk_{i}"

    @staticmethod
    def _egk(i: int) -> str:
        return f"_egk_{i}"

    def _agg_in(self, kind: str, a: AggregateFunction) -> str:
        return f"_agg_in_{kind}_{a.output_key}"

    @staticmethod
    def _agg_out(kind: str, a: AggregateFunction) -> str:
        return f"_{kind}_{a.output_key}"

    def _aggs(self, kind: str) -> list[AggregateFunction]:
        return self.vertex_aggs if kind == VERTEX else self.edge_aggs

    def _use_label(self, kind: str) -> bool:
        return self.use_vertex_labels if kind == VERTEX else self.use_edge_labels

    def _keys(self, kind: str) -> list[str]:
        """One kind's grouping values, label aside: the promoted vertex
        keys; the super source/target ids and the promoted edge keys."""
        if kind == VERTEX:
            return [self._gk(i) for i in range(len(self.vertex_grouping_keys))]
        return ["source_id", "target_id"] + [self._egk(i) for i in range(len(self.edge_grouping_keys))]

    def _group_cols(self, kind: str) -> list[str]:
        return self._keys(kind) + ([f"{NAME[kind]}_label"] if self._use_label(kind) else [])

    def _element_cols(self, kind: str) -> list[str]:
        """What the aggregation reads of one element kind: its grouping
        columns and aggregate inputs."""
        inputs = [self._agg_in(kind, a) for a in self._aggs(kind) if a.property_key is not None]
        return self._group_cols(kind) + inputs

    # ------------------------------------------------------------------
    # Stages 1/2 — deduplicateVertices / deduplicateEdges
    # (GraphStreamGrouping.java:146-173)
    # ------------------------------------------------------------------
    def _windowed(self, df: DataFrame, cols: list[str]) -> DataFrame:
        """Window assignment as a projection: the window struct plus
        event_time = window rowtime (one row per window a sliding window
        covers). A row's session depends on other rows, so for session
        windows the window stays NULL and the raw event_time is kept;
        ``_aggregate`` assigns the session."""
        if self.window.kind == WindowKind.SESSION:
            return df.select(F.lit(None).cast(WINDOW_TYPE).alias("window"), *cols, "event_time")
        windowed = df.select(window_expr(self.window, "event_time").alias("window"), *cols)
        return windowed.withColumn("event_time", rowtime_expr())

    @staticmethod
    def _distinct(df: DataFrame, props_col: str) -> DataFrame:
        """Windowed DISTINCT over the whole observation row (A6). Spark
        cannot GROUP BY MapType, so the property bag takes part via its
        canonical sorted-entries encoding."""
        return (
            df.withColumn(props_col, canonical_props(props_col))
            .dropDuplicates()
            .withColumn(props_col, F.map_from_entries(props_col))
        )

    def dedup_vertices(self, vertices: DataFrame) -> DataFrame:
        """One row per (vertex observation, window); event_time is the
        window rowtime (session windows: the raw event time)."""
        windowed = self._windowed(vertices, ["vertex_id", "vertex_label", "vertex_properties"])
        return self._distinct(windowed, "vertex_properties")

    def assign_window_vertices(self, vertices: DataFrame) -> DataFrame:
        """Dedup-free variant of stage 1 for producers that guarantee
        distinct observations (StreamGraph.elements_unique): window
        assignment only — no shuffle. A vertex with one row lies at most
        once in each tumbling or sliding window; sessions still dedup."""
        assert self.window.kind != WindowKind.SESSION
        return self._windowed(vertices, ["vertex_id", "vertex_label", "vertex_properties"])

    def dedup_edges(self, edges: DataFrame) -> DataFrame:
        cols = ["edge_id", "edge_label", "edge_properties", "source_id", "target_id"]
        return self._distinct(self._windowed(edges, cols), "edge_properties")

    # ------------------------------------------------------------------
    # Stage 3 — enhanceVerticesByPropertyColumns
    # (GraphStreamGrouping.java:175-178; P8 property-column promotion)
    # ------------------------------------------------------------------
    def _promoted(self, props: Column, kind: str) -> list[Column]:
        """One kind's grouping values and aggregate inputs, read from a
        property bag."""
        keys = self.vertex_grouping_keys if kind == VERTEX else self.edge_grouping_keys
        gk = self._gk if kind == VERTEX else self._egk
        return [extract_property(props, k).alias(gk(i)) for i, k in enumerate(keys)] + [
            extract_property(props, a.property_key).cast(a.input_type).alias(self._agg_in(kind, a))
            for a in self._aggs(kind)
            if a.property_key is not None
        ]

    def enhance_vertices(self, deduped: DataFrame) -> DataFrame:
        return deduped.select("*", *self._promoted(F.col("vertex_properties"), VERTEX))

    # ------------------------------------------------------------------
    # Stages 4 and 9 — groupVertices / groupEdges (GraphStreamGrouping.java:
    # 180-185, 267-272; A7, A8): one windowed aggregation of tagged elements
    # ------------------------------------------------------------------
    @staticmethod
    def _rowtime_ms(rowtime: Column) -> Column:
        # cast handles TIMESTAMP_NTZ inputs (parquet default); rendered as
        # epoch millis so the id is timezone-name independent
        return F.unix_millis(rowtime.cast("timestamp")).cast("string")

    def _vertex_super_id(self, prefix: str = "") -> Column:
        """CreateSuperElementId over [label?] + grouping values + rowtime
        (TableGroupingBase.java buildVertexProjectExpressions; rowtime is
        always the last hash field): of the promoted vertex columns with the
        rowtime in ``event_time``, or of the StreamTriple endpoint columns
        that the triple fast path extracts under ``prefix`` with the rowtime
        of the carried window."""
        fields = [F.col(f"{prefix}vertex_label")] if self.use_vertex_labels else []
        fields += [F.col(prefix + self._gk(i)) for i in range(len(self.vertex_grouping_keys))]
        rowtime = rowtime_expr() if prefix else F.col("event_time")
        return super_element_id([*fields, self._rowtime_ms(rowtime)], self.config.id_hash)

    def _edge_super_id(self) -> Column:
        """src + tgt + [label?] + grouping values + rowtime. The reference
        omits src/tgt (TableGroupingBase.java:426-441), which its own tests
        flag as buggy (LabelGroupSizeAggTest.java:25)."""
        fields = [F.col("source_id"), F.col("target_id")]
        if self.use_edge_labels:
            fields.append(F.col("edge_label"))
        fields += [F.col(self._egk(i)) for i in range(len(self.edge_grouping_keys))]
        fields.append(self._rowtime_ms(F.col("event_time")))
        return super_element_id(fields, self.config.id_hash)

    def _elements(self, df: DataFrame, kind: str) -> DataFrame:
        """A stage-3/8 frame as element rows: window, ``kind``, what the
        aggregation reads (sessions: plus the raw event time)."""
        session = ["event_time"] if self.window.kind == WindowKind.SESSION else []
        return df.select("window", F.lit(kind).alias("kind"), *self._element_cols(kind), *session)

    def _aggregate(self, elements: DataFrame, kinds: tuple[str, ...]) -> DataFrame:
        """Stages 4 and 9 as one windowed aggregation of element rows: one
        row per (window, kind, group) with each kind's grouping columns and
        aggregates (``_<kind>_<output key>``); other-kind columns are NULL."""
        if self.window.kind == WindowKind.SESSION:
            window = window_expr(self.window, "event_time").alias("window")
        else:
            window = F.col("window")
        keys = [c for k in kinds for c in self._group_cols(k)]
        ins = [(k, a) for k in kinds for a in self._aggs(k)]
        aggs = [a.agg_expr(self._agg_in(k, a)).alias(self._agg_out(k, a)) for k, a in ins]
        return elements.groupBy(window, "kind", *keys).agg(
            *aggs or [F.count(F.lit(1)).alias("_group_size")]
        )

    def _summary(self, tagged: DataFrame, kind: str) -> DataFrame:
        """One kind's rows of a tagged summary table, one per super
        element: window, keys, rowtime, label, aggregates and the
        ``super_<vertex|edge>_id`` hash."""
        label = f"{NAME[kind]}_label"
        out = tagged.where(F.col("kind") == kind).select(
            "window",
            *self._keys(kind),
            rowtime_expr().alias("event_time"),
            (F.col(label) if self._use_label(kind) else F.lit(NO_LABEL)).alias(label),
            *[F.col(self._agg_out(kind, a)).alias(a.output_key) for a in self._aggs(kind)],
        )
        super_id = self._vertex_super_id() if kind == VERTEX else self._edge_super_id()
        return out.withColumn(f"super_{NAME[kind]}_id", super_id)

    def split_summaries(self, tagged: DataFrame) -> tuple[DataFrame, DataFrame]:
        """A ``summaries`` table (or a micro-batch of it) as the grouped
        vertex and edge tables."""
        return self._summary(tagged, VERTEX), self._summary(tagged, EDGE)

    def group_vertices(self, enhanced: DataFrame) -> DataFrame:
        """Stage 4 alone: the grouped vertex table of stage-3 vertices."""
        grouped = self._aggregate(self._elements(enhanced, VERTEX), (VERTEX,))
        return self._summary(grouped, VERTEX)

    # ------------------------------------------------------------------
    # Stage 5 — createSuperVertices (GraphStreamGrouping.java:187-190;
    # project exprs TableGroupingBase.java:667-697)
    # ------------------------------------------------------------------
    def create_super_vertices(self, grouped: DataFrame) -> DataFrame:
        pairs = [
            (k, F.col(self._gk(i))) for i, k in enumerate(self.vertex_grouping_keys)
        ] + [(a.output_key, F.col(a.output_key)) for a in self.vertex_aggs]
        return grouped.select(
            F.col("super_vertex_id").alias("vertex_id"),
            F.col("event_time"),
            F.col("vertex_label"),
            fold_properties(pairs).alias("vertex_properties"),
        )

    # ------------------------------------------------------------------
    # Stage 6 — createExpandedVertices (GraphStreamGrouping.java:208-214)
    # ------------------------------------------------------------------
    def expand_vertices(self, enhanced: DataFrame, grouped: DataFrame | None = None) -> DataFrame:
        """Map every raw (deduped) vertex to its super-vertex id.

        Tumbling/sliding: *pure projection* — re-compute the group hash from
        the vertex's own promoted columns + carried window; join J1
        eliminated (zero shuffle on this path).
        Session: join on null-safe key equality + temporal containment
        (the reference's J1 condition, TableGroupingBase.java:587-614).
        """
        if self.window.kind != WindowKind.SESSION:
            super_id = self._vertex_super_id().alias("super_vertex_id")
            return enhanced.select("vertex_id", "window", super_id)
        assert grouped is not None, "session-window expansion needs the grouped table"
        g = grouped.select(
            "window",
            F.col("super_vertex_id"),
            *[F.col(self._gk(i)).alias(f"_g{i}") for i in range(len(self.vertex_grouping_keys))],
            *( [F.col("vertex_label").alias("_glabel")] if self.use_vertex_labels else [] ),
        )
        cond = (enhanced["event_time"] >= g["window.start"]) & (
            enhanced["event_time"] < g["window.end"]
        )
        for i in range(len(self.vertex_grouping_keys)):
            cond = cond & enhanced[self._gk(i)].eqNullSafe(g[f"_g{i}"])
        if self.use_vertex_labels:
            cond = cond & enhanced["vertex_label"].eqNullSafe(g["_glabel"])
        # the grouped (summary) side is small by construction — one row per
        # (session window, group); broadcast it so the session path never
        # shuffles the raw vertex stream against a tiny summary (the
        # null-safe+containment condition would otherwise fall back to a
        # shuffled BNLJ). Batch-only path: over a stream, session windows
        # are grouped (stages 1, 3 and 4) but not expanded.
        return enhanced.join(F.broadcast(g), cond, "inner").select(
            enhanced["vertex_id"], g["window"], g["super_vertex_id"]
        )

    # ------------------------------------------------------------------
    # Stage 7 — createEdgesWithExpandedVertices (GraphStreamGrouping.java:228-260)
    # ------------------------------------------------------------------
    def edges_with_super_vertices(self, deduped_edges: DataFrame, expanded: DataFrame) -> DataFrame:
        """Replace edge endpoints with super-vertex ids: one join per
        endpoint on (endpoint id, window). The reference's time predicate is
        vacuous (GraphStreamGrouping.java:243-252); we join window-aligned,
        which is the semantics its tests actually rely on. Session windows:
        the vertex session must contain the edge's event time."""
        e = deduped_edges
        for end in ("source_id", "target_id"):
            v = expanded.select(
                F.col("vertex_id").alias("_vid"),
                F.col("window").alias("_vw"),
                F.col("super_vertex_id").alias("_svid"),
            )
            if self.window.kind == WindowKind.SESSION:
                in_window = (e["event_time"] >= v["_vw.start"]) & (e["event_time"] < v["_vw.end"])
            else:
                in_window = e["window"] == v["_vw"]
            e = e.join(v, (e[end] == v["_vid"]) & in_window).select(
                *[v["_svid"].alias(c) if c == end else e[c] for c in e.columns]
            )
        return e

    def triple_elements(self, graph: StreamGraph) -> DataFrame:
        """Stages 2 and 6-8 on the joinless fast path: ``graph.triples`` as
        element rows. Each edge carries both endpoint vertices inline
        (StreamTriple), so super source/target ids are *recomputed* per edge
        — no shuffle at all on the edge-expansion path. Tumbling/sliding only.

        The edge's keys and aggregate inputs and each endpoint's label and
        grouping values are read from the triple in one projection, below
        the window assignment, so the endpoint structs and property bags
        fold away to the fields read instead of being built per edge.

        ``elements_unique`` skips the windowed dedup (one fewer shuffle, and
        no dedup state in Structured Streaming). ``source_vertices`` also
        makes the source of each matching triple a vertex element (stages
        1, 3) by one ``explode``, windowed after it from its own event time.

        Divergence from the join path (``edges_with_super_vertices``):
        both endpoints are hashed with the edge's window, i.e. the target
        turn's. When the source turn lies in an earlier window, the source
        id names no emitted super-vertex: on 80 generated conversations
        with 10-minute tumbling windows, 3 of 240 super-edges dangle this
        way (sliding 600/300 s: 6 of 474), while the join path drops those
        edges and keeps referential integrity (pinned by
        ``tests/test_invariants.py``). ``perfbench/check.py`` pins the
        fast path's hashing, so changing it starts with the checker."""
        assert self.window.kind != WindowKind.SESSION
        triples, unique = graph.triples, graph.elements_unique

        def endpoint(side: str) -> list[Column]:
            props = F.col(f"{side}.vertex_properties")
            return [F.col(f"{side}.vertex_label").alias(f"{side}_vertex_label")] + [
                extract_property(props, k).alias(f"{side}_{self._gk(i)}")
                for i, k in enumerate(self.vertex_grouping_keys)
            ]

        edge = [
            F.lit(EDGE).alias("kind"),
            F.col("event_time"),
            F.col("edge_label"),
            *self._promoted(F.col("edge_properties"), EDGE),  # 8
            *endpoint("source"),
            *endpoint("target"),
        ]
        if not unique:  # the observation the windowed dedup compares
            edge += [F.col("edge_id"), F.col("edge_properties")]
        kinds: tuple[str, ...] = (EDGE,)
        if graph.source_vertices is None:
            rows = triples.select(*edge)
        else:
            if not unique:
                raise ValueError("source_vertices needs distinct triples (elements_unique)")
            kinds = (EDGE, VERTEX)
            vertex = [
                F.lit(VERTEX).alias("kind"),
                F.col("source.event_time").alias("event_time"),
                F.col("source.vertex_label").alias("vertex_label"),
                *self._promoted(F.col("source.vertex_properties"), VERTEX),  # 3
            ]
            e, v = (dict(zip(triples.select(*cols).columns, cols)) for cols in (edge, vertex))

            def element(own: dict, other: dict) -> Column:
                # one struct type for both kinds: the other kind's fields
                # are NULLs of their type
                return F.struct(*[
                    (own[n] if n in own else F.when(F.lit(False), other[n])).alias(n)
                    for n in {**e, **v}
                ])

            # built in a projection of their own, which Catalyst merges into
            # the binding's, so the explode reads the few fields the keys
            # need rather than the endpoint structs and property bags
            pair = triples.select(
                element(e, v).alias("e"),
                element(v, e).alias("v"),
                graph.source_vertices.alias("has_v"),
            )
            both = F.when(F.col("has_v"), F.array("e", "v")).otherwise(F.array("e"))
            rows = pair.select(F.explode(both).alias("el")).select("el.*")

        windowed = rows.select(  # 6 + 7: super endpoint ids per edge
            window_expr(self.window, "event_time").alias("window"),
            *[c for c in rows.columns if c != "event_time"],
        ).select(
            "*",
            *[
                F.when(F.col("kind") == EDGE, self._vertex_super_id(f"{side}_")).alias(f"{side}_id")
                for side in ("source", "target")
            ],
        )
        if not unique:  # stage 2, after expansion
            observed = dict.fromkeys([*self._element_cols(EDGE), "edge_id", "edge_label"])
            windowed = self._distinct(
                windowed.select("window", "kind", *observed, "edge_properties"), "edge_properties"
            )
        return windowed.select(
            "window", "kind", *[c for k in kinds for c in self._element_cols(k)]
        )

    # ------------------------------------------------------------------
    # Stage 8 — enrichEdgesWithSuperVertices (GraphStreamGrouping.java:262-265)
    # ------------------------------------------------------------------
    def enrich_edges(self, edges: DataFrame) -> DataFrame:
        return edges.select("*", *self._promoted(F.col("edge_properties"), EDGE))

    # ------------------------------------------------------------------
    # Stage 10 — createSuperEdges (GraphStreamGrouping.java:274-277;
    # exprs TableGroupingBase.java:707-741)
    # ------------------------------------------------------------------
    def create_super_edges(self, grouped: DataFrame) -> DataFrame:
        pairs = [
            (k, F.col(self._egk(i))) for i, k in enumerate(self.edge_grouping_keys)
        ] + [(a.output_key, F.col(a.output_key)) for a in self.edge_aggs]
        return grouped.select(
            F.col("super_edge_id").alias("edge_id"),
            F.col("edge_label"),
            fold_properties(pairs).alias("edge_properties"),
            F.col("source_id"),
            F.col("target_id"),
            F.col("event_time"),
        )

    # ------------------------------------------------------------------
    # performGrouping (GraphStreamGrouping.java:99-144)
    # ------------------------------------------------------------------
    def summaries(self, graph: StreamGraph) -> DataFrame:
        """Stages 1-4 and 6-9 over a batch or streaming graph: one tagged
        table, one row per super element with its ``kind`` (``"v"`` or
        ``"e"``), window, grouping values and aggregates
        (``split_summaries`` reads it as the grouped vertex and edge
        tables). Triple fast path: one aggregation of the vertex and edge
        elements. Session windows take the join path, whose edges need the
        grouped vertex sessions first: two aggregations, tagged and unioned."""
        fast = graph.triples is not None and self.window.kind != WindowKind.SESSION
        vertices = graph.vertices
        if graph.source_vertices is not None and not fast:
            sources = graph.triples.where(graph.source_vertices)
            vertices = vertices.unionByName(triple_vertices(sources, "source"))
        if graph.elements_unique and self.window.kind != WindowKind.SESSION:
            deduped_v = self.assign_window_vertices(vertices)  # 1 (shuffle-free)
        else:
            deduped_v = self.dedup_vertices(vertices)  # 1
        enhanced_v = self.enhance_vertices(deduped_v)  # 3
        vertex_elements = self._elements(enhanced_v, VERTEX)
        if fast:  # 2, 6-8, then 4 + 9 as one aggregation
            edges = self.triple_elements(graph)
            elements = vertex_elements.unionByName(edges, allowMissingColumns=True)
            return self._aggregate(elements, (VERTEX, EDGE))
        grouped_v = self._aggregate(vertex_elements, (VERTEX,))  # 4
        expanded = self.expand_vertices(enhanced_v, self._summary(grouped_v, VERTEX))  # 6
        edges = self.edges_with_super_vertices(self.dedup_edges(graph.edges), expanded)  # 2, 7
        grouped_e = self._aggregate(self._elements(self.enrich_edges(edges), EDGE), (EDGE,))  # 8, 9
        return grouped_v.unionByName(grouped_e, allowMissingColumns=True)

    def execute(self, graph: StreamGraph) -> StreamGraph:
        grouped_v, grouped_e = self.split_summaries(self.summaries(graph))
        return replace(
            graph,
            vertices=self.create_super_vertices(grouped_v),  # 5
            edges=self.create_super_edges(grouped_e),  # 10
            triples=None,
            source_vertices=None,
        )


class GroupingBuilder:
    """Fluent builder (TableGroupingBase.java:762-929). The magic grouping
    key ``":label"`` toggles label grouping (TableGroupingBase.java:814-821)."""

    def __init__(self) -> None:
        self._op = GraphStreamGrouping()

    def add_vertex_grouping_key(self, key: str) -> "GroupingBuilder":
        if key == GROUP_LABEL_SYMBOL:
            self._op.use_vertex_labels = True
        else:
            self._op.vertex_grouping_keys.append(key)
        return self

    def add_vertex_grouping_keys(self, keys: list[str]) -> "GroupingBuilder":
        for k in keys:
            self.add_vertex_grouping_key(k)
        return self

    def add_edge_grouping_key(self, key: str) -> "GroupingBuilder":
        if key == GROUP_LABEL_SYMBOL:
            self._op.use_edge_labels = True
        else:
            self._op.edge_grouping_keys.append(key)
        return self

    def add_edge_grouping_keys(self, keys: list[str]) -> "GroupingBuilder":
        for k in keys:
            self.add_edge_grouping_key(k)
        return self

    def add_vertex_aggregate_function(self, a: AggregateFunction) -> "GroupingBuilder":
        self._op.vertex_aggs.append(a)
        return self

    def add_edge_aggregate_function(self, a: AggregateFunction) -> "GroupingBuilder":
        self._op.edge_aggs.append(a)
        return self

    def set_window_size(self, value: float, unit: str = "SECONDS") -> "GroupingBuilder":
        self._op.window = WindowConfig.tumbling(value, unit)
        return self

    def set_window_config(self, w: WindowConfig) -> "GroupingBuilder":
        self._op.window = w
        return self

    def set_config(self, cfg: StreamGraphConfig) -> "GroupingBuilder":
        self._op.config = cfg
        return self

    def build(self) -> GraphStreamGrouping:
        return self._op
