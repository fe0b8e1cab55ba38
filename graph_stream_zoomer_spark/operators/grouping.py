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

Super ids are hashed once per group, as the reference's
``CreateSuperElementId`` is called once per group (SURVEY §2.3 A7). On the
fast path an edge element is keyed by the label and grouping values of its
endpoints' vertex groups (``source_vertex_label``, ``source__gk_<i>``,
``target_…``), not by per-edge endpoint hashes, and the split computes
``source_id``, ``target_id`` and ``super_edge_id`` once per super-edge
(flagship: ~700 super-edges instead of ~405k edges per run). Edge groups
thus follow vertex groups: two vertex groups that hash alike (``concat_ws``
skips NULLs) stay apart, as their super-vertices already do. The session
join path keeps its J2 id keys (``source_id``, ``target_id``): a vertex
session's rowtime is not the edge's.

Build cost: the plan is built from SQL expression templates (see
functions/properties.py), a few ``selectExpr`` hops per stage. A warm
flagship build, ``transcript_graph(t, cfg).apply(op)``, sends ~200 py4j
commands and takes ~0.15 s on a 4-core host, against ~2,900 commands and
~0.45 s when every expression was built from ``Column`` methods.

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

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..config import StreamGraphConfig, WindowConfig, WindowKind
from ..functions.properties import (
    canonical_props,
    extract_property,
    fold_properties,
    quote,
    super_element_id,
)
from ..model import NO_LABEL, StreamGraph, triple_vertices
from .aggregation import AggregateFunction

GROUP_LABEL_SYMBOL = ":label"  # TableGroupingBase.java:767
WINDOW_TYPE = "struct<start:timestamp,end:timestamp>"
VERTEX, EDGE = "v", "e"  # the ``kind`` tags of elements and summary rows
NAME = {VERTEX: "vertex", EDGE: "edge"}
ENDS = ("source", "target")


def window_expr(w: WindowConfig, ts: str = "event_time") -> str:
    """The window assignment of the timestamp expression ``ts`` (SQL)."""
    if w.kind == WindowKind.TUMBLING:
        return f"window({ts}, '{w.size_interval}')"
    if w.kind == WindowKind.SLIDING:
        return f"window({ts}, '{w.size_interval}', '{w.slide_interval}')"
    if w.kind == WindowKind.SESSION:
        return f"session_window({ts}, '{w.gap_interval}')"
    raise ValueError(w.kind)


def rowtime_expr(window_col: str = "window") -> str:
    """Window rowtime = window_end − 1 ms (reference emission timestamp)."""
    return f"{window_col}.end - INTERVAL 1 MILLISECOND"


def _exprs(cols: dict[str, str]) -> list[str]:
    """``selectExpr`` arguments of named SQL expressions."""
    return [f"{sql} AS {quote(name)}" for name, sql in cols.items()]


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

    def _vertex_values(self) -> list[str]:
        """What a vertex group is keyed by: the label, if grouped by, and
        the promoted vertex keys."""
        label = ["vertex_label"] if self.use_vertex_labels else []
        return label + [self._gk(i) for i in range(len(self.vertex_grouping_keys))]

    def _keys(self, kind: str, ids: bool = True) -> list[str]:
        """One kind's grouping values, label aside: the promoted vertex
        keys; an edge's endpoints and its promoted edge keys. The join path
        names the endpoints by their super ids (``ids``); the triple fast
        path by the values that key their vertex groups, so the ids are
        hashed once per super-edge instead of once per edge."""
        if kind == VERTEX:
            return [self._gk(i) for i in range(len(self.vertex_grouping_keys))]
        ends = ["source_id", "target_id"] if ids else [
            f"{side}_{c}" for side in ENDS for c in self._vertex_values()
        ]
        return ends + [self._egk(i) for i in range(len(self.edge_grouping_keys))]

    def _group_cols(self, kind: str, ids: bool = True) -> list[str]:
        return self._keys(kind, ids) + ([f"{NAME[kind]}_label"] if self._use_label(kind) else [])

    def _element_cols(self, kind: str, ids: bool = True) -> list[str]:
        """What the aggregation reads of one element kind: its grouping
        columns and aggregate inputs."""
        inputs = [self._agg_in(kind, a) for a in self._aggs(kind) if a.property_key is not None]
        return self._group_cols(kind, ids) + inputs

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
            return df.selectExpr(f"CAST(NULL AS {WINDOW_TYPE}) AS window", *cols, "event_time")
        windowed = df.selectExpr(f"{window_expr(self.window)} AS window", *cols)
        return windowed.selectExpr("*", f"{rowtime_expr()} AS event_time")

    @staticmethod
    def _distinct(df: DataFrame, props_col: str) -> DataFrame:
        """Windowed DISTINCT over the whole observation row (A6). Spark
        cannot GROUP BY MapType, so the property bag takes part via its
        canonical sorted-entries encoding."""
        return (
            df.withColumn(props_col, F.expr(canonical_props(props_col)))
            .dropDuplicates()
            .withColumn(props_col, F.expr(f"map_from_entries({props_col})"))
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
    def _promoted(self, bag: str, kind: str) -> dict[str, str]:
        """One kind's grouping values and aggregate inputs, read from the
        property bag expression ``bag``."""
        keys = self.vertex_grouping_keys if kind == VERTEX else self.edge_grouping_keys
        gk = self._gk if kind == VERTEX else self._egk
        cols = {gk(i): extract_property(bag, k) for i, k in enumerate(keys)}
        for a in self._aggs(kind):
            if a.property_key is not None:
                cols[self._agg_in(kind, a)] = (
                    f"CAST({extract_property(bag, a.property_key)} AS {a.input_type})"
                )
        return cols

    def enhance_vertices(self, deduped: DataFrame) -> DataFrame:
        return deduped.selectExpr("*", *_exprs(self._promoted("vertex_properties", VERTEX)))

    def _vertex_rows(self, p: str = "") -> dict[str, str]:
        """Stages 1 and 3 of a vertex observation whose columns are named
        ``{p}<column>`` (a VERTEX_SCHEMA row, or a triple's endpoint
        struct): a vertex element before window assignment."""
        label = {"vertex_label": f"{p}vertex_label"} if self.use_vertex_labels else {}
        return {
            "kind": f"'{VERTEX}'",
            "event_time": f"{p}event_time",
            **label,
            **self._promoted(f"{p}vertex_properties", VERTEX),
        }

    # ------------------------------------------------------------------
    # Stages 4 and 9 — groupVertices / groupEdges (GraphStreamGrouping.java:
    # 180-185, 267-272; A7, A8): one windowed aggregation of tagged elements
    # ------------------------------------------------------------------
    @staticmethod
    def _rowtime_ms(rowtime: str) -> str:
        # cast handles TIMESTAMP_NTZ inputs (parquet default); rendered as
        # epoch millis so the id is timezone-name independent
        return f"CAST(unix_millis(CAST({rowtime} AS TIMESTAMP)) AS STRING)"

    def _vertex_super_id(self, rowtime: str, prefix: str = "") -> str:
        """CreateSuperElementId over [label?] + grouping values + rowtime
        (TableGroupingBase.java buildVertexProjectExpressions; rowtime is
        always the last hash field), of the vertex group values named
        ``{prefix}<column>``: a vertex row's, or on the triple fast path a
        super-edge's endpoint values (``source_``/``target_``), hashed with
        the rowtime of the edge's window."""
        fields = [f"{prefix}{c}" for c in self._vertex_values()]
        return super_element_id([*fields, self._rowtime_ms(rowtime)])

    def _edge_super_id(self, source: str, target: str, rowtime: str) -> str:
        """src + tgt + [label?] + grouping values + rowtime. The reference
        omits src/tgt (TableGroupingBase.java:426-441), which its own tests
        flag as buggy (LabelGroupSizeAggTest.java:25)."""
        fields = [source, target] + (["edge_label"] if self.use_edge_labels else [])
        fields += [self._egk(i) for i in range(len(self.edge_grouping_keys))]
        return super_element_id([*fields, self._rowtime_ms(rowtime)])

    def _assign_window(self, rows: DataFrame, cols) -> DataFrame:
        """Element rows (``kind``, ``event_time`` and ``cols``) as windowed
        element rows: tumbling and sliding windows only. A sliding window's
        ``Expand`` copies exactly these columns."""
        return rows.selectExpr(f"{window_expr(self.window)} AS window", "kind", *map(quote, cols))

    def _elements(self, df: DataFrame, kind: str) -> DataFrame:
        """A stage-3/8 frame as element rows: window, ``kind``, what the
        aggregation reads (sessions: plus the raw event time)."""
        session = ["event_time"] if self.window.kind == WindowKind.SESSION else []
        cols = map(quote, self._element_cols(kind))
        return df.selectExpr("window", f"'{kind}' AS kind", *cols, *session)

    def _aggregate(self, elements: DataFrame, kinds: tuple[str, ...], ids: bool = True) -> DataFrame:
        """Stages 4 and 9 as one windowed aggregation of element rows: one
        row per (window, kind, group) with each kind's grouping columns and
        aggregates (``_<kind>_<output key>``); other-kind columns are NULL."""
        if self.window.kind == WindowKind.SESSION:
            window = f"{window_expr(self.window)} AS window"
        else:
            window = "window"
        keys = [window, "kind", *[quote(c) for k in kinds for c in self._group_cols(k, ids)]]
        aggs = [
            f"{a.agg_sql(quote(self._agg_in(k, a)))} AS {quote(self._agg_out(k, a))}"
            for k in kinds
            for a in self._aggs(k)
        ]
        return elements.groupBy(*map(F.expr, keys)).agg(
            *map(F.expr, aggs or ["count(1) AS _group_size"])
        )

    def _summary(self, tagged: DataFrame, kind: str) -> DataFrame:
        """One kind's rows of a tagged summary table, one per super
        element: window, keys, rowtime, label, aggregates and the
        ``super_<vertex|edge>_id`` hash. Fast-path super-edges carry their
        endpoints' group values, which are hashed here into ``source_id``
        and ``target_id``: once per super-edge."""
        label = f"{NAME[kind]}_label"
        rowtime = rowtime_expr()
        cols = {"window": "window"}
        if kind == VERTEX:
            cols |= {c: c for c in self._keys(VERTEX)}
            super_id = self._vertex_super_id(rowtime)
        else:
            # join-path tables are grouped by the J2 ids already
            ids = "source_id" in tagged.columns
            cols |= {
                f"{side}_id": f"{side}_id" if ids else self._vertex_super_id(rowtime, f"{side}_")
                for side in ENDS
            }
            super_id = self._edge_super_id(cols["source_id"], cols["target_id"], rowtime)
            cols |= {k: k for k in map(self._egk, range(len(self.edge_grouping_keys)))}
        cols |= {
            "event_time": rowtime,
            label: label if self._use_label(kind) else f"'{NO_LABEL}'",
            **{a.output_key: quote(self._agg_out(kind, a)) for a in self._aggs(kind)},
            f"super_{NAME[kind]}_id": super_id,
        }
        return tagged.where(f"kind = '{kind}'").selectExpr(*_exprs(cols))

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
        pairs = [(k, self._gk(i)) for i, k in enumerate(self.vertex_grouping_keys)]
        pairs += [(a.output_key, quote(a.output_key)) for a in self.vertex_aggs]
        return grouped.selectExpr(
            "super_vertex_id AS vertex_id",
            "event_time",
            "vertex_label",
            f"{fold_properties(pairs)} AS vertex_properties",
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
            super_id = self._vertex_super_id("event_time")
            return enhanced.selectExpr("vertex_id", "window", f"{super_id} AS super_vertex_id")
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
        # shuffled BNLJ). Over a stream, ``run_grouping_job`` expands
        # session windows with this same join, as a stream-stream join.
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
        (StreamTriple), so an edge element is keyed by the label and
        grouping values of its endpoints' vertex groups: the super
        source/target ids are a function of those values and the window,
        and ``_summary`` hashes them once per super-edge. No join and no
        shuffle on the edge-expansion path. Tumbling/sliding only.

        The edge's keys and aggregate inputs and each endpoint's values are
        read from the triple in one projection, below the window
        assignment, so the endpoint structs and property bags fold away to
        the fields read instead of being built per edge, and a sliding
        window's ``Expand`` copies only those fields.

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
        edge = {"kind": f"'{EDGE}'", "event_time": "event_time", "edge_label": "edge_label"}
        edge |= self._promoted("edge_properties", EDGE)  # 8
        for side in ENDS:  # 6 + 7: the endpoints' vertex-group values
            values = self._vertex_rows(f"{side}.")
            edge |= {f"{side}_{c}": values[c] for c in self._vertex_values()}
        if not unique:  # the observation the windowed dedup compares
            edge |= {"edge_id": "edge_id", "edge_properties": "edge_properties"}
        kinds: tuple[str, ...] = (EDGE,)
        if graph.source_vertices is None:
            rows = triples.selectExpr(*_exprs(edge))
        else:
            if not unique:
                raise ValueError("source_vertices needs distinct triples (elements_unique)")
            kinds = (EDGE, VERTEX)
            vertex = self._vertex_rows("source.")  # 1, 3
            names = dict.fromkeys([*edge, *vertex])

            def element(own: dict, other: dict) -> str:
                # one struct type for both kinds: the other kind's fields
                # are NULLs of their type
                fields = [own.get(n) or f"CASE WHEN false THEN {other[n]} END" for n in names]
                return "struct(" + ", ".join(_exprs(dict(zip(names, fields)))) + ")"

            # built in a projection of their own, which Catalyst merges into
            # the binding's, so the explode reads the few fields the keys
            # need rather than the endpoint structs and property bags
            pair = triples.selectExpr(
                f"{element(edge, vertex)} AS e",
                f"{element(vertex, edge)} AS v",
                f"{graph.source_vertices} AS has_v",
            )
            both = "CASE WHEN has_v THEN array(e, v) ELSE array(e) END"
            rows = pair.selectExpr(f"explode({both}) AS el").selectExpr("el.*")

        elements = [c for k in kinds for c in self._element_cols(k, ids=False)]
        if not unique:  # stage 2, after expansion
            observed = dict.fromkeys([*elements, "edge_id", "edge_label", "edge_properties"])
            deduped = self._distinct(self._assign_window(rows, observed), "edge_properties")
            return deduped.selectExpr("window", "kind", *map(quote, elements))
        return self._assign_window(rows, elements)

    # ------------------------------------------------------------------
    # Stage 8 — enrichEdgesWithSuperVertices (GraphStreamGrouping.java:262-265)
    # ------------------------------------------------------------------
    def enrich_edges(self, edges: DataFrame) -> DataFrame:
        return edges.selectExpr("*", *_exprs(self._promoted("edge_properties", EDGE)))

    # ------------------------------------------------------------------
    # Stage 10 — createSuperEdges (GraphStreamGrouping.java:274-277;
    # exprs TableGroupingBase.java:707-741)
    # ------------------------------------------------------------------
    def create_super_edges(self, grouped: DataFrame) -> DataFrame:
        pairs = [(k, self._egk(i)) for i, k in enumerate(self.edge_grouping_keys)]
        pairs += [(a.output_key, quote(a.output_key)) for a in self.edge_aggs]
        return grouped.selectExpr(
            "super_edge_id AS edge_id",
            "edge_label",
            f"{fold_properties(pairs)} AS edge_properties",
            "source_id",
            "target_id",
            "event_time",
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
        if fast:  # 2, 6-8, then 4 + 9 as one aggregation
            if graph.elements_unique:  # 1 (shuffle-free) + 3
                rows = vertices.selectExpr(*_exprs(self._vertex_rows()))
                vertex_elements = self._assign_window(rows, self._element_cols(VERTEX))
            else:  # 1 + 3
                deduped_v = self.dedup_vertices(vertices)
                vertex_elements = self._elements(self.enhance_vertices(deduped_v), VERTEX)
            edges = self.triple_elements(graph)
            elements = vertex_elements.unionByName(edges, allowMissingColumns=True)
            return self._aggregate(elements, (VERTEX, EDGE), ids=False)
        if graph.elements_unique and self.window.kind != WindowKind.SESSION:
            deduped_v = self.assign_window_vertices(vertices)  # 1 (shuffle-free)
        else:
            deduped_v = self.dedup_vertices(vertices)  # 1
        enhanced_v = self.enhance_vertices(deduped_v)  # 3
        grouped_v = self._aggregate(self._elements(enhanced_v, VERTEX), (VERTEX,))  # 4
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
