"""Port of the reference's stage-level golden tests.

Config A — FullGroupCountAggTest.java:43-45,113-122,204-214:
  full-group (no keys, no labels) + Count on both sides, 1-minute tumbling
  window → exactly 1 super-vertex (count=8) and 1 super-edge (count=8) at
  rowtime window_end − 1 ms; labels "".

Config B — LabelGroupSizeAggTest.java:44-51,118-144,169-187,243-269:
  :label grouping on both + SumProperty(Size)/SumProperty(Weight), 10 s
  tumbling window → per-(label, window) sums and the vertex→super-vertex
  grouping map {v1,v3},{v2,v4},{v5,v7},{v6,v8}.

Timestamps here are UTC epoch-millis (the reference's string goldens are the
same instants rendered in Europe/Berlin).
"""

from __future__ import annotations

import pytest

from graph_stream_zoomer_spark import (
    Count,
    GroupingBuilder,
    StreamGraph,
    StreamGraphConfig,
    SumProperty,
    WindowConfig,
)
from graph_stream_zoomer_spark.sources.fixture import T1_MS, fixture_triples

W1_ROWTIME = T1_MS + 9_999  # 10 s window containing t1
W2_ROWTIME = T1_MS + 19_999  # 10 s window containing t2
MIN_ROWTIME = (T1_MS // 60_000) * 60_000 + 59_999  # 1-minute window


def _ms(ts) -> int:
    return int(ts.timestamp() * 1000)


@pytest.fixture(scope="module")
def graph(spark):
    return StreamGraph.from_triples(fixture_triples(spark))


def _build_config_a():
    return (
        GroupingBuilder()
        .add_vertex_aggregate_function(Count())
        .add_edge_aggregate_function(Count())
        .set_window_config(WindowConfig.tumbling(1, "MINUTES"))
        .build()
    )


def _build_config_b():
    return (
        GroupingBuilder()
        .add_vertex_grouping_key(":label")
        .add_edge_grouping_key(":label")
        .add_vertex_aggregate_function(SumProperty("Size"))
        .add_edge_aggregate_function(SumProperty("Weight"))
        .set_window_size(10, "SECONDS")
        .build()
    )


def test_vertex_dedup_collapses_duplicates(graph):
    op = _build_config_a()
    deduped = op.dedup_vertices(graph.vertices)
    # 16 raw observations (8 edges × 2 endpoints) → 8 unique vertices
    assert graph.vertices.count() == 16
    assert deduped.count() == 8
    assert deduped.select("vertex_id").distinct().count() == 8


def test_config_a_full_group_count(graph):
    result = graph.apply(_build_config_a())
    sv = result.vertices.collect()
    se = result.edges.collect()
    assert len(sv) == 1
    assert sv[0]["vertex_label"] == ""
    assert sv[0]["vertex_properties"]["count"] == "8"
    assert _ms(sv[0]["event_time"]) == MIN_ROWTIME
    assert len(se) == 1
    assert se[0]["edge_label"] == ""
    assert se[0]["edge_properties"]["count"] == "8"
    assert _ms(se[0]["event_time"]) == MIN_ROWTIME
    # super edge endpoints reference the single super vertex
    assert se[0]["source_id"] == sv[0]["vertex_id"]
    assert se[0]["target_id"] == sv[0]["vertex_id"]


GOLDEN_VERTICES = {
    ("A", W1_ROWTIME): 45.0,
    ("B", W1_ROWTIME): 15.0,
    ("A", W2_ROWTIME): 30.0,
    ("B", W2_ROWTIME): 15.0,
}
GOLDEN_EDGES = {
    ("impacts", W1_ROWTIME): 6.0,
    ("calculates", W1_ROWTIME): 3.0,
    ("impacts", W2_ROWTIME): 12.0,
    ("calculates", W2_ROWTIME): 3.0,
}


def _check_config_b(result):
    sv = {
        (r["vertex_label"], _ms(r["event_time"])): float(r["vertex_properties"]["sum_Size"])
        for r in result.vertices.collect()
    }
    assert sv == GOLDEN_VERTICES
    se = {
        (r["edge_label"], _ms(r["event_time"])): float(r["edge_properties"]["sum_Weight"])
        for r in result.edges.collect()
    }
    assert se == GOLDEN_EDGES


def test_config_b_label_sum(graph):
    _check_config_b(graph.apply(_build_config_b()))


def test_config_b_join_path(spark, graph):
    """Same goldens through the generic (non-triple) join path J1/J2."""
    g2 = StreamGraph(vertices=graph.vertices, edges=graph.edges, config=graph.config, triples=None)
    _check_config_b(g2.apply(_build_config_b()))


def test_super_vertex_membership_map(graph):
    """Vertex→super-vertex grouping: {v1,v3},{v2,v4},{v5,v7},{v6,v8}
    (LabelGroupSizeAggTest.java:169-187): same super id within a group,
    distinct across groups."""
    op = _build_config_b()
    deduped = op.dedup_vertices(graph.vertices)
    enhanced = op.enhance_vertices(deduped)
    expanded = op.expand_vertices(enhanced)
    mapping = {r["vertex_id"]: r["super_vertex_id"] for r in expanded.collect()}
    groups = [("v1", "v3"), ("v2", "v4"), ("v5", "v7"), ("v6", "v8")]
    for a, b in groups:
        assert mapping[a] == mapping[b], (a, b)
    reps = [mapping[g[0]] for g in groups]
    assert len(set(reps)) == 4


def test_super_edge_id_includes_endpoints_by_default(spark, graph):
    """The super-edge id hashes both endpoint super ids, fixing the
    reference's super-edge-id collision (§2.8)."""
    result = graph.apply(_build_config_b())
    edges = result.edges.collect()
    assert len({e["edge_id"] for e in edges}) == len(edges)


def test_property_grouping_with_nulls(graph):
    """Group vertices by property 'Weekday': missing property ⇒ one shared
    null group (README.md:97-100)."""
    op = (
        GroupingBuilder()
        .add_vertex_grouping_key("Weekday")
        .add_vertex_aggregate_function(Count())
        .add_edge_aggregate_function(Count())
        .set_window_size(1, "MINUTES")
        .build()
    )
    result = graph.apply(op)
    sv = {
        r["vertex_properties"].get("Weekday"): int(r["vertex_properties"]["count"])
        for r in result.vertices.collect()
    }
    # Monday: v1,v3,v5,v7; Thursday: v4,v8; absent: v2,v6
    assert sv == {"Monday": 4, "Thursday": 2, None: 2}


def test_output_composes(graph):
    """Closed operator: grouping output can be re-grouped (README.md:16-20)."""
    once = graph.apply(_build_config_b())
    twice = once.group_by([":label"], [Count()], [":label"], [Count()])
    sv = {r["vertex_label"]: r["vertex_properties"]["count"] for r in twice.vertices.collect()}
    assert set(sv) == {"A", "B"}


def test_group_by_uses_graph_config(spark, monkeypatch):
    """``StreamGraph.group_by`` builds its operator with the graph's config,
    not only its window."""
    cfg = StreamGraphConfig(watermark_delay="3 seconds", window=WindowConfig.tumbling(5, "SECONDS"))
    g = StreamGraph.from_triples(fixture_triples(spark), cfg)
    built = []
    monkeypatch.setattr(StreamGraph, "apply", lambda self, op: built.append(op))
    g.group_by([":label"], [Count()], [":label"], [Count()])
    (op,) = built
    assert op.config is g.config and op.window == cfg.window


def test_to_triples_roundtrip(graph):
    result = graph.apply(_build_config_b())
    triples = result.to_triples()
    rows = triples.collect()
    assert len(rows) == 4  # 4 super edges, each matched to its endpoints
    for r in rows:
        assert r["source"]["vertex_label"] in ("A", "B")
        assert r["target"]["vertex_label"] in ("A", "B")
