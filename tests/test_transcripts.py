"""Transcript generator + graph binding invariants (BASELINE.json
input_hint: per-turn text equality under stable turn ordering)."""

from __future__ import annotations

from collections import defaultdict
from datetime import datetime, timezone

import pytest
from pyspark.sql import functions as F

from graph_stream_zoomer_spark import Count, AvgProperty, StreamGraphConfig, WindowConfig
from graph_stream_zoomer_spark.operators.grouping import GroupingBuilder
from graph_stream_zoomer_spark.sources.events_binding import events_to_transcripts
from graph_stream_zoomer_spark.sources.transcripts import (
    generate_transcripts,
    transcript_graph,
    transcript_triples,
    transcript_vertices,
)


@pytest.fixture(scope="module")
def transcripts(spark):
    return generate_transcripts(spark, 100).cache()


def test_schema_matches_input_hint(transcripts):
    assert [(f.name, f.dataType.simpleString()) for f in transcripts.schema.fields] == [
        ("conv_id", "string"),
        ("turn_idx", "int"),
        ("role", "string"),
        ("text", "string"),
        ("tool", "string"),
        ("ts", "timestamp"),
    ]


def test_deterministic_regeneration(spark, transcripts):
    """Same (seed, n) → byte-identical data: any partition can be
    regenerated anywhere (lineage-friendly)."""
    again = generate_transcripts(spark, 100)
    assert transcripts.exceptAll(again).count() == 0
    assert again.exceptAll(transcripts).count() == 0


def test_turn_ordering_and_text_equality(transcripts):
    """Stable turn ordering: ts strictly monotone within a conversation for
    non-late rows; text embeds (conv_id, turn_idx, role) for per-turn text
    equality checks."""
    rows = transcripts.where(F.col("conv_id") == "c00000050").orderBy("turn_idx").collect()
    assert [r["turn_idx"] for r in rows] == list(range(len(rows)))
    assert rows[0]["role"] == "user"
    for r in rows:
        assert r["text"].startswith(f"{r['conv_id']}:{r['turn_idx']}:{r['role']}:")


def test_roles_and_tools(transcripts):
    roles = {r["role"] for r in transcripts.select("role").distinct().collect()}
    assert roles <= {"user", "assistant", "tool"}
    tools = {
        r["tool"]
        for r in transcripts.where("role = 'tool'").select("tool").distinct().collect()
    }
    assert tools <= {"search", "python", "browser"}
    assert (
        transcripts.where("role <> 'tool' and tool <> ''").count() == 0
    )


def test_skew_knob(transcripts):
    counts = (
        transcripts.groupBy("conv_id").count().orderBy(F.desc("count")).limit(1).collect()
    )
    # first conv is skewed: 10× base turns
    assert counts[0]["conv_id"] == "c00000000"
    assert counts[0]["count"] >= 20


def test_triples_binding(transcripts):
    triples = transcript_triples(transcripts)
    n_turns = transcripts.count()
    n_convs = transcripts.select("conv_id").distinct().count()
    assert triples.count() == n_turns - n_convs  # one edge per consecutive pair
    r = triples.where(F.col("source.vertex_id") == "c00000050:0").collect()[0]
    assert r["target"]["vertex_id"] == "c00000050:1"
    assert r["edge_label"].startswith("user->")
    assert r["edge_properties"]["text_len"] is not None
    assert r["source"]["vertex_properties"]["hour_bucket"] is not None


def _expected_binding(turns):
    """The transcript graph computed in Python from collected turns:
    vertices (every turn of a conversation with >=2 turns), edges and
    triples (one per consecutive pair), with every property-map entry."""
    convs = defaultdict(list)
    for r in turns:
        convs[r["conv_id"]].append(r)

    def vertex(r):
        return {
            "vertex_id": f"{r['conv_id']}:{r['turn_idx']}",
            "vertex_label": r["role"],
            "vertex_properties": {
                "tool": r["tool"],
                "text_len": str(len(r["text"])),
                "hour_bucket": r["ts"].astimezone(timezone.utc).strftime("%Y-%m-%d %H"),
            },
            "event_time": r["ts"],
        }

    vertices, triples = [], []
    for rows in convs.values():
        rows.sort(key=lambda r: r["turn_idx"])
        if len(rows) >= 2:
            vertices += [vertex(r) for r in rows]
        for a, b in zip(rows, rows[1:]):
            label = f"{a['role']}->{b['role']}"
            triples.append({
                "edge_id": f"{a['conv_id']}:{a['turn_idx']}->{b['turn_idx']}",
                "event_time": b["ts"],
                "edge_label": label,
                "edge_properties": {**vertex(b)["vertex_properties"], "transition": label},
                "source": vertex(a),
                "target": vertex(b),
            })
    edges = [
        {"edge_id": t["edge_id"], "edge_label": t["edge_label"],
         "edge_properties": t["edge_properties"], "source_id": t["source"]["vertex_id"],
         "target_id": t["target"]["vertex_id"], "event_time": t["event_time"]}
        for t in triples
    ]
    return vertices, edges, triples


def _by_id(rows):
    return sorted(rows, key=lambda r: r.get("vertex_id") or r["edge_id"])


def test_binding_values_match_python(transcripts):
    """Every column of the batch binding — vertices, edges and triples,
    every property-map entry, the endpoint ids and labels — equals what
    Python computes from the collected turns."""
    graph = transcript_graph(transcripts)
    vertices, edges, triples = _expected_binding(transcripts.collect())
    got = [
        [r.asDict(recursive=True) for r in df.collect()]
        for df in (graph.vertices, graph.edges, graph.triples)
    ]
    assert list(got[0][0]) == ["vertex_id", "event_time", "vertex_label", "vertex_properties"]
    assert list(got[2][0]) == [
        "edge_id", "event_time", "edge_label", "edge_properties", "source", "target",
    ]
    for got_rows, expected in zip(got, (vertices, edges, triples)):
        assert len(got_rows) == len(expected)
        assert _by_id(got_rows) == _by_id(expected)


def test_property_bag_holds_every_extra_turn_column(spark, transcripts):
    """The bag rule: a turn's bag holds ``text_len``, ``hour_bucket`` and
    every turn column outside (conv_id, turn_idx, role, text, ts), as a
    string under its own name. Six-column transcripts give exactly
    {tool, text_len, hour_bucket} (edges add ``transition``); the
    ``events`` table adds ``value_c``, on a vertex from its own turn and on an edge
    from its target turn."""
    keys = {"tool", "text_len", "hour_bucket"}
    g = transcript_graph(transcripts)
    assert {frozenset(r["vertex_properties"]) for r in g.vertices.collect()} == {frozenset(keys)}
    assert {frozenset(r["edge_properties"]) for r in g.edges.collect()} == {
        frozenset(keys | {"transition"})
    }

    events = spark.createDataFrame(
        [
            (0, datetime(2024, 1, 1, 0, 0, 0), 7, "view", 1.25, '{"k": 1}'),
            (1, datetime(2024, 1, 1, 0, 1, 0), 7, "click", 2.5, '{"k": 22}'),
            (2, datetime(2024, 1, 1, 0, 2, 0), 7, "purchase", 10.0, "{}"),
            (3, datetime(2024, 1, 1, 0, 0, 30), 9, "view", 0.01, '{"k": 3}'),
        ],
        "event_id bigint, ts timestamp, user_id bigint, event_type string, value double, props string",
    )
    eg = transcript_graph(events_to_transcripts(events))
    vertices = {r["vertex_id"]: r["vertex_properties"] for r in eg.vertices.collect()}
    # user 9 has one event: no successor edge, so no vertex
    assert {v: p["value_c"] for v, p in vertices.items()} == {"7:0": "125", "7:1": "250", "7:2": "1000"}
    assert all(set(p) == keys | {"value_c"} for p in vertices.values())
    edges = {r["edge_id"]: r["edge_properties"] for r in eg.edges.collect()}
    assert {e: p["value_c"] for e, p in edges.items()} == {"7:0->1": "250", "7:1->2": "1000"}
    assert all(set(p) == keys | {"value_c", "transition"} for p in edges.values())


def test_absent_property_key_groups_as_null(transcripts):
    """A grouping key that names no property of the bag yields a NULL
    group value on both sides (vertex promotion and the triple fast path's
    endpoint extraction), not an error."""
    cfg = StreamGraphConfig(window=WindowConfig.tumbling(600, "SECONDS"))
    graph = transcript_graph(transcripts, cfg)
    op = (
        GroupingBuilder()
        .add_vertex_grouping_keys([":label", "no_such_key"])
        .add_vertex_aggregate_function(Count())
        .add_edge_grouping_keys([":label", "no_such_key"])
        .add_edge_aggregate_function(Count())
        .set_window_config(cfg.window)
        .set_config(cfg)
        .build()
    )
    grouped_v, grouped_e = op.split_summaries(op.summaries(graph))
    v, e = grouped_v.collect(), grouped_e.collect()
    assert v and all(r["_gk_0"] is None for r in v)
    assert e and all(r["_egk_0"] is None for r in e)
    assert sum(int(r["count"]) for r in v) == graph.vertices.count()
    assert sum(int(r["count"]) for r in e) == graph.edges.count()
    # the same super ids as grouping by label alone: a NULL value is
    # skipped by the id hash
    label_only = (
        GroupingBuilder()
        .add_vertex_grouping_key(":label")
        .add_vertex_aggregate_function(Count())
        .add_edge_grouping_key(":label")
        .add_edge_aggregate_function(Count())
        .set_window_config(cfg.window)
        .set_config(cfg)
        .build()
    )
    lv, le = label_only.split_summaries(label_only.summaries(graph))
    assert {r["super_vertex_id"] for r in v} == {r["super_vertex_id"] for r in lv.collect()}
    assert {r["source_id"] for r in e} == {r["source_id"] for r in le.collect()}
    out = graph.apply(op)
    assert all("no_such_key" not in r["vertex_properties"] for r in out.vertices.collect())


def test_group_by_role_count(transcripts):
    """Flagship semantics: group turns by role over 1-minute tumbling
    windows, count + avg text_len; compare against a plain SQL oracle."""
    cfg = StreamGraphConfig(window=WindowConfig.tumbling(60, "SECONDS"))
    graph = transcript_graph(transcripts, cfg)
    op = (
        GroupingBuilder()
        .add_vertex_grouping_key(":label")
        .add_vertex_aggregate_function(Count())
        .add_vertex_aggregate_function(AvgProperty("text_len"))
        .add_edge_grouping_key(":label")
        .add_edge_aggregate_function(Count())
        .set_window_config(cfg.window)
        .set_config(cfg)
        .build()
    )
    result = graph.apply(op)
    got = {
        (r["vertex_label"], r["event_time"]): int(r["vertex_properties"]["count"])
        for r in result.vertices.collect()
    }
    # oracle: dedup (vertex observed once per incident edge) then count per
    # (role, window). A turn is an endpoint of ≤2 edges; unique turns that
    # appear in any triple = all turns of convs with ≥2 turns.
    t = transcripts
    deduped = (
        transcript_vertices(t)
        .join(
            t.groupBy("conv_id").count().where("count >= 2").select("conv_id"),
            F.split(F.col("vertex_id"), ":")[0] == F.col("conv_id"),
            "inner",
        )
        .select(
            "vertex_label",
            F.window("event_time", "60 seconds").alias("w"),
            "vertex_id",
        )
        .distinct()
    )
    expected = {
        (r["vertex_label"], r["rowtime"]): r["cnt"]
        for r in deduped.groupBy("vertex_label", "w")
        .agg(F.count("*").alias("cnt"))
        .select(
            "vertex_label",
            F.expr("w.end - interval 1 millisecond").alias("rowtime"),
            "cnt",
        )
        .collect()
    }
    assert got == expected
    for r in result.vertices.collect():
        assert float(r["vertex_properties"]["avg_text_len"]) > 0
