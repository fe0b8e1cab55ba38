"""Source/sink operator coverage: CSV round-trip (reference S4/S8) and the
rate-source triple generator (reference S2)."""

from __future__ import annotations

import json

from pyspark.sql import functions as F

from graph_stream_zoomer_spark import Count, StreamGraphConfig, WindowConfig
from graph_stream_zoomer_spark.operators.grouping import GroupingBuilder
from graph_stream_zoomer_spark.sources.csv import read_transcript_csv, write_graph_csv
from graph_stream_zoomer_spark.sources.rate import rate_triples
from graph_stream_zoomer_spark.sources.transcripts import (
    generate_transcripts,
    transcript_graph,
)


def test_csv_roundtrip_matches_parquet_path(spark, tmp_path):
    """Transcripts written as CSV then read via read_transcript_csv produce
    the same grouping result as the in-memory path; write_graph_csv emits
    <path>_V / <path>_E with JSON-encoded property bags."""
    turns = generate_transcripts(spark, 30, late_fraction_pct=0, skew=False)
    csv_in = str(tmp_path / "turns_csv")
    (
        turns.withColumn("ts", F.date_format("ts", "yyyy-MM-dd HH:mm:ss"))
        .write.option("header", "true")
        .mode("overwrite")
        .csv(csv_in)
    )

    back = read_transcript_csv(spark, csv_in)
    assert back.schema.simpleString() == turns.schema.simpleString()
    assert back.count() == turns.count()

    cfg = StreamGraphConfig(window=WindowConfig.tumbling(60, "SECONDS"))
    op = (
        GroupingBuilder()
        .add_vertex_grouping_key(":label")
        .add_vertex_aggregate_function(Count())
        .add_edge_grouping_key(":label")
        .add_edge_aggregate_function(Count())
        .set_window_config(cfg.window)
        .set_config(cfg)
        .build()
    )
    out_mem = transcript_graph(turns, cfg).apply(op)
    out_csv = transcript_graph(back, cfg).apply(op)

    def key(df):
        return {
            (r["vertex_label"], r["event_time"]): r["vertex_properties"]["count"]
            for r in df.vertices.collect()
        }

    assert key(out_csv) == key(out_mem)

    sink = str(tmp_path / "graph")
    write_graph_csv(out_mem.vertices, out_mem.edges, sink)
    v_back = spark.read.option("header", "true").csv(sink + "_V")
    assert v_back.count() == out_mem.vertices.count()
    props = json.loads(v_back.select("vertex_properties").first()[0])
    assert "count" in props  # map bag survives as JSON


def test_rate_triples_deterministic_schema(spark, tmp_path):
    """Rate-source triples: correct triple schema, deterministic fields
    (pure functions of `value` — identical across two runs), dictionary
    sizes respected."""
    rows = {}
    for run in ("a", "b"):
        df = rate_triples(
            spark,
            rows_per_second=50,
            num_vertex_labels=3,
            num_edge_labels=2,
            num_vertex_ids=7,
        )
        q = (
            df.writeStream.format("memory")
            .queryName(f"rate_{run}")
            .outputMode("append")
            .option("checkpointLocation", str(tmp_path / f"cp_{run}"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        got = spark.sql(f"select * from rate_{run}").collect()
        assert len(got) == 50
        rows[run] = {
            r["edge_id"]: (
                r["edge_label"],
                r["source"]["vertex_id"],
                r["source"]["vertex_label"],
                r["target"]["vertex_id"],
            )
            for r in got
        }
    assert rows["a"] == rows["b"]  # replay-stable, no runtime randomness
    labels = {v[0] for v in rows["a"].values()}
    assert labels <= {"E0", "E1"}
    vids = {v[1] for v in rows["a"].values()} | {v[3] for v in rows["a"].values()}
    assert all(int(x[1:]) < 7 for x in vids)


def test_kafka_value_parsing_projection(spark):
    """The Kafka adapter's value-parsing projection (sources/kafka.py) over
    static rows shaped like Kafka records — no connector jar needed."""
    import json

    from graph_stream_zoomer_spark.sources.kafka import (
        KAFKA_RECORD_DDL,
        parse_transcript_records,
    )

    good = {
        "conv_id": "c1",
        "turn_idx": 0,
        "role": "user",
        "text": "hi",
        "tool": "",
        "ts": "2025-01-01 00:00:00",
    }
    rows = [
        (None, json.dumps(good).encode(), "t", 0, 0, None, 0),
        (None, json.dumps({**good, "turn_idx": 1, "role": "assistant"}).encode(), "t", 0, 1, None, 0),
        (None, b"{not json", "t", 1, 0, None, 0),          # malformed
        (None, json.dumps({"role": "user"}).encode(), "t", 1, 1, None, 0),  # missing keys
    ]
    records = spark.createDataFrame(rows, KAFKA_RECORD_DDL)

    turns = parse_transcript_records(records)
    got = {(r.conv_id, r.turn_idx, r.role) for r in turns.collect()}
    assert got == {("c1", 0, "user"), ("c1", 1, "assistant")}
    assert turns.columns == ["conv_id", "turn_idx", "role", "text", "tool", "ts"]

    # corrupt records are quarantined with lineage metadata, not dropped
    kept = parse_transcript_records(records, keep_metadata=True, drop_corrupt=False)
    bad = [r for r in kept.collect() if r._corrupt]
    assert {(r.partition, r.offset) for r in bad} == {(1, 0), (1, 1)}


def test_kafka_summary_records_projection(spark):
    """Sink-side twin: summary rows → (key, value) producer records; the
    key defaults to the exactly-once sink key, the value round-trips the
    whole row through JSON."""
    import json as _json

    import pytest

    from graph_stream_zoomer_spark.sources.kafka import summary_records

    rows = [("2025-01-01 00:00:00", "sv1", "user", 3), ("2025-01-01 00:10:00", "sv2", "tool", 1)]
    df = spark.createDataFrame(
        rows, "window_start string, super_vertex_id string, vertex_label string, count long"
    )
    recs = summary_records(df).collect()
    keys = {bytes(r["key"]).decode() for r in recs}
    assert keys == {"2025-01-01 00:00:00|sv1", "2025-01-01 00:10:00|sv2"}
    vals = [_json.loads(bytes(r["value"])) for r in recs]
    assert {v["vertex_label"] for v in vals} == {"user", "tool"}
    assert all(set(v) == {"window_start", "super_vertex_id", "vertex_label", "count"} for v in vals)
    # explicit keys validated; absent defaults raise
    with pytest.raises(ValueError, match="not in"):
        summary_records(df, key_cols=["nope"])
    with pytest.raises(ValueError, match="no default key"):
        summary_records(df.select("vertex_label", "count"))
