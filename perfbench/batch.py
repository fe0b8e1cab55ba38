"""Batch workload: the grouping operator over a parquet turns table.

A unit reads the parquet input, binds it with ``transcript_graph``, groups
it and collects both output streams with every column. Units run one after
another in one warmed Spark session (a closed loop with one client).
"""

from __future__ import annotations

import os
import statistics
import time
from dataclasses import replace

import check
import gen
import sparkenv
from check import Grouping

# today's flagship: tumbling 10-minute windows, vertices by :label with
# Count + AvgProperty("text_len"), edges by :label with Count
FLAGSHIP = Grouping(
    size_ms=600_000, slide_ms=600_000,
    vertex_keys=(), vertex_aggs=("count", "avg_text_len"),
    edge_keys=(), edge_aggs=("count",),
)
WARMUP_UNITS = 4
REFERENCE_UNITS = 2  # untraced units a traced run times for comparison


def build_operator(g: Grouping):
    from graph_stream_zoomer_spark import (
        AvgProperty, Count, GroupingBuilder, MaxProperty, MinProperty,
        StreamGraphConfig, SumProperty, WindowConfig,
    )

    aggs = {"min": MinProperty, "max": MaxProperty, "sum": SumProperty, "avg": AvgProperty}

    def agg(name):
        if name == "count":
            return Count()
        fn, key = name.split("_", 1)
        return aggs[fn](key)

    if g.size_ms == g.slide_ms:
        window = WindowConfig.tumbling(g.size_ms // 1000)
    else:
        window = WindowConfig.sliding(g.size_ms // 1000, g.slide_ms // 1000)
    cfg = StreamGraphConfig(window=window)
    b = GroupingBuilder().add_vertex_grouping_key(":label").add_edge_grouping_key(":label")
    b.add_vertex_grouping_keys(list(g.vertex_keys)).add_edge_grouping_keys(list(g.edge_keys))
    for a in g.vertex_aggs:
        b.add_vertex_aggregate_function(agg(a))
    for a in g.edge_aggs:
        b.add_edge_aggregate_function(agg(a))
    return cfg, b.set_window_config(window).set_config(cfg).build()


def run(ctx, g: Grouping, n_convs: int) -> dict:
    table = gen.make_turns(ctx.seed, n_convs)
    path = os.path.join(ctx.work, "turns")
    gen.write_table(table, path, ctx.cores)
    exp_v, exp_e = check.expected(ctx.duckdb, f"{path}/*.parquet", g, stream=False)
    counts = check.identities(table, g)
    n_turns = table.num_rows
    ctx.record["input"] = dict(turns=n_turns, conversations=n_convs, files=ctx.cores,
                               windows=len({v[0] for v in exp_v.values()}),
                               super_vertices=len(exp_v), super_edges=len(exp_e),
                               vertex_count_sum=counts[0], edge_count_sum=counts[1])

    spark = ctx.start_spark()
    from graph_stream_zoomer_spark.sources.transcripts import transcript_graph

    cfg, op = build_operator(g)

    def unit(group: str):
        spark.sparkContext.setJobGroup(group, group)
        t = spark.read.parquet(path)
        return sparkenv.collect_graph(transcript_graph(t, cfg).apply(op))

    def checked(result) -> bool:
        errs = check.compare(result, exp_v, exp_e, g, counts)
        for e in errs[:5]:
            ctx.log(f"check: {e}")
        return not errs

    warm = []
    for i in range(WARMUP_UNITS):
        t0 = time.perf_counter()
        result = unit(f"warmup-{i}")
        warm.append(time.perf_counter() - t0)
    ctx.setup_done(sum(warm))
    ctx.record["warmup_s"] = warm
    if not checked(result):
        ctx.correct = False
    for bad in check.perturbed(result):
        if not check.compare(bad, exp_v, exp_e, g, counts):
            ctx.log("check: a perturbed result passed the check")
            ctx.correct = False

    walls, shuffles, counters = [], [], []
    start = time.perf_counter()

    def more() -> bool:
        if not walls:
            return True
        if ctx.trace:
            return len(walls) < REFERENCE_UNITS
        return time.perf_counter() - start + statistics.median(walls) <= ctx.seconds

    while more():
        group = f"unit-{len(walls)}"
        ctx.attempted += 1
        try:
            t0 = time.perf_counter()
            result = unit(group)
            walls.append(time.perf_counter() - t0)
        except Exception as e:  # a failed unit is counted, and the loop goes on
            ctx.log(f"{group} raised {type(e).__name__}: {e}")
            ctx.failed += 1
            walls.append(float("inf"))
            continue
        if not checked(result):
            ctx.failed += 1
            ctx.correct = False
        counters.append(sparkenv.stage_counters(spark, group))
        shuffles.append(counters[-1]["shuffle_mb"])
    ctx.record["unit_s"] = walls
    p50 = statistics.median(walls)
    if not ctx.trace:
        return dict(
            turns_per_s=(n_turns / p50, "turns/s"),
            setup_s=(ctx.setup_s, "s"),
            batch_p50_s=(p50, "s"),
            state_mb=(statistics.median(shuffles), "MB"),
        )
    return traced(ctx, spark, path, cfg, op, checked, p50, counters, start)


def traced(ctx, spark, path, cfg, op, checked, untraced_p50, counters, start) -> dict:
    """Units run layer by layer; each layer's output is materialized with a
    local checkpoint so that its span covers its own work only."""
    from graph_stream_zoomer_spark.sources.transcripts import transcript_graph

    spans = sparkenv.Spans()
    layers: list[dict] = []
    j, wall = 0, 0.0

    def materialize(name: str, *frames):
        """One layer: its frames' plans run to a local checkpoint under the
        layer's span and job group."""
        group = f"traced-{j}-{name}"
        spark.sparkContext.setJobGroup(group, group)
        spans.start(name, group=group)
        outs = [df.localCheckpoint(eager=True) for df in frames]
        done.append((spans.end(), frames, outs))
        return outs

    # unit 0 compiles the layer plans and is left out of the figures
    while j < 2 or time.perf_counter() - start + wall <= ctx.seconds:
        ctx.attempted += 1
        done: list = []
        unit = spans.start("unit", unit=j, warmup=j == 0)
        (t,) = materialize("read", spark.read.parquet(path))
        graph = transcript_graph(t, cfg)
        triples, vertices = materialize("bind", graph.triples, graph.vertices)
        out = replace(graph, vertices=vertices, triples=triples).apply(op)
        (sv,) = materialize("vertex", out.vertices)
        (se,) = materialize("edge", out.edges)
        spark.sparkContext.setJobGroup(f"traced-{j}-collect", "collect")
        spans.start("collect", group=f"traced-{j}-collect")
        result = sparkenv.collect_graph(replace(out, vertices=sv, edges=se))
        spans.end()
        wall = spans.end()["end"] - spans.spans[unit]["start"]
        if not checked(result):
            ctx.failed += 1
            ctx.correct = False

        # counters are read after the unit, outside its span
        for span, frames, outs in done:
            plan = [sparkenv.plan_counters(spark, df) for df in frames]
            span["rows"] = [o.count() for o in outs]
            span["shuffle_mb"] = sum(c.get("shuffleBytesWritten", 0) for c in plan) / sparkenv.MB
            span["spill_mb"] = sum(c.get("spillSize", 0) for c in plan) / sparkenv.MB
            span["tasks"] = sparkenv.stage_counters(spark, span["group"])
            for o in outs:
                o.unpersist()
        sel = {s["name"]: s for s in spans.spans if s["parent"] == unit}
        sel["collect"]["tasks"] = sparkenv.stage_counters(spark, sel["collect"]["group"])
        self_s = {k: spans.self_time(s) for k, s in sel.items()}
        m = {
            "read.s": self_s["read"], "read.rows": sel["read"]["rows"][0],
            "bind.s": self_s["bind"], "bind.triples": sel["bind"]["rows"][0],
            "bind.vertices": sel["bind"]["rows"][1], "bind.shuffle_mb": sel["bind"]["shuffle_mb"],
            "bind.spill_mb": sel["bind"]["spill_mb"],
            "vertex.s": self_s["vertex"], "vertex.rows_in": sel["bind"]["rows"][1],
            "vertex.groups": len(result[0]), "vertex.shuffle_mb": sel["vertex"]["shuffle_mb"],
            "edge.s": self_s["edge"], "edge.rows_in": sel["bind"]["rows"][0],
            "edge.groups": len(result[1]), "edge.shuffle_mb": sel["edge"]["shuffle_mb"],
            "collect.s": self_s["collect"], "collect.rows": len(result[0]) + len(result[1]),
            "trace.overhead_pct": 100 * (wall / untraced_p50 - 1),
            "trace.layer_share_pct": 100 * sum(self_s.values()) / untraced_p50,
        }
        spans.spans[unit]["metrics"] = m
        if j:
            layers.append(m)
        j += 1

    metrics = {k: (statistics.median(m[k] for m in layers), unit_of(k)) for k in layers[0]}
    for k in counters[0]:
        metrics[f"exec.{k}"] = (statistics.median(c[k] for c in counters), unit_of(k))
    spans.dump(ctx.trace_path, untraced_unit_s=ctx.record["unit_s"], exec_counters=counters)
    return metrics


def unit_of(name: str) -> str:
    for suffix, unit in (("_pct", "%"), ("_mb", "MB"), ("_ms", "ms"), (".s", "s"), ("_s", "s")):
        if name.endswith(suffix):
            return unit
    return "count"
