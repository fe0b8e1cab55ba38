"""Streaming workload: a backfill drained through the streaming job.

The turns are written as event-time-ordered parquet chunks and drained by
``streaming/job.py:run_grouping_job(..., unified=True)`` with
``availableNow`` and ``maxFilesPerTrigger=1``: one micro-batch per chunk,
committed to ``IdempotentParquetSink`` with checkpoints. Each drain starts
from a fresh output root, so drains repeat the same work.
"""

from __future__ import annotations

import json
import os
import statistics
import time
from datetime import datetime

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

import check
import gen
import sparkenv
from batch import FLAGSHIP, build_operator, unit_of

WARMUP_CONVS = 2_000
WARMUP_CHUNKS = 1
JOIN_OP, AGG_OP = "symmetricHashJoin", "stateStoreSave"


def _sink_rows(sink, g, kind: str) -> list:
    """The committed rows of one sink as ``check.compare`` row tuples."""
    keys = g.vertex_keys if kind == "v" else g.edge_keys
    aggs = g.vertex_aggs if kind == "v" else g.edge_aggs
    gk = "_gk_" if kind == "v" else "_egk_"
    rows = []
    for rec in sink.metrics.batches:
        if not rec["rows"]:
            continue
        t = pq.read_table(os.path.join(sink.data_dir, f"batch_id={rec['batch_id']}"))
        ms = pc.cast(pc.cast(t["event_time"], pa.timestamp("ms")), pa.int64()).to_pylist()
        t = t.to_pydict()
        for i in range(len(ms)):
            props = {k: t[f"{gk}{j}"][i] for j, k in enumerate(keys)}
            props |= {a: str(t[a][i]) if a == "count" else repr(t[a][i]) for a in aggs}
            if kind == "v":
                rows.append((t["super_vertex_id"][i], ms[i], t["vertex_label"][i], props))
            else:
                rows.append((t["super_edge_id"][i], t["edge_label"][i], props,
                             t["source_id"][i], t["target_id"][i], ms[i]))
    return rows


def run(ctx, n_convs: int, n_chunks: int) -> dict:
    g = FLAGSHIP
    table = gen.make_turns(ctx.seed, n_convs)
    in_dir = os.path.join(ctx.work, "stream-in")
    mtime0 = int(time.time()) - 3600
    gen.write_time_chunks(table, in_dir, n_chunks, mtime0)
    warm_dir = os.path.join(ctx.work, "warmup-in")
    gen.write_time_chunks(gen.make_turns(ctx.seed + 1, WARMUP_CONVS), warm_dir, WARMUP_CHUNKS, mtime0)
    exp_v, exp_e = check.expected(ctx.duckdb, f"{in_dir}/*.parquet", g, stream=True)
    drops = check.stream_drops(ctx.duckdb)
    n_turns = table.num_rows
    ctx.record["input"] = dict(turns=n_turns, conversations=n_convs, chunks=n_chunks,
                               windows=len({v[0] for v in exp_v.values()}))
    ctx.record["drops"] = drops

    spark = ctx.start_spark()
    from graph_stream_zoomer_spark.streaming.job import read_transcript_stream, run_grouping_job

    _, op = build_operator(g)
    plog = sparkenv.ProgressLog(spark)
    drains = 0

    def drain(src: str, name: str):
        nonlocal drains
        t0 = time.time()
        stream = read_transcript_stream(spark, src, max_files_per_trigger=1)
        res = run_grouping_job(spark, stream, op, os.path.join(ctx.work, name), unified=True)
        drains += 1
        plog.wait_terminated(drains)
        commits = res.vertex_sink.metrics.batches
        wall = max(c["committed_at"] for c in commits) - t0
        return res, plog.take(), wall

    t0 = time.perf_counter()
    drain(warm_dir, "warmup")
    ctx.setup_done(time.perf_counter() - t0)

    per_drain = []
    start = time.perf_counter()
    def more() -> bool:
        if not per_drain:
            return True
        return time.perf_counter() - start + statistics.median(d["wall_s"] for d in per_drain) <= ctx.seconds

    while more():
        res, progress, wall = drain(in_dir, f"drain-{len(per_drain)}")
        n_commits = len(res.vertex_sink.metrics.batches)
        ctx.attempted += n_commits
        # the windows the drain closed: every window ending at or before the
        # watermark of the drain's last trigger, held back by the join's
        # one-hour time bound before it reaches the aggregations
        closing_wm = max(_watermark_ms(p) for p in progress) - check.MAX_TURN_GAP_MS
        closed = {v[0] for v in exp_v.values() if v[0] + 1 <= closing_wm}
        result = (_sink_rows(res.vertex_sink, g, "v"), _sink_rows(res.edge_sink, g, "e"))
        errs = check.compare(result, exp_v, exp_e, g, None, windows=closed)
        for e in errs[:5]:
            ctx.log(f"check: {e}")
        if errs:
            ctx.failed += n_commits
            ctx.correct = False
        if any(not check.compare(bad, exp_v, exp_e, g, None, windows=closed)
               for bad in check.perturbed(result)):
            ctx.log("check: a perturbed result passed the check")
            ctx.correct = False
        per_drain.append(dict(wall_s=wall, progress=progress, closed_windows=len(closed),
                              sink=res.vertex_sink.metrics.batches + res.edge_sink.metrics.batches,
                              late_rows=sum(so.get("numRowsDroppedByWatermark", 0)
                                            for p in progress for so in p["stateOperators"])))
    ctx.record["drains"] = [dict(wall_s=d["wall_s"], triggers=len(d["progress"]),
                                 closed_windows=d["closed_windows"], late_rows=d["late_rows"])
                            for d in per_drain]
    steady = [p for d in per_drain for p in _steady(d["progress"])]
    trigger_s = [p["durationMs"]["triggerExecution"] / 1e3 for p in steady]
    state_mb = max(sum(so["memoryUsedBytes"] for so in p["stateOperators"]) / sparkenv.MB
                   for d in per_drain for p in d["progress"])
    if not ctx.trace:
        return dict(
            turns_per_s=(statistics.median(n_turns / d["wall_s"] for d in per_drain), "turns/s"),
            setup_s=(ctx.setup_s, "s"),
            batch_p50_s=(statistics.median(trigger_s), "s"),
            state_mb=(state_mb, "MB"),
        )
    return traced(ctx, per_drain, steady)


def _watermark_ms(progress: dict) -> int:
    wm = progress.get("eventTime", {}).get("watermark")
    return round(datetime.fromisoformat(wm.replace("Z", "+00:00")).timestamp() * 1000) if wm else 0


def _steady(progress: list[dict]) -> list[dict]:
    """Data triggers after the first one: the first pays state-store set-up
    and the no-data close trigger has no input."""
    data = [p for p in progress if p["numInputRows"] > 0]
    return data[1:]


def _ops(p: dict, name: str) -> list[dict]:
    return [so for so in p["stateOperators"] if so["operatorName"] == name]


def traced(ctx, per_drain: list[dict], steady: list[dict]) -> dict:
    """Per-trigger phases and state-operator counters from the engine's own
    progress records, and the sink's lineage records."""
    def med(f):
        return statistics.median(f(p) for p in steady)

    def phase(p, *keys):
        return sum(p["durationMs"].get(k, 0) for k in keys)

    named = {
        "plan_ms": ("queryPlanning",),
        "source_ms": ("latestOffset", "getBatch", "setOffsetRange"),
        "add_batch_ms": ("addBatch",),
        "log_ms": ("walCommit", "commitOffsets", "commitBatch"),
    }
    m = {
        "trigger.s": med(lambda p: p["durationMs"]["triggerExecution"] / 1e3),
        "trigger.rows": med(lambda p: p["numInputRows"]),
    }
    for k, keys in named.items():
        m[f"trigger.{k}"] = med(lambda p, keys=keys: phase(p, *keys))
    m["trigger.other_ms"] = med(
        lambda p: p["durationMs"]["triggerExecution"] - sum(phase(p, *ks) for ks in named.values()))
    for prefix, op in (("join", JOIN_OP), ("agg", AGG_OP)):
        m[f"{prefix}.state_rows"] = med(lambda p, op=op: sum(s["numRowsTotal"] for s in _ops(p, op)))
        m[f"{prefix}.updated_rows"] = med(lambda p, op=op: sum(s["numRowsUpdated"] for s in _ops(p, op)))
        for k, field in (("update_ms", "allUpdatesTimeMs"), ("removal_ms", "allRemovalsTimeMs"),
                         ("commit_ms", "commitTimeMs")):
            m[f"{prefix}.{k}"] = med(lambda p, op=op, field=field: sum(s[field] for s in _ops(p, op)))
        m[f"{prefix}.state_mb"] = max(
            sum(s["memoryUsedBytes"] for s in _ops(p, op)) / sparkenv.MB
            for d in per_drain for p in d["progress"])
    m["agg.late_rows"] = sum(s["numRowsDroppedByWatermark"] for d in per_drain
                             for p in d["progress"] for s in _ops(p, AGG_OP))
    steady_ids = {(i, p["batchId"]) for i, d in enumerate(per_drain) for p in _steady(d["progress"])}
    sink = {}
    for i, d in enumerate(per_drain):
        for rec in d["sink"]:
            if (i, rec["batch_id"]) in steady_ids:
                s = sink.setdefault((i, rec["batch_id"]), [0.0, 0])
                s[0] += rec["wall_s"]
                s[1] += rec["rows"]
    m["sink.s"] = statistics.median(s for s, _ in sink.values())
    m["sink.rows"] = statistics.median(r for _, r in sink.values())
    os.makedirs(os.path.dirname(ctx.trace_path), exist_ok=True)
    with open(ctx.trace_path, "w") as f:
        json.dump(dict(drains=per_drain), f, indent=1)
    return {k: (v, unit_of(k)) for k, v in m.items()}
