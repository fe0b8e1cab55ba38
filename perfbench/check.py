"""Expected grouping results, computed apart from the program.

DuckDB computes the per-window super-vertex and super-edge aggregates over
the same parquet the program reads; the super-element ids are recomputed
with ``hashlib`` from their definition (SHA-1 over the label, the grouping
values and the window rowtime in epoch millis, joined by '.'); and the
count identities are computed with numpy from the generated table.

A result is a pair of row lists as the program emits them:
vertices ``(vertex_id, event_time_ms, vertex_label, properties)`` and edges
``(edge_id, edge_label, properties, source_id, target_id, event_time_ms)``.
"""

from __future__ import annotations

import hashlib
import math
from dataclasses import dataclass

import duckdb
import numpy as np
import pyarrow as pa

MAX_TURN_GAP_MS = 3_600_000  # the streaming job's max_turn_gap, 1 hour


@dataclass(frozen=True)
class Grouping:
    """What one workload groups by; mirrors the operator it builds."""

    size_ms: int
    slide_ms: int
    vertex_keys: tuple[str, ...]  # turn columns used as vertex grouping keys
    vertex_aggs: tuple[str, ...]  # 'count' or '<fn>_text_len'
    edge_keys: tuple[str, ...]  # target-turn columns used as edge grouping keys
    edge_aggs: tuple[str, ...]

    @property
    def windows_per_row(self) -> int:
        return self.size_ms // self.slide_ms


def super_id(fields) -> str:
    return hashlib.sha1(".".join(f for f in fields if f is not None).encode()).hexdigest()


_AGG_SQL = {"count": "count(*)", "min": "min({x})", "max": "max({x})", "sum": "sum({x})", "avg": "avg({x})"}


def _agg_sql(name: str, col: str) -> str:
    fn = name.split("_", 1)[0]
    return _AGG_SQL[fn].format(x=f"{col}::DOUBLE") + f' AS "{name}"'


def expected(con: duckdb.DuckDBPyConnection, glob: str, g: Grouping, stream: bool) -> tuple[dict, dict]:
    """Expected super-vertices and super-edges keyed by their ids.

    ``stream`` applies the streaming binding's successor condition: an edge
    exists only if the successor turn is no earlier than its predecessor and
    at most one hour after it, and a turn 0 is a vertex only if its turn 1
    satisfies that condition. The batch binding keeps every successor pair.
    """
    con.execute(
        f"""CREATE OR REPLACE TEMP VIEW turns AS
        SELECT conv_id, turn_idx, role, tool, length(text) AS tl, epoch_ms(ts) AS ms
        FROM read_parquet('{glob}')"""
    )
    cond = f"AND b.ms >= a.ms AND b.ms <= a.ms + {MAX_TURN_GAP_MS}" if stream else ""
    con.execute(
        f"""CREATE OR REPLACE TEMP VIEW pairs AS
        SELECT a.role AS s_role, a.tool AS s_tool, b.role AS role, b.tool AS tool,
               b.tl AS tl, b.ms AS ms
        FROM turns a JOIN turns b ON b.conv_id = a.conv_id AND b.turn_idx = a.turn_idx + 1 {cond}"""
    )
    if stream:
        vertex_src = f"""SELECT role, tool, tl, ms FROM turns WHERE turn_idx >= 1
            UNION ALL
            SELECT a.role, a.tool, a.tl, a.ms FROM turns a JOIN turns b
              ON b.conv_id = a.conv_id AND a.turn_idx = 0 AND b.turn_idx = 1 {cond}"""
    else:
        vertex_src = """SELECT role, tool, tl, ms FROM turns
            WHERE conv_id IN (SELECT conv_id FROM turns GROUP BY conv_id HAVING count(*) >= 2)"""
    wins = f"UNNEST(range(0, {g.windows_per_row})) AS k(k)"
    ws = f"(ms - ms % {g.slide_ms} - k * {g.slide_ms})"

    vkeys = "".join(f", {c}" for c in g.vertex_keys)
    vaggs = ", ".join(_agg_sql(a, "tl") for a in g.vertex_aggs)
    vrows = con.execute(
        f"""SELECT {ws} AS ws, role{vkeys}, {vaggs}
        FROM ({vertex_src}) v, {wins} GROUP BY ALL"""
    ).fetchall()

    ekeys = "".join(f", s_{c}" for c in g.vertex_keys) + "".join(f", {c}" for c in g.vertex_keys)
    eprops = "".join(f", {c} AS e_{c}" for c in g.edge_keys)
    eaggs = ", ".join(_agg_sql(a, "tl") for a in g.edge_aggs)
    erows = con.execute(
        f"""SELECT {ws} AS ws, s_role, role{ekeys}{eprops}, {eaggs}
        FROM pairs, {wins} GROUP BY ALL"""
    ).fetchall()

    nk = len(g.vertex_keys)
    vertices = {}
    for r in vrows:
        ws_, label, keys, aggs = r[0], r[1], r[2 : 2 + nk], r[2 + nk :]
        rowtime = ws_ + g.size_ms - 1
        vid = super_id([label, *keys, str(rowtime)])
        props = dict(zip(g.vertex_keys, keys)) | dict(zip(g.vertex_aggs, aggs))
        vertices[vid] = (rowtime, label, props)
    edges = {}
    for r in erows:
        ws_, s_role, role = r[0], r[1], r[2]
        s_keys, t_keys = r[3 : 3 + nk], r[3 + nk : 3 + 2 * nk]
        e_keys = r[3 + 2 * nk : 3 + 2 * nk + len(g.edge_keys)]
        aggs = r[3 + 2 * nk + len(g.edge_keys) :]
        rowtime = ws_ + g.size_ms - 1
        src = super_id([s_role, *s_keys, str(rowtime)])
        tgt = super_id([role, *t_keys, str(rowtime)])
        label = f"{s_role}->{role}"
        eid = super_id([src, tgt, label, *e_keys, str(rowtime)])
        props = dict(zip(g.edge_keys, e_keys)) | dict(zip(g.edge_aggs, aggs))
        edges[eid] = (rowtime, label, src, tgt, props)
    return vertices, edges


def identities(table: pa.Table, g: Grouping) -> tuple[int, int]:
    """(Σ vertex counts, Σ edge counts) of the batch grouping, from the
    generated table alone: every turn of a conversation with at least two
    turns is a vertex and every conversation of n turns has n - 1 successor
    edges, each once per window the element falls into."""
    conv = np.unique(table.column("conv_id").to_numpy(zero_copy_only=False), return_counts=True)[1]
    multi = conv[conv >= 2]
    return int(multi.sum()) * g.windows_per_row, int((multi - 1).sum()) * g.windows_per_row


def _same(exp, got: str) -> bool:
    if isinstance(exp, str):
        return exp == got
    if isinstance(exp, int):
        return got == str(exp)
    return got is not None and math.isclose(float(got), exp, rel_tol=1e-9, abs_tol=1e-9)


def _same_props(exp: dict, got: dict) -> bool:
    return exp.keys() == got.keys() and all(_same(v, got[k]) for k, v in exp.items())


def compare(result, exp_v: dict, exp_e: dict, g: Grouping, counts: tuple[int, int] | None,
            windows: set[int] | None = None) -> list[str]:
    """Problems found in ``result``; empty when it is correct.

    ``windows`` restricts the expectation to super elements whose rowtime is
    in the set (the windows a stream has closed); ``counts`` are the count
    identities to hold, or None."""
    vertices, edges = result
    if windows is not None:
        exp_v = {k: v for k, v in exp_v.items() if v[0] in windows}
        exp_e = {k: v for k, v in exp_e.items() if v[0] in windows}
    errs: list[str] = []
    seen = set()
    for vid, rowtime, label, props in vertices:
        keys = [props.get(k) for k in g.vertex_keys]
        if super_id([label, *keys, str(rowtime)]) != vid:
            errs.append(f"vertex id {vid} does not hash its label, keys and rowtime")
        exp = exp_v.get(vid)
        if exp is None or vid in seen:
            errs.append(f"vertex {vid} ({label} @ {rowtime}) unexpected or repeated")
        elif exp[:2] != (rowtime, label) or not _same_props(exp[2], props):
            errs.append(f"vertex {vid}: expected {exp}, got {(rowtime, label, props)}")
        seen.add(vid)
    if len(seen) != len(exp_v):
        errs.append(f"{len(exp_v) - len(seen & exp_v.keys())} expected vertices missing")
    seen = set()
    for eid, label, props, src, tgt, rowtime in edges:
        keys = [props.get(k) for k in g.edge_keys]
        if super_id([src, tgt, label, *keys, str(rowtime)]) != eid:
            errs.append(f"edge id {eid} does not hash its endpoints, label, keys and rowtime")
        exp = exp_e.get(eid)
        if exp is None or eid in seen:
            errs.append(f"edge {eid} ({label} @ {rowtime}) unexpected or repeated")
        elif exp[:4] != (rowtime, label, src, tgt) or not _same_props(exp[4], props):
            errs.append(f"edge {eid}: expected {exp}, got {(rowtime, label, src, tgt, props)}")
        seen.add(eid)
    if len(seen) != len(exp_e):
        errs.append(f"{len(exp_e) - len(seen & exp_e.keys())} expected edges missing")
    if counts is not None:
        got = (
            sum(int(p["count"]) for *_, p in vertices),
            sum(int(e[2]["count"]) for e in edges),
        )
        if got != counts:
            errs.append(f"count identities: expected (vertices, edges) = {counts}, got {got}")
    return errs


def perturbed(result) -> list:
    """Two copies of ``result``, one with a vertex count off by one and one
    with an edge id changed: a checker that accepts either is broken."""
    vertices, edges = result
    vid, rowtime, label, props = vertices[0]
    one_more = props | {"count": str(int(props["count"]) + 1)}
    bad_count = ([(vid, rowtime, label, one_more)] + vertices[1:], edges)
    eid, *rest = edges[-1]
    other_id = eid[:-1] + ("0" if eid[-1] != "0" else "1")
    bad_id = (vertices, edges[:-1] + [(other_id, *rest)])
    return [bad_count, bad_id]


def stream_drops(con: duckdb.DuckDBPyConnection) -> dict:
    """What the streaming binding drops relative to the batch binding, over
    the ``turns`` view of the last ``expected`` call: successor edges whose
    successor turn precedes its predecessor (or follows it by more than the
    time bound), and the turn-0 vertices whose turn 1 does so."""
    ok = f"b.ms >= a.ms AND b.ms <= a.ms + {MAX_TURN_GAP_MS}"
    edges, edges_dropped, turn0_dropped = con.execute(
        f"""SELECT count(*), count(*) FILTER (WHERE NOT ({ok})),
                   count(*) FILTER (WHERE a.turn_idx = 0 AND NOT ({ok}))
        FROM turns a JOIN turns b ON b.conv_id = a.conv_id AND b.turn_idx = a.turn_idx + 1"""
    ).fetchone()
    return dict(batch_edges=edges, edges_dropped=edges_dropped, turn0_vertices_dropped=turn0_dropped)
