"""Seeded transcript generator for the benchmark.

The program under test never sees this module: it only reads the parquet
files written here. The table has the transcript shape the program binds,
``(conv_id, turn_idx, role, text, tool, ts)``, and the traits its grouping
depends on:

- turns per conversation uniform in 1..17 (mean 9); single-turn
  conversations exist and must vanish from the graph;
- 0.1% hot conversations with 10x turns (capped at 160), all assistant
  turns after the first;
- 1% of the turns after the first lagged by 15 s, so some successor turns
  precede their predecessor in event time;
- texts of 20..400 characters, distinct per turn;
- conversation starts spread over one day.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

BASE_MS = 1_735_689_600_000  # 2025-01-01 00:00:00 UTC
DAY_MS = 86_400_000
TURN_SPACING_MS = 31_000  # turn t starts in [31 s * t, 31 s * t + 30 s)
LAG_MS = 15_000
TOOLS = np.array(["search", "python", "browser"], dtype=object)
FILLER = "the quick brown fox jumps over the lazy dog and then it stops to think " * 6


def make_turns(seed: int, n_convs: int) -> pa.Table:
    """The turns table for ``seed``; the same seed gives the same table."""
    rng = np.random.default_rng(seed)
    n_turns = rng.integers(1, 18, n_convs)
    hot = rng.random(n_convs) < 0.001
    n_turns = np.where(hot, np.minimum(n_turns * 10, 160), n_turns)
    conv_start = BASE_MS + rng.integers(0, DAY_MS, n_convs)

    conv = np.repeat(np.arange(n_convs), n_turns)
    first = np.repeat(np.cumsum(n_turns) - n_turns, n_turns)
    turn_idx = np.arange(len(conv)) - first
    n = len(conv)

    u = rng.random(n)
    odd = turn_idx % 2 == 1
    is_tool = ~odd & (u < 1 / 3) & (turn_idx > 0) & ~hot[conv]
    role = np.where(odd | (hot[conv] & (turn_idx > 0)), "assistant", "user").astype(object)
    role[is_tool] = "tool"
    tool = np.full(n, "", dtype=object)
    tool[is_tool] = TOOLS[rng.integers(0, 3, int(is_tool.sum()))]

    lagged = (rng.random(n) < 0.01) & (turn_idx > 0)
    ts_ms = (
        conv_start[conv]
        + turn_idx * TURN_SPACING_MS
        + rng.integers(0, 30_000, n)
        - np.where(lagged, LAG_MS, 0)
    )
    text_len = rng.integers(20, 401, n)
    conv_id = pc.take(pa.array(np.char.mod("c%08d", np.arange(n_convs)).astype(object), pa.string()), conv)
    # text = "<conv_id>:<turn_idx>:<role>:" followed by a filler prefix up to text_len
    turn_s = pc.cast(pa.array(turn_idx), pa.string())
    role_a = pa.array(role, pa.string())
    prefix_len = 9 + 1 + pc.utf8_length(turn_s).to_numpy() + 1 + pc.utf8_length(role_a).to_numpy() + 1
    fillers = pa.array([FILLER[:k] for k in range(len(FILLER) + 1)], pa.string())
    tail = pc.take(fillers, pa.array(np.maximum(text_len - prefix_len, 0)))
    text = pc.binary_join_element_wise(conv_id, turn_s, role_a, tail, ":")
    return pa.table(
        {
            "conv_id": conv_id,
            "turn_idx": pa.array(turn_idx, pa.int32()),
            "role": role_a,
            "text": text,
            "tool": pa.array(tool, pa.string()),
            "ts": pa.array(ts_ms, pa.timestamp("ms", tz="UTC")),
        }
    )


def write_table(table: pa.Table, path: str, n_files: int) -> None:
    """Write ``table`` as ``n_files`` parquet files in conversation order."""
    os.makedirs(path, exist_ok=True)
    step = -(-table.num_rows // n_files)
    for i in range(n_files):
        pq.write_table(table.slice(i * step, step), os.path.join(path, f"part-{i:03d}.parquet"))


def write_time_chunks(table: pa.Table, path: str, n_chunks: int, mtime0: int) -> list[int]:
    """Write ``table`` as ``n_chunks`` files, each one contiguous slice of
    event time, with strictly increasing modification times so the file
    stream source takes them in event-time order. Returns the row counts."""
    os.makedirs(path, exist_ok=True)
    order = pc.sort_indices(table, [("ts", "ascending"), ("conv_id", "ascending")])
    ordered = table.take(order)
    step = -(-ordered.num_rows // n_chunks)
    counts = []
    for i in range(n_chunks):
        part = ordered.slice(i * step, step)
        f = os.path.join(path, f"chunk-{i:03d}.parquet")
        pq.write_table(part, f)
        os.utime(f, (mtime0 + i, mtime0 + i))
        counts.append(part.num_rows)
    return counts
