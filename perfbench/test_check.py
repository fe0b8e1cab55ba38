"""The checker accepts the expected result and rejects perturbed ones.

Run with ``python3 -m pytest perfbench/test_check.py``; needs DuckDB, not
Spark.
"""

from __future__ import annotations

import hashlib

import duckdb
import pytest

import check
import gen
from batch import FLAGSHIP

SLIDING_PROPS = check.Grouping(
    size_ms=600_000, slide_ms=300_000,
    vertex_keys=("tool",), vertex_aggs=("count", "min_text_len", "max_text_len", "avg_text_len"),
    edge_keys=("tool",), edge_aggs=("count", "avg_text_len"),
)


def as_result(exp_v: dict, exp_e: dict):
    """The expectation rendered as the program renders its output: property
    values are strings."""
    def props(p):
        return {k: v if isinstance(v, str) else str(v) for k, v in p.items()}

    vertices = [(vid, t, label, props(p)) for vid, (t, label, p) in exp_v.items()]
    edges = [(eid, label, props(p), s, d, t) for eid, (t, label, s, d, p) in exp_e.items()]
    return vertices, edges


@pytest.fixture(scope="module")
def turns(tmp_path_factory):
    path = tmp_path_factory.mktemp("turns")
    table = gen.make_turns(7, 400)
    gen.write_table(table, str(path), 2)
    return table, f"{path}/*.parquet"


@pytest.mark.parametrize("g", [FLAGSHIP, SLIDING_PROPS], ids=["tumbling", "sliding_props"])
def test_expected_result_passes_and_perturbed_fails(turns, g):
    table, glob = turns
    con = duckdb.connect()
    exp_v, exp_e = check.expected(con, glob, g, stream=False)
    counts = check.identities(table, g)
    result = as_result(exp_v, exp_e)
    assert check.compare(result, exp_v, exp_e, g, counts) == []
    for bad in check.perturbed(result):
        assert check.compare(bad, exp_v, exp_e, g, counts)
    # a dropped super-edge is caught both as missing and by the identity
    vertices, edges = result
    errs = check.compare((vertices, edges[1:]), exp_v, exp_e, g, counts)
    assert any("missing" in e for e in errs) and any("identities" in e for e in errs)


def test_stream_expectation_drops_disordered_successors(turns):
    table, glob = turns
    con = duckdb.connect()
    exp_v, exp_e = check.expected(con, glob, FLAGSHIP, stream=True)
    drops = check.stream_drops(con)
    n_v, n_e = check.identities(table, FLAGSHIP)
    assert sum(p["count"] for *_, p in exp_e.values()) == n_e - drops["edges_dropped"]
    assert sum(p["count"] for _, _, p in exp_v.values()) == n_v - drops["turn0_vertices_dropped"]


def test_super_id_definition():
    assert check.super_id(["user", None, "1735690199999"]) == hashlib.sha1(b"user.1735690199999").hexdigest()
    assert check.super_id(["tool", "", "1"]) == hashlib.sha1(b"tool..1").hexdigest()
