"""Skew diagnostics (operators/skew.py): figure correctness, determinism,
and the no-global-sort plan."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from graph_stream_zoomer_spark.operators.skew import skew_profile
from graph_stream_zoomer_spark.plans.inspect import plan_stats

SF_DIR = "/root/testdata/sf0.01"


@pytest.fixture(scope="module")
def events(spark):
    return spark.read.parquet(f"{SF_DIR}/events.parquet")


def test_skew_profile_figures_exact(events):
    rows = skew_profile(events, ["user_id"], top_k=5).collect()
    assert [r.rank for r in rows] == [1, 2, 3, 4, 5]
    exact = {
        str(r.user_id): r.c
        for r in events.groupBy("user_id").agg(F.count(F.lit(1)).alias("c")).collect()
    }
    total = sum(exact.values())
    n_keys = len(exact)
    # heaviest first, counts exact, ppm figures are integer division
    assert rows[0].cnt == max(exact.values())
    for r in rows:
        assert r.cnt == exact[r.key]
        assert r.share_ppm == r.cnt * 1_000_000 // total
        assert r.skew_ppm == r.cnt * n_keys * 1_000_000 // total


def test_skew_profile_deterministic_tie_break(events):
    a = skew_profile(events, ["event_type", "user_id"], top_k=10).collect()
    b = skew_profile(events, ["event_type", "user_id"], top_k=10).collect()
    assert [tuple(r) for r in a] == [tuple(r) for r in b]


def test_skew_profile_plan_no_global_sort(events):
    st = plan_stats(skew_profile(events, ["event_type", "user_id"], top_k=10))
    assert "TakeOrderedAndProject" in st.text, st.text[:3000]
    assert st.num_sortmerge_joins == 0
    assert "EvalPython" not in st.text
