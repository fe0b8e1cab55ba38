"""Conversation rollup, bin-bucketized interval join (vs naive cross+filter
oracle), PII redaction (Catalyst vs Arrow twin agreement), and rate-based
stratified sampling."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from graph_stream_zoomer_spark.functions.text import (
    expr_pii_counts,
    expr_redact_pii,
    pdf_redact_pii,
)
from graph_stream_zoomer_spark.operators.packing import stratified_sample_rates
from graph_stream_zoomer_spark.operators.rangejoin import interval_join
from graph_stream_zoomer_spark.operators.rollup import conversation_stats

T_DDL = "conv_id string, turn_idx int, role string, text string, tool string, ts string"

TURNS = [
    ("c1", 0, "user", "hello", "", "2024-01-01 10:00:00"),
    ("c1", 1, "assistant", "hi there", "", "2024-01-01 10:00:05"),
    ("c1", 2, "tool", "result", "search", "2024-01-01 10:00:09"),
    ("c1", 3, "assistant", "answer!", "", "2024-01-01 10:00:12"),
    ("c2", 0, "user", "q", "", "2024-01-01 11:00:00"),
    ("c2", 1, "assistant", "a", "", "2024-01-01 11:02:00"),
]


def _turns(spark, rows=TURNS):
    return spark.createDataFrame(rows, T_DDL).withColumn(
        "ts", F.col("ts").cast("timestamp")
    )


def test_conversation_stats_exact(spark):
    out = {r["conv_id"]: r for r in conversation_stats(_turns(spark)).collect()}
    c1, c2 = out["c1"], out["c2"]
    assert (c1["n_turns"], c1["n_user"], c1["n_assistant"]) == (4, 1, 2)
    assert c1["n_tool_calls"] == 1 and c1["n_roles"] == 3
    assert c1["total_chars"] == len("hello") + len("hi there") + len("result") + len("answer!")
    assert (c1["first_role"], c1["last_role"]) == ("user", "assistant")
    assert c1["duration_s"] == 12
    assert (c2["n_turns"], c2["duration_s"], c2["n_roles"]) == (2, 120, 2)


IV_DDL = "k string, start_ts string, end_ts string, tag string"


def _ts(df, *cols):
    for c in cols:
        df = df.withColumn(c, F.col(c).cast("timestamp"))
    return df


@pytest.fixture(scope="module")
def probe_iv(spark):
    probe = _ts(
        spark.createDataFrame(
            [
                ("a", 1, "2024-01-01 10:00:00"),
                ("a", 2, "2024-01-01 10:25:00"),
                ("a", 3, "2024-01-01 12:00:00"),
                ("b", 4, "2024-01-01 10:05:00"),
                ("c", 5, "2024-01-01 10:05:00"),
            ],
            "k string, pid int, ts string",
        ),
        "ts",
    )
    iv = _ts(
        spark.createDataFrame(
            [
                ("a", "2024-01-01 09:50:00", "2024-01-01 10:30:00", "w1"),  # spans 5 bins
                ("a", "2024-01-01 10:20:00", "2024-01-01 10:25:00", "w2"),  # end inclusive
                ("b", "2024-01-01 11:00:00", "2024-01-01 11:30:00", "w3"),  # no probe
            ],
            IV_DDL,
        ),
        "start_ts",
        "end_ts",
    )
    return probe, iv


def test_interval_join_matches_naive(spark, probe_iv):
    probe, iv = probe_iv
    got = interval_join(probe, iv, on=["k"], bin_width="10 minutes")
    naive = (
        probe.alias("p")
        .join(iv.alias("i"), F.col("p.k") == F.col("i.k"))
        .where(F.col("p.ts").between(F.col("i.start_ts"), F.col("i.end_ts")))
        .select("p.k", "p.pid", "p.ts", "i.start_ts", "i.end_ts", "i.tag")
    )
    key = lambda r: (r["k"], r["pid"], r["tag"])
    assert sorted(map(key, got.collect())) == sorted(map(key, naive.collect()))
    # probe 2 (10:25) is matched by BOTH a-intervals (w2's end is inclusive)
    tags = {r["tag"] for r in got.where(F.col("pid") == 2).collect()}
    assert tags == {"w1", "w2"}


def test_interval_join_left_keeps_unmatched(spark, probe_iv):
    probe, iv = probe_iv
    out = interval_join(probe, iv, on=["k"], bin_width="10 minutes", how="left")
    rows = {r["pid"]: r for r in out.collect()}
    assert rows[3]["tag"] is None and rows[5]["tag"] is None  # no interval
    assert out.count() == 4 + 2  # 4 matches + 2 null-extended


def test_interval_join_is_not_nested_loop(spark, probe_iv):
    probe, iv = probe_iv
    plan = interval_join(probe, iv, on=["k"], bin_width="10 minutes")._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_interval_join_guard_on_unbounded_interval(spark):
    probe = _ts(
        spark.createDataFrame([("a", "2024-01-01 10:00:00")], "k string, ts string"),
        "ts",
    )
    iv = _ts(
        spark.createDataFrame(
            [("a", "2000-01-01 00:00:00", "2030-01-01 00:00:00", "huge")], IV_DDL
        ),
        "start_ts",
        "end_ts",
    )
    with pytest.raises(Exception, match="interval_join"):
        interval_join(probe, iv, on=["k"], bin_width="1 minute").collect()


PII_DOCS = [
    (0, "write to alice.smith+x@corp.example.com or bob@ex.io today"),
    (1, "server 10.0.255.3 then call +1 (415) 555-0100 now"),
    (2, "no pii here, just 3.14 and v1.2.3.4.5 stays mostly"),
    (3, None),
]


def test_redact_pii_expr(spark):
    df = spark.createDataFrame(PII_DOCS, "doc_id long, text string")
    out = {
        r["doc_id"]: r
        for r in df.select(
            "doc_id", expr_redact_pii("text").alias("red"), *expr_pii_counts("text")
        ).collect()
    }
    assert out[0]["red"] == "write to <EMAIL> or <EMAIL> today"
    assert (out[0]["n_email"], out[0]["n_ip"], out[0]["n_phone"]) == (2, 0, 0)
    assert out[1]["red"] == "server <IP> then call <PHONE> now"
    assert (out[1]["n_email"], out[1]["n_ip"], out[1]["n_phone"]) == (0, 1, 1)
    assert out[2]["n_email"] + out[2]["n_phone"] == 0
    assert out[3]["red"] is None


def test_redact_pii_twins_agree(spark):
    df = spark.createDataFrame(PII_DOCS, "doc_id long, text string")
    both = df.select(
        expr_redact_pii("text").alias("a"), pdf_redact_pii("text").alias("b")
    ).collect()
    for r in both:
        assert (r["a"] or "") == (r["b"] or "")


def test_stratified_sample_rates(spark):
    df = spark.range(2000).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") % 2 == 0, "en").otherwise("de").alias("lang"),
    )
    out = stratified_sample_rates(df, {"en": 1.0, "de": 0.25}, "lang", "doc_id")
    n_en = out.where(F.col("lang") == "en").count()
    n_de = out.where(F.col("lang") == "de").count()
    assert n_en == 1000  # rate 1.0 keeps everything
    assert 150 <= n_de <= 350  # ~250 expected, md5-uniform
    # deterministic: same call → identical surviving ids
    again = stratified_sample_rates(df, {"en": 1.0, "de": 0.25}, "lang", "doc_id")
    assert sorted(r["doc_id"] for r in out.collect()) == sorted(
        r["doc_id"] for r in again.collect()
    )
    # unknown stratum honors default_rate
    df2 = df.withColumn("lang", F.lit("fr"))
    assert stratified_sample_rates(df2, {"en": 1.0}, "lang", "doc_id").count() == 0
    assert (
        stratified_sample_rates(
            df2, {"en": 1.0}, "lang", "doc_id", default_rate=1.0
        ).count()
        == 2000
    )


def test_stratified_sample_broadcasts_rates(spark):
    df = spark.range(100).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") % 2 == 0, "en").otherwise("de").alias("lang"),
    )
    plan = (
        stratified_sample_rates(df, {"en": 0.5}, "lang", "doc_id")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastHashJoin" in plan


def test_interval_join_reversed_interval_matches_nothing(spark):
    """A corrupt interval with end < start must match nothing AND must not
    reach the explode: end_bin < start_bin makes n_bins <= 0 (passing the
    '<= max bins' guard) and F.sequence would then emit a DESCENDING
    sequence of unbounded length — the build-side blowup the guard exists
    to prevent. Regression for the pre-explode end>=start filter."""
    probe = _ts(
        spark.createDataFrame([("a", "2024-01-01 10:00:00")], "k string, ts string"),
        "ts",
    )
    iv = _ts(
        spark.createDataFrame(
            [
                # reversed by ~24y: would explode ~12.6M bins at 1-minute width
                ("a", "2030-01-01 00:00:00", "2006-01-01 00:00:00", "rev"),
                ("a", "2024-01-01 09:59:00", "2024-01-01 10:30:00", "ok"),
            ],
            IV_DDL,
        ),
        "start_ts",
        "end_ts",
    )
    got = interval_join(probe, iv, on=["k"], bin_width="1 minute").collect()
    assert [r["tag"] for r in got] == ["ok"]
    # left join: reversed interval still contributes nothing
    left = interval_join(probe, iv, on=["k"], bin_width="1 minute", how="left")
    assert {r["tag"] for r in left.collect()} == {"ok"}
