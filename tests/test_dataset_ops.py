"""Dataset-level operators on the seeded fixture (FIXTURES.md §1):
uniqueness, gaps, ts ordering, referential integrity, conversation heads,
stats, drift."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from joi_spark.operators import dataset as D
from joi_spark.operators.drift import ks_statistic, psi
from joi_spark.operators.stats import column_stats, stats_manifest, value_histogram
from joi_spark.sources.transcripts import tools_dimension


def test_unique_rows(transcripts):
    v = D.unique_rows(transcripts, ["conv_id", "turn_idx"]).collect()
    assert [(r["conv_id"], r["turn_idx"]) for r in v] == [("c000006", 1)]
    assert v[0]["message"] == '"conv_id, turn_idx" contains a duplicate value'


def test_sparse_gaps(transcripts):
    v = D.sparse_gaps(transcripts).collect()
    # conv 7 turn 5 removed → turn 6 has no predecessor
    assert [(r["conv_id"], r["turn_idx"]) for r in v] == [("c000007", 6)]
    assert v[0]["message"] == '"turn_idx" must not be a sparse array item'


def test_monotone_ts(transcripts):
    v = D.monotone(transcripts, "ts", strict=False).collect()
    # conv 9 turn 1 regressed 1h → turn 1 < turn 0, and turn 2 > turn 1 is fine
    assert ("c000009", 1) in {(r["conv_id"], r["turn_idx"]) for r in v}


def test_referential(transcripts, spark):
    dims = tools_dimension(spark)
    v = D.referential(transcripts, "tool", dims, "tool_name").collect()
    assert [(r["conv_id"], r["turn_idx"]) for r in v] == [("c000008", 1)]
    assert v[0]["message"] == '"tool" contains an invalid value'


def test_conversation_heads(spark):
    df = spark.createDataFrame(
        [("a", 0), ("a", 1), ("b", 3), ("b", 4)], "conv_id string, turn_idx int")
    v = D.conversation_heads(df).collect()
    assert [(r["conv_id"], r["turn_idx"]) for r in v] == [("b", 3)]


def test_conversation_sizes(spark):
    df = spark.createDataFrame(
        [("a", i) for i in range(5)] + [("b", 0)], "conv_id string, turn_idx int")
    out = D.conversation_sizes(df, min_turns=2, max_turns=4)
    assert out.columns == ["conv_id", "n_turns", "seq", "code", "path",
                           "message", "severity"]
    got = {(r["conv_id"], r["code"]) for r in out.collect()}
    assert got == {("b", "array.min"), ("a", "array.max")}


def test_validate_dataset_bundle(transcripts, spark):
    v = D.validate_dataset(transcripts, tools_dim=tools_dimension(spark))
    codes = {(r["conv_id"], r["code"]) for r in v.collect()}
    assert ("c000006", "dataset.unique") in codes
    assert ("c000007", "dataset.sparse") in codes
    assert ("c000008", "dataset.link") in codes
    assert ("c000009", "dataset.sort") in codes


def test_column_stats(transcripts):
    stats = {r["column"]: r for r in column_stats(transcripts).collect()}
    assert stats["role"]["null_frac"] == pytest.approx(1 / 200, abs=1e-9)
    assert stats["turn_idx"]["min"] == "0"
    assert stats["turn_idx"]["max"] == "9"
    # ~4 roles + 1 defect value
    assert 4 <= stats["role"]["approx_distinct"] <= 6


def test_stats_manifest_per_epoch(transcripts):
    m = stats_manifest(transcripts, "epoch", ["role", "turn_idx"])
    rows = m.collect()
    assert {r["epoch"] for r in rows} == {0, 1}
    assert {r["column"] for r in rows} == {"role", "turn_idx"}


def test_value_histogram_categorical(transcripts):
    h = {r["bucket"]: r["count"] for r in
         value_histogram(transcripts, "role").collect()}
    assert set(h) == {"system", "user", "assistant", "tool", "moderator"}


def test_value_histogram_numeric(transcripts):
    h = value_histogram(transcripts, "turn_idx", n_buckets=5).collect()
    assert sum(r["count"] for r in h) == 200
    assert len(h) == 5


def test_psi_no_drift(spark):
    from joi_spark.sources.transcripts import clean_transcripts
    df = clean_transcripts(spark, n_convs=40, turns_per_conv=10, n_epochs=2)
    p = psi(df, "role").collect()
    assert len(p) == 1
    assert p[0]["psi"] < 0.01


def test_psi_detects_shift(spark):
    from joi_spark.sources.transcripts import clean_transcripts
    df = clean_transcripts(spark, n_convs=40, turns_per_conv=10, n_epochs=2)
    # epoch 1: replace every user turn with assistant → big role shift
    shifted = df.withColumn(
        "role", F.when((F.col("epoch") == 1) & (F.col("role") == "user"),
                       "assistant").otherwise(F.col("role")))
    p = psi(shifted, "role").collect()
    assert p[0]["psi"] > 0.25


def test_ks_numeric(spark):
    from joi_spark.sources.transcripts import clean_transcripts
    df = clean_transcripts(spark, n_convs=40, turns_per_conv=10, n_epochs=2)
    k = ks_statistic(df, "turn_idx", n_buckets=10).collect()
    assert k[0]["ks"] < 0.05
    shifted = df.withColumn(
        "turn_idx", F.when(F.col("epoch") == 1,
                           F.col("turn_idx") + 5).otherwise(F.col("turn_idx")))
    k2 = ks_statistic(shifted, "turn_idx", n_buckets=10).collect()
    assert k2[0]["ks"] > 0.3


def test_ks_rejects_categorical(transcripts):
    with pytest.raises(ValueError):
        ks_statistic(transcripts, "role")


def test_sessionize(spark):
    from datetime import datetime as DT
    rows = [
        (1, DT(2024, 1, 1, 0, 0, 0), 10),
        (2, DT(2024, 1, 1, 0, 10, 0), 10),   # 10 min gap → same session
        (3, DT(2024, 1, 1, 2, 0, 0), 10),    # 110 min gap → new session
        (4, DT(2024, 1, 1, 0, 5, 0), 20),    # other user
        (5, DT(2024, 1, 1, 2, 0, 0, 500000), 10),  # 0.5s after #3 → same
    ]
    df = spark.createDataFrame(
        rows, "event_id bigint, ts timestamp, user_id bigint")
    out = {r["event_id"]: r["session_idx"]
           for r in D.sessionize(df, gap_seconds=1800).collect()}
    assert out[1] == 1 and out[2] == 1
    assert out[3] == 2 and out[5] == 2
    assert out[4] == 1


def test_session_stats(spark):
    from datetime import datetime as DT
    rows = [
        (1, DT(2024, 1, 1, 0, 0, 0), 10),
        (2, DT(2024, 1, 1, 0, 10, 0), 10),
        (3, DT(2024, 1, 1, 2, 0, 0), 10),
    ]
    df = spark.createDataFrame(
        rows, "event_id bigint, ts timestamp, user_id bigint")
    out = {(r["user_id"], r["session_idx"]): r
           for r in D.session_stats(df, gap_seconds=1800).collect()}
    s1 = out[(10, 1)]
    assert s1["n_events"] == 2 and s1["duration_sec"] == 600.0
    assert out[(10, 2)]["n_events"] == 1
    assert out[(10, 2)]["duration_sec"] == 0.0


def test_session_stats_single_exchange(spark):
    from datetime import datetime as DT
    df = spark.createDataFrame(
        [(1, DT(2024, 1, 1), 10)],
        "event_id bigint, ts timestamp, user_id bigint")
    plan = D.session_stats(df)._jdf.queryExecution() \
        .executedPlan().toString()
    # the groupBy(user, session_idx) must reuse the window's
    # hash(user_id) partitioning — exactly one shuffle of the data
    assert plan.count("Exchange hashpartitioning") == 1, plan


def test_psi_categorical_bucket_cap(spark):
    """High-cardinality categorical columns collect at most
    max_categories+1 buckets (top-by-mass + __other__) — the driver
    aggregate stays bounded no matter the column's cardinality
    (round-3 advice)."""
    from joi_spark.operators.drift import _collected_fractions
    rows = [(e, f"v{i}") for e in (0, 1) for i in range(50)]
    # v0 is heavy so the top cut is deterministic
    rows += [(e, "v0") for e in (0, 1) for _ in range(100)]
    df = spark.createDataFrame(rows, "epoch int, c string")
    got, base, _ = _collected_fractions(df, "c", "epoch", 20, None,
                                        max_categories=5)
    buckets = {r["bucket"] for r in got}
    assert len(buckets) <= 6 and "__other__" in buckets
    # per-epoch fractions still sum to 1 (the tail is pooled, not lost)
    from collections import defaultdict
    s = defaultdict(float)
    for r in got:
        s[r["epoch"]] += r["frac"]
    assert all(abs(v - 1.0) < 1e-9 for v in s.values())
    # psi itself stays finite/sane through the pooled bucket
    p = psi(df, "c", max_categories=5).collect()
    assert len(p) == 1 and abs(p[0]["psi"]) < 0.01
