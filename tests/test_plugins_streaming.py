"""alternatives/link compilation, custom rules, extend(), external
hooks, and Structured Streaming validation."""

from __future__ import annotations

import shutil
import tempfile

import pandas as pd
import pytest
from pyspark.sql import functions as F

import joi_spark as joi


def _viol(df, schema, order_by, **kw):
    res = joi.validate(df, schema, order_by=order_by, **kw)
    return res.violations().collect()


def test_alternatives_key(spark):
    df = spark.createDataFrame(
        [(1, "abc"), (2, "12"), (3, "x")], "id bigint, v string")
    schema = joi.object({
        "v": joi.alternatives(joi.string().min(3),
                              joi.string().pattern("^[0-9]+$")),
    })
    rows = _viol(df, schema, ["id"])
    assert [(r["id"], r["code"]) for r in rows] == [(3, "alternatives.match")]
    assert rows[0]["message"] == '"v" does not match any of the allowed types'


def test_link_shared(spark):
    df = spark.createDataFrame(
        [(1, "ok", "ok"), (2, "ok", "")], "id bigint, a string, b string")
    base = joi.string().min(1).id("nonempty")
    schema = joi.object({
        "a": joi.link("#nonempty"),
        "b": joi.link("#nonempty"),
    }).shared(base)
    rows = _viol(df, schema, ["id"])
    assert [(r["id"], r["path"], r["code"]) for r in rows] == \
        [(2, "b", "string.empty")]


def test_link_unresolved_raises(spark):
    df = spark.createDataFrame([(1, "x")], "id bigint, a string")
    schema = joi.object({"a": joi.link("#missing")})
    with pytest.raises(Exception, match="no shared"):
        joi.validate(df, schema).violations().collect()


def test_custom_rule(spark):
    df = spark.createDataFrame(
        [(1, 4), (2, 7)], "id bigint, v int")
    schema = joi.object({
        "v": joi.number().custom(lambda col, ctx: col % 2 == 0),
    })
    rows = _viol(df, schema, ["id"])
    assert [(r["id"], r["code"]) for r in rows] == [(2, "any.custom")]
    assert rows[0]["message"] == '"v" failed custom validation'


def test_custom_rule_message_override(spark):
    df = spark.createDataFrame([(1, 7)], "id bigint, v int")
    schema = joi.object({
        "v": joi.number().custom(lambda col, ctx: col % 2 == 0,
                                 message='"v" must be even'),
    })
    rows = _viol(df, schema, ["id"])
    assert rows[0]["message"] == '"v" must be even'


def test_extend_type(spark):
    semver = joi.extend(
        "semver", base=joi.string,
        rules={
            "version": {
                "validate": lambda col, ctx: col.rlike(r"^\d+\.\d+\.\d+$"),
                "message": '"{{#label}}" must be a semantic version',
            },
        })
    df = spark.createDataFrame(
        [(1, "1.2.3"), (2, "not-a-version")], "id bigint, v string")
    schema = joi.object({"v": semver().version().min(3)})
    rows = _viol(df, schema, ["id"])
    assert [(r["id"], r["code"]) for r in rows] == [(2, "semver.version")]
    assert rows[0]["message"] == '"v" must be a semantic version'


def test_external_hook(spark):
    df = spark.createDataFrame(
        [(1, "fine"), (2, "bad-word")], "id bigint, t string")

    def no_bad_words(s: pd.Series) -> pd.Series:
        return s.map(lambda v: f'"{v}" is not allowed'
                     if isinstance(v, str) and "bad" in v else None)

    schema = joi.object({"t": joi.string().external(no_bad_words)})
    rows = _viol(df, schema, ["id"])
    assert [(r["id"], r["code"], r["message"]) for r in rows] == \
        [(2, "external.check", '"bad-word" is not allowed')]


def test_external_counts_in_verdicts(spark):
    df = spark.createDataFrame(
        [(1, "fine", 0), (2, "bad", 0)], "id bigint, t string, epoch int")

    def flag_bad(s: pd.Series) -> pd.Series:
        return s.map(lambda v: "nope" if v == "bad" else None)

    schema = joi.object({"t": joi.string().external(flag_bad)})
    v = joi.validate(df, schema).verdicts(["epoch"]).collect()
    assert v[0]["n_violations"] == 1 and not v[0]["pass"]


# --- streaming -------------------------------------------------------------

@pytest.fixture()
def stream_dirs():
    src = tempfile.mkdtemp(prefix="joi_stream_src_")
    ckpt = tempfile.mkdtemp(prefix="joi_stream_ckpt_")
    yield src, ckpt
    shutil.rmtree(src, ignore_errors=True)
    shutil.rmtree(ckpt, ignore_errors=True)


def test_stream_violations(spark, stream_dirs):
    src, ckpt = stream_dirs
    from joi_spark.sources.transcripts import seeded_transcripts
    from joi_spark.streaming import stream_violations

    batch = seeded_transcripts(spark, n_convs=12, turns_per_conv=10)
    batch.write.mode("overwrite").parquet(src)
    stream = spark.readStream.schema(batch.schema).parquet(src)
    schema = joi.object({
        "role": joi.string().valid("system", "user", "assistant", "tool")
                   .required(),
        "text": joi.string().max(8192),
    })
    out = stream_violations(stream, schema)
    q = (out.writeStream.format("memory").queryName("viols")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True).start())
    q.awaitTermination(120)
    rows = spark.sql("SELECT * FROM viols").collect()
    codes = sorted(r["code"] for r in rows)
    assert codes == ["any.only", "any.required", "string.empty", "string.max"]


def test_stream_verdicts(spark, stream_dirs):
    src, ckpt = stream_dirs
    from joi_spark.sources.transcripts import seeded_transcripts
    from joi_spark.streaming import stream_verdicts

    batch = seeded_transcripts(spark, n_convs=12, turns_per_conv=10)
    # one row a day later moves the watermark past every window of
    # `batch`, so append mode emits them all; the late row's own window
    # stays open and is never emitted
    late = batch.limit(1).withColumn("ts",
                                     F.col("ts") + F.expr("INTERVAL 1 DAY"))
    batch.unionByName(late).write.mode("overwrite").parquet(src)
    stream = spark.readStream.schema(batch.schema).parquet(src)
    schema = joi.object({
        "role": joi.string().valid("system", "user", "assistant", "tool")
                   .required(),
    })
    out = stream_verdicts(stream, schema, event_time_col="ts",
                          window_duration="1 hour",
                          watermark_delay="1 minute")
    q = (out.writeStream.format("memory").queryName("verds")
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True).start())
    q.awaitTermination(120)
    rows = spark.sql("SELECT * FROM verds").collect()
    want = joi.validate(batch, schema).verdicts(["epoch"]).collect()
    assert sum(r["n_rows"] for r in rows) == sum(r["n_rows"] for r in want)
    assert sum(r["n_violations"] for r in rows) == \
        sum(r["n_violations"] for r in want) > 0


def test_stream_stateful_sequence(spark, stream_dirs):
    src, ckpt = stream_dirs
    from joi_spark.streaming.validate import stream_stateful_sequence

    rows = [("c1", i) for i in (0, 1, 2, 2, 5)] + [("c2", 0), ("c2", 1)]
    batch = spark.createDataFrame(rows, "conv_id string, turn_idx int")
    batch.write.mode("overwrite").parquet(src)
    stream = spark.readStream.schema(batch.schema).parquet(src)
    out = stream_stateful_sequence(stream)
    q = (out.writeStream.format("memory").queryName("seqstate")
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = sorted((r["conv_id"], r["turn_idx"], r["code"])
                 for r in spark.sql("SELECT * FROM seqstate").collect())
    assert got == [("c1", 2, "dataset.sort"), ("c1", 5, "dataset.sparse")]


def test_stream_stateful_sequence_state_crosses_batches(spark, stream_dirs):
    """The point of applyInPandasWithState: a duplicate turn_idx whose
    first occurrence arrived in an EARLIER micro-batch is still caught.
    Two source files + maxFilesPerTrigger=1 force two micro-batches;
    the dup (c1, 1) and the regression (c1, 0) arrive in batch 2."""
    import os
    src, ckpt = stream_dirs
    from joi_spark.streaming.validate import stream_stateful_sequence

    b1 = spark.createDataFrame([("c1", 0), ("c1", 1), ("c2", 0)],
                               "conv_id string, turn_idx int")
    b2 = spark.createDataFrame([("c1", 1), ("c1", 0), ("c1", 2), ("c2", 1)],
                               "conv_id string, turn_idx int")
    b1.coalesce(1).write.mode("overwrite").parquet(os.path.join(src, "b1"))
    b2.coalesce(1).write.mode("overwrite").parquet(os.path.join(src, "b2"))
    stream = (spark.readStream.schema(b1.schema)
              .option("maxFilesPerTrigger", 1)
              .parquet(src + "/*"))
    out = stream_stateful_sequence(stream)
    q = (out.writeStream.format("memory").queryName("seqstate2")
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = sorted((r["conv_id"], r["turn_idx"], r["code"])
                 for r in spark.sql("SELECT * FROM seqstate2").collect())
    # batch-2 rows validate against batch-1 state: both c1 retreads
    # flagged, c1=2 and c2=1 are clean continuations
    assert ("c1", 0, "dataset.sort") in got
    assert ("c1", 1, "dataset.sort") in got
    assert not any(c == "c2" for c, _, _ in got)


def test_stream_sessions_native_session_window(spark, stream_dirs):
    """Native session_window sessionization: two >gap-separated bursts
    per user become two closed sessions once the watermark (driven by
    a far-future sentinel) passes them."""
    import datetime as dt
    src, ckpt = stream_dirs
    from joi_spark.streaming import stream_sessions

    t0 = dt.datetime(2025, 1, 1, 0, 0, 0)
    m = lambda mins: t0 + dt.timedelta(minutes=mins)  # noqa: E731
    rows = [
        ("a", m(0)), ("a", m(5)),          # session 1: 0–5
        ("a", m(120)), ("a", m(125)),      # session 2: 120–125
        ("b", m(1)),                       # session 3: single event
        ("a", m(600)),                     # sentinel advances watermark
    ]
    batch = spark.createDataFrame(rows, "user_id string, ts timestamp")
    batch.write.mode("overwrite").parquet(src)
    stream = spark.readStream.schema(batch.schema).parquet(src)
    out = stream_sessions(stream, gap="30 minutes",
                          watermark_delay="1 minute")
    q = (out.writeStream.format("memory").queryName("sess")
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = {(r["user_id"], r["session_start"], r["n_events"])
           for r in spark.sql("SELECT * FROM sess").collect()}
    # the sentinel's own session is still open (watermark hasn't
    # passed it) — exactly the three earlier sessions have closed
    assert got == {("a", m(0), 2), ("a", m(120), 2), ("b", m(1), 1)}


def test_stream_drift_flags_shifted_window(spark, stream_dirs):
    """Window matching the baseline mix scores PSI ~0; a skewed window
    with a novel category drifts — values cross-checked against an
    independent python PSI with the same EPS smoothing."""
    import datetime
    import math

    from joi_spark.operators.drift import EPS, baseline_fractions
    from joi_spark.streaming import stream_drift

    src, ckpt = stream_dirs
    t0 = datetime.datetime(2024, 1, 1, 0, 30)
    t1 = datetime.datetime(2024, 1, 1, 1, 30)
    t2 = datetime.datetime(2024, 1, 1, 3, 30)   # sentinel: pushes the
    rows = [(t0, "a")] * 50 + [(t0, "b")] * 50 \
         + [(t1, "a")] * 90 + [(t1, "b")] * 5 + [(t1, "z")] * 5 \
         + [(t2, "a")]      # watermark past window 1 so it closes
    batch = spark.createDataFrame(rows, "ts timestamp, role string")
    batch.write.mode("overwrite").parquet(src)
    base = spark.createDataFrame([("x", "a")] * 500 + [("x", "b")] * 500,
                                 "k string, role string")
    baseline = baseline_fractions(base, "role")
    stream = spark.readStream.schema(batch.schema).parquet(src)
    out = stream_drift(stream, "role", baseline,
                       window_duration="1 hour",
                       watermark_delay="1 minute")
    q = (out.writeStream.format("memory").queryName("drift")
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = {r["window"]["start"].hour: (r["psi"], r["drifted"])
           for r in spark.sql("SELECT * FROM drift").collect()}
    assert set(got) == {0, 1}

    def psi(p_counts, q_fracs, total):
        s = 0.0
        for bucket, qf in q_fracs.items():
            p = p_counts.get(bucket, 0) / total + EPS
            s += (p - (qf + EPS)) * math.log(p / (qf + EPS))
        oov = sum(c for b, c in p_counts.items() if b not in q_fracs)
        p = oov / total + EPS
        s += (p - EPS) * math.log(p / EPS)
        return s

    qf = {"a": 0.5, "b": 0.5}
    assert got[0] == (psi({"a": 50, "b": 50}, qf, 100), False)
    want1 = psi({"a": 90, "b": 5, "z": 5}, qf, 100)
    assert got[1] == (want1, True)
    assert want1 > 0.25 and got[0][0] < 0.01


def test_stream_dedup_in_stream_and_history(spark, stream_dirs):
    """In-stream duplicates collapse to one row (watermarked state);
    fingerprints already in the static history are dropped entirely;
    the fingerprint definition matches corpus_fingerprints so batch
    and streaming decisions agree."""
    import datetime

    from joi_spark.streaming import corpus_fingerprints, stream_dedup

    src, ckpt = stream_dirs
    t0 = datetime.datetime(2024, 1, 1, 0, 30)
    rows = [(t0, 0, "seen before"),          # in history -> dropped
            (t0, 1, "fresh text"),           # kept
            (t0, 2, "fresh text"),           # in-stream dup -> dropped
            (t0, 3, "also new"),             # kept
            (t0, 4, None)]                   # null text -> kept once
    batch = spark.createDataFrame(rows,
                                  "ts timestamp, doc_id bigint, text string")
    batch.write.mode("overwrite").parquet(src)
    hist_docs = spark.createDataFrame([(99, "seen before")],
                                      "doc_id bigint, text string")
    history = corpus_fingerprints(hist_docs)
    stream = spark.readStream.schema(batch.schema).parquet(src)
    out = stream_dedup(stream, watermark_delay="10 minutes",
                       history=history)
    q = (out.writeStream.format("memory").queryName("dedup")
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = spark.sql("SELECT doc_id, text FROM dedup").collect()
    kept_texts = sorted((r["text"] or "<null>") for r in got)
    assert kept_texts == ["<null>", "also new", "fresh text"]
    # the in-stream dup kept exactly one of doc 1/2
    ids = {r["doc_id"] for r in got}
    assert len(ids & {1, 2}) == 1 and {3, 4} <= ids and 0 not in ids


def test_baseline_fractions_normalized_by_full_corpus(spark):
    """q is normalized by the TOTAL corpus count, not the retained
    top-k sum — truncation must shift mass into the (implicit) tail,
    not inflate the retained fractions (round-3 advice)."""
    from joi_spark.operators.drift import baseline_fractions
    rows = ([(i, "a") for i in range(60)] + [(i, "b") for i in range(30)]
            + [(i, "c") for i in range(10)])
    df = spark.createDataFrame(
        [(i, v) for i, (_, v) in enumerate(rows)], "id bigint, v string")
    got = {r["bucket"]: r["q"]
           for r in baseline_fractions(df, "v", top_k=2).collect()}
    assert set(got) == {"a", "b"}
    assert got["a"] == 0.6 and got["b"] == 0.3   # NOT 60/90, 30/90


# --- batch <-> stream equivalence goldens ----------------------------------
# Round-4 verdict item 5: the streaming operators are the only family
# without a DuckDB oracle — pin each against its BATCH twin on the
# same fixture instead (same inputs => same outputs).

def test_stream_sessions_equals_batch_sessionize(spark, stream_dirs):
    """stream_sessions (native session_window) must close exactly the
    sessions batch sessionize() finds on the same events — same
    (key, first_ts, last_ts, n_events); the stream's session_end is
    last_ts + gap by construction."""
    import datetime as dt
    import os

    from joi_spark.operators.dataset import sessionize
    from joi_spark.streaming import stream_sessions

    src, ckpt = stream_dirs
    t0 = dt.datetime(2025, 3, 1, 0, 0, 0)
    m = lambda mins: t0 + dt.timedelta(minutes=mins)  # noqa: E731
    rows = [("a", m(0)), ("a", m(5)), ("a", m(20)),   # session 1
            ("a", m(120)), ("a", m(125)),             # session 2
            ("b", m(1)), ("b", m(200)),               # sessions 3+4
            ("c", m(50))]                             # session 5
    sentinel = [("zz", m(5000))]   # advances the watermark past all
    batch = spark.createDataFrame(
        [(k, t, i) for i, (k, t) in enumerate(rows + sentinel)],
        "user_id string, ts timestamp, event_id bigint")
    batch.write.mode("overwrite").parquet(os.path.join(src, "ev"))
    stored = spark.read.parquet(os.path.join(src, "ev"))

    stream = spark.readStream.schema(stored.schema) \
                  .parquet(os.path.join(src, "ev"))
    out = stream_sessions(stream, gap="30 minutes",
                          watermark_delay="1 minute")
    q = (out.writeStream.format("memory").queryName("sess_eq")
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = {(r["user_id"], r["first_ts"], r["last_ts"], r["n_events"])
           for r in spark.sql("SELECT * FROM sess_eq").collect()}
    # session_end = last event + gap (native session_window contract)
    ends = {(r["user_id"], r["first_ts"]): r["session_end"]
            for r in spark.sql("SELECT * FROM sess_eq").collect()}

    sess = sessionize(stored, gap_seconds=1800)
    want = {(r["user_id"], r["first_ts"], r["last_ts"], r["n_events"])
            for r in (sess.groupBy("user_id", "session_idx")
                      .agg(F.min("ts").alias("first_ts"),
                           F.max("ts").alias("last_ts"),
                           F.count(F.lit(1)).alias("n_events"))
                      .collect())
            if r["user_id"] != "zz"}   # sentinel session is still open
    assert got == want
    for (k, first), end in ends.items():
        last = next(l for kk, f, l, _ in want if kk == k and f == first)
        assert end == last + dt.timedelta(minutes=30)


def test_stream_drift_equals_batch_psi(spark, stream_dirs):
    """stream_drift per-window PSI must equal batch psi() when the
    baseline table is replayed as the batch baseline epoch and each
    stream window as a later epoch — identical EPS smoothing, same
    sorted-bucket term order (the stream's single OOV bucket sorts
    last in this fixture, matching the batch union-bucket order)."""
    import datetime
    import os

    from joi_spark.operators.drift import baseline_fractions, psi
    from joi_spark.streaming import stream_drift

    src, ckpt = stream_dirs
    t0 = datetime.datetime(2024, 5, 1, 0, 30)
    t1 = datetime.datetime(2024, 5, 1, 1, 30)
    t2 = datetime.datetime(2024, 5, 1, 3, 30)   # watermark sentinel
    win0 = [("a", 50), ("b", 50)]
    win1 = [("a", 90), ("b", 5), ("z", 5)]
    rows = [(t0, v) for v, n in win0 for _ in range(n)] \
         + [(t1, v) for v, n in win1 for _ in range(n)] \
         + [(t2, "a")]
    batch = spark.createDataFrame(rows, "ts timestamp, role string")
    batch.write.mode("overwrite").parquet(os.path.join(src, "ev"))
    base_rows = [("x", "a")] * 300 + [("x", "b")] * 700
    base = spark.createDataFrame(base_rows, "k string, role string")

    stream = spark.readStream.schema(batch.schema) \
                  .parquet(os.path.join(src, "ev"))
    out = stream_drift(stream, "role", baseline_fractions(base, "role"),
                       window_duration="1 hour",
                       watermark_delay="1 minute")
    q = (out.writeStream.format("memory").queryName("drift_eq")
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = {r["window"]["start"].hour: (r["psi"], r["drifted"])
           for r in spark.sql("SELECT * FROM drift_eq").collect()}
    assert set(got) == {0, 1}

    # batch twin: baseline rows as epoch 0, each window as an epoch
    eb = [(0, v) for _, v in base_rows] \
       + [(1, v) for v, n in win0 for _ in range(n)] \
       + [(2, v) for v, n in win1 for _ in range(n)]
    epochs = spark.createDataFrame(eb, "epoch bigint, role string")
    want = {r["epoch"]: r["psi"]
            for r in psi(epochs, "role", baseline_epoch=0).collect()}
    assert got[0][0] == want[1]
    assert got[1][0] == want[2]
    assert got[0][1] is False and got[1][1] is True


def test_stream_dedup_equals_batch_dedup(spark, stream_dirs):
    """The kept fingerprint set of stream_dedup must equal the batch
    decision on the same rows: distinct fingerprints minus history —
    corpus_fingerprints is the shared definition, exact_duplicates /
    dedup_corpus the batch semantics."""
    import datetime
    import os

    from joi_spark.streaming import corpus_fingerprints, stream_dedup

    src, ckpt = stream_dirs
    t0 = datetime.datetime(2024, 5, 1, 0, 30)
    texts = ["alpha", "beta", "alpha", "gamma", None, "beta", "hist1"]
    batch = spark.createDataFrame(
        [(t0, i, t) for i, t in enumerate(texts)],
        "ts timestamp, doc_id bigint, text string")
    batch.write.mode("overwrite").parquet(os.path.join(src, "ev"))
    hist_docs = spark.createDataFrame(
        [(99, "hist1"), (98, "hist2")], "doc_id bigint, text string")
    history = corpus_fingerprints(hist_docs)

    stream = spark.readStream.schema(batch.schema) \
                  .parquet(os.path.join(src, "ev"))
    out = stream_dedup(stream, watermark_delay="10 minutes",
                       history=history)
    q = (out.writeStream.format("memory").queryName("dedup_eq")
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = {r["fp"] for r in spark.sql("SELECT fp FROM dedup_eq").collect()}

    want = {r["fp"] for r in
            corpus_fingerprints(spark.read.parquet(os.path.join(src, "ev")))
            .join(history.withColumnRenamed("fp", "fp"), "fp", "left_anti")
            .collect()}
    assert got == want and len(got) == 4   # alpha beta gamma null
