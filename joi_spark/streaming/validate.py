"""Structured Streaming validation — the streaming realization of the
batch engine (the reference is batch-only; SURVEY.md §2 end: "drift
checks between partition epochs stand in for temporal semantics").

The compiled plan is pure Column expressions, so it applies to a
streaming DataFrame unchanged: ``readStream → validate → writeStream``.
Two outputs:

- :func:`stream_violations` — append-mode violation rows (no global
  sort: streaming sinks can't order; downstream readers order within
  their own micro-batch window);
- :func:`stream_verdicts` — watermarked event-time-windowed pass/fail
  aggregates, the streaming analogue of per-partition verdicts; late
  rows beyond the watermark are dropped by Spark's state cleanup.

Scale: per-row checks are stateless map-only — arbitrary input rate;
verdict state is one small aggregate row per window (bounded by the
watermark horizon).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from joi_spark.dsl.base import Schema
from joi_spark.engine import validate


def stream_violations(stream_df: DataFrame, schema: Schema, *,
                      prefs: dict | None = None,
                      keep_cols: tuple[str, ...] = ("conv_id", "turn_idx"),
                      ) -> DataFrame:
    """Streaming violation rows (append mode), one per (row, failed
    rule) — unsorted; pair with ``.writeStream.outputMode('append')``."""
    res = validate(stream_df, schema, prefs=prefs,
                   order_by=[c for c in keep_cols if c in stream_df.columns])
    return res.violations(sort=False)


def stream_verdicts(stream_df: DataFrame, schema: Schema, *,
                    event_time_col: str = "ts",
                    window_duration: str = "1 hour",
                    watermark_delay: str = "10 minutes",
                    prefs: dict | None = None) -> DataFrame:
    """Watermarked windowed verdicts: ``(window, n_rows, n_violations,
    n_warnings, pass, constraint_hash)`` — pair with
    ``.writeStream.outputMode('append')`` (emits a window once the
    watermark passes it) or ``'update'``."""
    res = validate(stream_df, schema, prefs=prefs, order_by=[])
    return res._verdict_agg(
        lambda df: df.withWatermark(event_time_col, watermark_delay)
                     .groupBy(F.window(event_time_col, window_duration)
                               .alias("window")))


def stream_stateful_sequence(stream_df: DataFrame, *,
                             conv_col: str = "conv_id",
                             idx_col: str = "turn_idx") -> DataFrame:
    """Cross-batch sequence validation with per-conversation state —
    the custom stateful operator the batch engine can't express when
    turns for one conversation ARRIVE ACROSS micro-batches.

    ``applyInPandasWithState`` keyed by conversation keeps (max turn
    index, turn count) per conversation; a turn at or below the
    watermark of already-seen indices is flagged ``dataset.unique`` /
    ``dataset.sort``, a jump beyond max+1 is flagged ``dataset.sparse``.
    Output shape matches the batch dataset-rule reporting.

    State is two longs per conversation — bounded by conversation
    cardinality, not turn count.  NOTE on skew: state for one
    conversation lives in one task by construction (cross-batch state
    can't be salted); hot conversations bound per-batch latency, so
    cap micro-batch size upstream (maxFilesPerTrigger / rate limits).
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout
    from pyspark.sql import types as T

    out_schema = T.StructType([
        T.StructField(conv_col, T.StringType()),
        T.StructField(idx_col, T.IntegerType()),
        T.StructField("code", T.StringType()),
        T.StructField("message", T.StringType()),
    ])
    state_schema = T.StructType([
        T.StructField("max_idx", T.LongType()),
        T.StructField("n_seen", T.LongType()),
    ])

    def fn(key, pdfs, state):
        max_idx, n_seen = state.get if state.exists else (-1, 0)
        rows = []
        for pdf in pdfs:
            for idx in pdf[idx_col].sort_values():
                idx = int(idx)
                if idx <= max_idx:
                    rows.append((key[0], idx, "dataset.sort",
                                 f'"{idx_col}" must be sorted in ascending '
                                 f'order by arrival'))
                elif idx > max_idx + 1:
                    rows.append((key[0], idx, "dataset.sparse",
                                 f'"{idx_col}" must not be a sparse array '
                                 f'item'))
                    max_idx = idx
                else:
                    max_idx = idx
                n_seen += 1
        state.update((max_idx, n_seen))
        yield pd.DataFrame(rows, columns=[conv_col, idx_col, "code",
                                          "message"])

    return (stream_df.groupBy(conv_col)
            .applyInPandasWithState(fn, out_schema, state_schema, "append",
                                    GroupStateTimeout.NoTimeout))


def stream_sessions(stream_df: DataFrame, *,
                    key_col: str = "user_id",
                    event_time_col: str = "ts",
                    gap: str = "30 minutes",
                    watermark_delay: str = "1 hour") -> DataFrame:
    """Streaming gap-based sessionization — the Structured Streaming
    realization of the batch ``operators.dataset.sessionize`` path,
    using Spark's NATIVE ``session_window`` (dynamic-gap merging in
    the state store) instead of the batch lag-window trick, which a
    stream cannot express (no full-partition sort over unbounded
    input).

    Emits one row per closed session: ``(key, session_start,
    session_end, n_events, first_ts, last_ts)``.  A session closes —
    and its row is appended — once the watermark passes its end + gap;
    state per key is one open session window, bounded by the watermark
    horizon, so this runs indefinitely at any key cardinality.

    Skew note: like all keyed streaming state, one key's session
    lives on one task; hot keys bound micro-batch latency, not
    correctness (cap batch size upstream via rate limits)."""
    return (stream_df
            .withWatermark(event_time_col, watermark_delay)
            .groupBy(F.session_window(event_time_col, gap).alias("session"),
                     F.col(key_col))
            .agg(F.count(F.lit(1)).alias("n_events"),
                 F.min(event_time_col).alias("first_ts"),
                 F.max(event_time_col).alias("last_ts"))
            .select(key_col,
                    F.col("session.start").alias("session_start"),
                    F.col("session.end").alias("session_end"),
                    "n_events", "first_ts", "last_ts"))


def stream_drift(stream_df: DataFrame, column: str,
                 baseline: DataFrame, *,
                 event_time_col: str = "ts",
                 window_duration: str = "1 hour",
                 watermark_delay: str = "10 minutes",
                 bins: tuple[float, float, int] | None = None,
                 psi_threshold: float = 0.25) -> DataFrame:
    """Per-window PSI of ``column``'s distribution against a static
    baseline (:func:`joi_spark.operators.drift.baseline_fractions`) —
    the streaming realization of the batch epoch-drift check: each
    event-time window plays the role of an epoch.

    The baseline's bucket set is collected driver-side ONCE (it is a
    tiny static table), which turns per-window PSI into a SINGLE
    stateful aggregation: one conditional-count column per baseline
    bucket plus an out-of-vocabulary bucket, then pure Column PSI
    algebra over the counts.  No chained streaming aggregations, no
    stream-side join — state is one row of ~|buckets| longs per open
    window, bounded by the watermark horizon.  Out-of-vocabulary mass
    (values the baseline never saw) is compared against the EPS floor,
    so novel categories drive PSI up instead of vanishing.

    Emits ``(window, n_rows, psi, drifted)`` — pair with
    ``.writeStream.outputMode('append')``.
    """
    import math

    from joi_spark.operators.drift import EPS, _bucketize

    base = {r["bucket"]: r["q"] for r in baseline.collect()}
    if not base:
        raise ValueError("baseline has no buckets")
    buckets = sorted(base)
    b = _bucketize(F.col(column), bins)
    src = stream_df.filter(F.col(column).isNotNull())
    aggs = [F.sum((b == F.lit(v)).cast("long")).alias(f"_c{i}")
            for i, v in enumerate(buckets)]
    aggs.append(F.sum((~b.isin(list(buckets))).cast("long")).alias("_oov"))
    win = (src.withWatermark(event_time_col, watermark_delay)
              .groupBy(F.window(event_time_col, window_duration)
                        .alias("window"))
              .agg(F.count(F.lit(1)).alias("n_rows"), *aggs))
    total = F.col("n_rows").cast("double")
    terms = []
    for i, v in enumerate(buckets):
        p = F.col(f"_c{i}") / total + F.lit(EPS)
        q = F.lit(base[v] + EPS)
        terms.append((p - q) * F.log(p / q))
    p_oov = F.col("_oov") / total + F.lit(EPS)
    terms.append((p_oov - F.lit(EPS)) * F.log(p_oov / F.lit(EPS)))
    psi = terms[0]
    for t in terms[1:]:
        psi = psi + t
    return (win.withColumn("psi", psi)
               .withColumn("drifted", F.col("psi") > psi_threshold)
               .select("window", "n_rows", "psi", "drifted"))


def stream_dedup(stream_df: DataFrame, *,
                 key_cols: tuple[str, ...] = ("text",),
                 event_time_col: str = "ts",
                 watermark_delay: str = "1 hour",
                 history: DataFrame | None = None,
                 history_key: str = "fp",
                 fp_col: str = "fp") -> DataFrame:
    """Exact-dedup a document stream AT INGESTION: drop rows whose
    content fingerprint (sha256 over ``key_cols``) was already seen —

    - within the stream: Spark's ``dropDuplicatesWithinWatermark``
      keyed on the fingerprint, so state holds one 32-byte key per
      distinct document inside the watermark horizon and is evicted
      beyond it (an UNWATERMARKED streaming dropDuplicates grows
      state forever — the classic ingestion-pipeline leak);
    - optionally against an already-ingested corpus: a stream-static
      LEFT ANTI join on the fingerprint — stateless, re-planned per
      micro-batch, so the history table can grow between batches
      without restarting the query.  At 100 TB of history, pre-filter
      with a broadcast Bloom of the history fingerprints
      (:func:`joi_spark.operators.sketches.bloom_probe`) so the anti
      join shuffles only probable-duplicate rows; definite-new rows
      (the vast majority) never shuffle.

    Returns the stream with ``fp_col`` added — append-mode sink; pair
    with :func:`joi_spark.operators.dedup.exact_duplicates` semantics
    on the batch side (same fingerprint definition ⇒ the batch and
    streaming dedup decisions agree).
    """
    fp = F.sha2(F.concat_ws(
        "\x1f", *[F.coalesce(F.col(c).cast("string"), F.lit("\x00"))
                  for c in key_cols]), 256)
    out = (stream_df.withColumn(fp_col, fp)
                    .withWatermark(event_time_col, watermark_delay)
                    .dropDuplicatesWithinWatermark([fp_col]))
    if history is not None:
        hist = history.select(F.col(history_key).alias(fp_col)).distinct()
        out = out.join(hist, fp_col, "left_anti")
    return out


def corpus_fingerprints(df: DataFrame,
                        key_cols: tuple[str, ...] = ("text",),
                        fp_col: str = "fp") -> DataFrame:
    """The static history side for :func:`stream_dedup`: distinct
    sha256 fingerprints of an already-ingested corpus, same
    fingerprint definition as the stream side.  Write once, append
    per accepted batch."""
    fp = F.sha2(F.concat_ws(
        "\x1f", *[F.coalesce(F.col(c).cast("string"), F.lit("\x00"))
                  for c in key_cols]), 256)
    return df.select(fp.alias(fp_col)).distinct()
