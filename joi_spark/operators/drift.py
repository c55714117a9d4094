"""Distribution-drift checks between partition epochs (north_rule):
PSI in pure Column algebra; KS from bucketed CDFs (approximate, pure
SQL) with an exact ``applyInPandas`` variant for bounded cardinality.

Epoch-over-epoch drift stands in for temporal semantics — the reference
has no streaming (SURVEY.md §2 end); the engine is batch,
epoch-partitioned.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

EPS = 1e-6  # smoothing for empty cells, standard PSI practice


MAX_CATEGORIES = 1000   # categorical-bucket valve (see _collected_fractions)


def _counts(df: DataFrame, column: str, epoch_col: str,
            n_buckets: int, dtype: str) -> DataFrame:
    """Lazy ``(epoch, bucket, cnt)`` aggregate — bucket is the value
    for categoricals, a fixed-width bin index for
    numerics/timestamps.  Map-side combined; the only extra job is
    the numeric min/max bounds probe."""
    col = F.col(column)
    if dtype in ("string", "boolean"):
        bucket = col.cast("string")
    else:
        base = F.unix_micros(col).cast("double") if dtype.startswith("timestamp") \
            else col.cast("double")
        bounds = df.agg(F.min(base).alias("lo"), F.max(base).alias("hi")).first()
        lo, hi = bounds["lo"], bounds["hi"]
        if lo is None or hi is None or hi == lo:
            bucket = F.lit("0")
        else:
            width = (hi - lo) / n_buckets
            bucket = F.least(F.floor((base - F.lit(lo)) / F.lit(width)),
                             F.lit(n_buckets - 1)).cast("string")
    return (df.filter(col.isNotNull())
              .groupBy(F.col(epoch_col).alias("epoch"),
                       bucket.alias("bucket"))
              .agg(F.count(F.lit(1)).alias("cnt")))


def _collected_fractions(df: DataFrame, column: str, epoch_col: str,
                         n_buckets: int, baseline_epoch,
                         max_categories: int = MAX_CATEGORIES):
    """The ``(epoch, bucket, frac)`` table as driver-side dicts —
    BOUNDED by epochs × min(buckets, max_categories + 1) regardless of
    input size or column cardinality — plus the resolved baseline
    epoch and the epoch field's Spark type.

    Why collect instead of staying lazy: the divergence math consumes
    this aggregate four ways (baseline slice, epoch set, bucket set,
    dense grid).  As lazy Spark, each BROADCAST subtree is its own
    job re-running the full source aggregation — measured 5 jobs /
    6.0 s for a 6-row JSD answer at sf0.1; finishing the ≤ thousands
    of rows driver-side is what any engine does for a drift report.

    Categorical cardinality valve: ONE probe (top ``max_categories``
    buckets by global mass over the map-side-combined count
    aggregate, ties to the smaller value) decides whether the column
    truncates.  The common low-cardinality case pays just that probe
    + one bounded collect; a high-cardinality column additionally
    pools its tail into an ``__other__`` bucket per epoch (true
    per-epoch remainder, from the per-epoch totals) so fractions
    still sum to 1 and the driver never holds more than the cap.
    The counts aggregate is persisted across these 2-3 jobs — the
    source is scanned once."""
    dtype = dict(df.dtypes)[column]
    counts = _counts(df, column, epoch_col, n_buckets, dtype)
    epoch_field = counts.schema["epoch"]
    if dtype in ("string", "boolean"):
        counts = counts.persist()
        try:
            mass = (counts.groupBy("bucket")
                          .agg(F.sum("cnt").alias("_m"))
                          .orderBy(F.desc("_m"), F.asc("bucket"))
                          .limit(max_categories + 1).collect())
            if len(mass) <= max_categories:
                collected = [r.asDict() for r in counts.collect()]
            else:
                top = {r["bucket"] for r in mass[:max_categories]}
                kept = [r.asDict() for r in
                        counts.filter(F.col("bucket").isin(list(top)))
                              .collect()]
                totals = {r["epoch"]: r["t"] for r in
                          counts.groupBy("epoch")
                                .agg(F.sum("cnt").alias("t")).collect()}
                seen: dict = {}
                for r in kept:
                    seen[r["epoch"]] = seen.get(r["epoch"], 0) + r["cnt"]
                other = [{"epoch": e, "bucket": "__other__",
                          "cnt": totals[e] - seen.get(e, 0)}
                         for e in totals
                         if totals[e] - seen.get(e, 0) > 0]
                collected = kept + other
        finally:
            counts.unpersist()
    else:
        collected = [r.asDict() for r in counts.collect()]
    # NULL-epoch rows are excluded, as the lazy form's `epoch !=
    # baseline` null-rejecting filter always did
    collected = [r for r in collected if r["epoch"] is not None]
    # merge duplicate (epoch, bucket) cells: a corpus whose data
    # genuinely contains the '__other__' category would otherwise
    # carry two rows for that key (kept + pooled tail) and the
    # downstream dict build would drop one row's mass
    merged: dict = {}
    for r in collected:
        k = (r["epoch"], r["bucket"])
        merged[k] = merged.get(k, 0) + r["cnt"]
    collected = [{"epoch": e, "bucket": b, "cnt": c}
                 for (e, b), c in merged.items()]
    totals_by_epoch: dict = {}
    for r in collected:
        totals_by_epoch[r["epoch"]] = \
            totals_by_epoch.get(r["epoch"], 0) + r["cnt"]
    rows = [{"epoch": r["epoch"], "bucket": r["bucket"],
             "frac": r["cnt"] / totals_by_epoch[r["epoch"]]}
            for r in collected]
    if baseline_epoch is None and rows:
        baseline_epoch = min(r["epoch"] for r in rows)
    return rows, baseline_epoch, epoch_field


def _divergence_result(df: DataFrame, rows, baseline_epoch, epoch_field,
                       column: str, metric: str, fn) -> DataFrame:
    """Assemble the per-epoch result table from driver-side math:
    ``fn(p_map, q_map, buckets)`` → metric value.  Terms iterate in
    sorted-bucket order so the float sum is deterministic."""
    from pyspark.sql.types import (DoubleType, StringType, StructField,
                                   StructType)
    schema = StructType([
        StructField("column", StringType()),
        StructField("epoch", epoch_field.dataType),
        StructField("baseline_epoch", StringType()),
        StructField(metric, DoubleType()),
    ])
    by_epoch: dict = {}
    for r in rows:
        by_epoch.setdefault(r["epoch"], {})[r["bucket"]] = r["frac"]
    q = by_epoch.get(baseline_epoch, {})
    buckets = sorted({b for m in by_epoch.values() for b in m})
    out = [(column, e, str(baseline_epoch), fn(p, q, buckets))
           for e, p in sorted(by_epoch.items())
           if e != baseline_epoch]
    return df.sparkSession.createDataFrame(out, schema)


def psi(df: DataFrame, column: str, *, epoch_col: str = "epoch",
        baseline_epoch=None, n_buckets: int = 20,
        max_categories: int = MAX_CATEGORIES) -> DataFrame:
    """Population Stability Index of ``column`` for every epoch vs the
    baseline epoch (default: the smallest epoch value).

    PSI = Σ_b (p_b - q_b) · ln(p_b / q_b), smoothed with EPS, over the
    union of buckets seen in ANY epoch — a vanished category is the
    strongest drift signal, so missing cells contribute through the
    smoothing floor.  One grouped-aggregate Spark job (map-side
    combined, result bounded by epochs × buckets); the divergence sum
    finishes driver-side (:func:`_collected_fractions`).

    Rule of thumb: <0.1 stable, 0.1-0.25 moderate shift, >0.25 drifted.
    """
    import math
    rows, baseline_epoch, ef = _collected_fractions(
        df, column, epoch_col, n_buckets, baseline_epoch, max_categories)

    def _psi(p, q, buckets):
        s = 0.0
        for b in buckets:
            pb = p.get(b, 0.0) + EPS
            qb = q.get(b, 0.0) + EPS
            s += (pb - qb) * math.log(pb / qb)
        return s

    return _divergence_result(df, rows, baseline_epoch, ef,
                              column, "psi", _psi)


def js_divergence(df: DataFrame, column: str, *, epoch_col: str = "epoch",
                  baseline_epoch=None, n_buckets: int = 20,
                  max_categories: int = MAX_CATEGORIES) -> DataFrame:
    """Jensen–Shannon divergence of ``column`` per epoch vs baseline —
    the bounded, symmetric companion to :func:`psi` (JSD ∈ [0, ln 2];
    PSI is unbounded and explodes on vanished categories, so
    dashboards typically track both).

    JSD(p, q) = ½·Σ p·ln(p/m) + ½·Σ q·ln(q/m), m = (p+q)/2, on the
    same smoothed bucket fractions and single-job aggregate shape as
    :func:`psi`."""
    import math
    rows, baseline_epoch, ef = _collected_fractions(
        df, column, epoch_col, n_buckets, baseline_epoch, max_categories)

    def _jsd(p, q, buckets):
        s = 0.0
        for b in buckets:
            pb = p.get(b, 0.0) + EPS
            qb = q.get(b, 0.0) + EPS
            m = (pb + qb) / 2
            s += (pb * math.log(pb / m) + qb * math.log(qb / m)) / 2
        return s

    return _divergence_result(df, rows, baseline_epoch, ef,
                              column, "jsd", _jsd)


def ks_statistic(df: DataFrame, column: str, *, epoch_col: str = "epoch",
                 baseline_epoch=None, n_buckets: int = 200) -> DataFrame:
    """Approximate two-sample Kolmogorov–Smirnov statistic per epoch vs
    baseline: D = max_b |CDF_p(b) - CDF_q(b)| over ``n_buckets`` bins.

    Bucketed-CDF approximation error ≤ 1/n_buckets; same single-job
    aggregate + driver finish as :func:`psi` (the CDF runs over at
    most ``n_buckets`` cells per epoch)."""
    dtype = dict(df.dtypes)[column]
    if dtype in ("string", "boolean"):
        raise ValueError("KS requires an ordered column; use psi() for "
                         "categoricals")
    rows, baseline_epoch, ef = _collected_fractions(
        df, column, epoch_col, n_buckets, baseline_epoch)
    rows = [r | {"bucket": int(r["bucket"])} for r in rows]

    def _ks(p, q, buckets):
        d = cp = cq = 0.0
        for b in buckets:
            cp += p.get(b, 0.0)
            cq += q.get(b, 0.0)
            d = max(d, abs(cp - cq))
        return d

    return _divergence_result(df, rows, baseline_epoch, ef,
                              column, "ks", _ks)


def baseline_fractions(df: DataFrame, column: str, *,
                       bins: tuple[float, float, int] | None = None,
                       top_k: int = 1000) -> DataFrame:
    """Static baseline distribution ``(bucket, q)`` of ``column`` for
    :func:`joi_spark.streaming.validate.stream_drift` — categorical
    values verbatim (top ``top_k`` by mass), numeric via FIXED-edge
    bins ``(lo, hi, n)`` supplied by the caller: a stream cannot
    derive data-dependent edges from unbounded input, so the edges
    must come from the baseline era and be reused verbatim on the
    stream side."""
    b = _bucketize(F.col(column), bins)
    nn = df.filter(F.col(column).isNotNull())
    counts = (nn.groupBy(b.alias("bucket"))
                .agg(F.count(F.lit(1)).alias("cnt"))
                .orderBy(F.desc("cnt"), "bucket").limit(top_k))
    # normalize by the FULL corpus count, not the retained top_k sum:
    # dividing by the truncated sum inflates every retained fraction
    # and silently shifts the true tail mass into stream_drift's
    # OOV-vs-EPS term, biasing streaming PSI upward on heavy tails
    total = nn.agg(F.count(F.lit(1)).cast("double").alias("_total"))
    return (counts.crossJoin(F.broadcast(total))
                  .select("bucket",
                          (F.col("cnt") / F.col("_total")).alias("q")))


def _bucketize(col, bins: tuple[float, float, int] | None):
    """Shared bucket labeling: value verbatim, or fixed-edge bin index
    — identical on the baseline and stream sides by construction."""
    if bins is None:
        return col.cast("string")
    lo, hi, n = bins
    width = (hi - lo) / n
    idx = F.least(F.greatest(
        F.floor((col.cast("double") - F.lit(lo)) / F.lit(width)),
        F.lit(0)), F.lit(n - 1))
    return idx.cast("string")
