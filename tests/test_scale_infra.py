"""Scale infrastructure: salted skew handling, checkpoint/resume."""

from __future__ import annotations

import shutil
import tempfile

import pytest
from py4j.protocol import Py4JJavaError
from pyspark.sql import functions as F

import joi_spark as joi
from joi_spark.checkpoint import CheckpointedRun
from joi_spark.operators import skew as SK
from joi_spark.sources.transcripts import clean_transcripts


@pytest.fixture(scope="module")
def skewed(spark):
    from joi_spark.sources.transcripts import skewed_transcripts
    df = skewed_transcripts(spark, hot_turns=5000, n_small_convs=50,
                            turns_per_small=10)
    df.persist(); df.count()
    return df


def test_salted_counts_match_plain(skewed):
    plain = {r["conv_id"]: r["n"] for r in
             skewed.groupBy("conv_id").agg(F.count(F.lit(1)).alias("n"))
                   .collect()}
    salted = {r["conv_id"]: r["n_turns"] for r in
              SK.salted_group_counts(skewed).collect()}
    assert salted == plain
    assert salted["c_hot"] == 5000


def test_salted_minmax_match_plain(skewed):
    plain = {r["conv_id"]: (r["mn"], r["mx"]) for r in
             skewed.groupBy("conv_id")
                   .agg(F.min("turn_idx").alias("mn"),
                        F.max("turn_idx").alias("mx")).collect()}
    salted = {r["conv_id"]: (r["min_v"], r["max_v"]) for r in
              SK.salted_group_minmax(skewed, "turn_idx").collect()}
    assert salted == plain


def test_salted_sizes_violations(skewed):
    v = SK.salted_conversation_sizes(skewed, min_turns=5, max_turns=100)
    rows = {r["conv_id"]: r["code"] for r in v.collect()}
    assert rows == {"c_hot": "array.max"}


def test_salted_repartition_partitioning(skewed):
    out = SK.salted_repartition(skewed, ["conv_id"], "turn_idx", salt=8,
                                num_partitions=8)
    # hot conversation must span >1 partition after salting
    n_parts = (out.filter(F.col("conv_id") == "c_hot")
                  .select(F.spark_partition_id().alias("p"))
                  .distinct().count())
    assert n_parts > 1


# --- checkpoint/resume -----------------------------------------------------

@pytest.fixture()
def ckpt_dir():
    d = tempfile.mkdtemp(prefix="joi_ckpt_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def _schema():
    return joi.object({
        "role": joi.string().valid("system", "user", "assistant", "tool")
                   .required(),
    })


def test_checkpoint_run_and_resume(spark, ckpt_dir):
    df = clean_transcripts(spark, n_convs=20, turns_per_conv=10, n_epochs=4)
    run = CheckpointedRun(ckpt_dir, _schema(), "epoch")
    r1 = run.run(df)
    assert r1 == {"completed_now": 4, "resumed": False}
    # second invocation: everything complete → no work
    r2 = run.run(df)
    assert r2 == {"completed_now": 0, "resumed": True}
    m = run.manifest(spark)
    assert m.count() == 4
    assert m.filter(~F.col("pass")).count() == 0


def test_checkpoint_partial_resume(spark, ckpt_dir):
    df = clean_transcripts(spark, n_convs=20, turns_per_conv=10, n_epochs=4)
    run = CheckpointedRun(ckpt_dir, _schema(), "epoch")
    # first run sees only epochs 0-1; second run completes the rest
    run.run(df.filter(F.col("epoch") < 2))
    r2 = run.run(df)
    assert r2["completed_now"] == 2
    assert run.manifest(spark).count() == 4


def test_checkpoint_schema_change_invalidates(spark, ckpt_dir):
    df = clean_transcripts(spark, n_convs=10, turns_per_conv=10, n_epochs=2)
    run = CheckpointedRun(ckpt_dir, _schema(), "epoch")
    run.run(df)
    changed = joi.object({"role": joi.string().valid("system").required()})
    run2 = CheckpointedRun(ckpt_dir, changed, "epoch")
    r = run2.run(df)
    assert r["completed_now"] == 2          # re-validated under new hash
    assert run2.manifest(spark).count() == 2
    assert run2.manifest(spark).filter(~F.col("pass")).count() == 2


def test_checkpoint_violations_lineage(spark, ckpt_dir):
    """violations() returns only rows for THIS constraint hash, and a
    re-validated partition does not accumulate duplicate rows
    (ADVICE round 1, item 2)."""
    df = clean_transcripts(spark, n_convs=10, turns_per_conv=10, n_epochs=2)
    strict = joi.object({"role": joi.string().valid("system").required()})
    run1 = CheckpointedRun(ckpt_dir, strict, "epoch")
    run1.run(df)
    n1 = run1.violations(spark).count()
    assert n1 > 0
    assert run1.violations(spark).filter(
        F.col("constraint_hash") != run1.hash).count() == 0
    # schema change → every partition re-validates under a new hash;
    # old-hash rows must not leak into the new read
    stricter = joi.object({"role": joi.string().valid("nobody").required()})
    run2 = CheckpointedRun(ckpt_dir, stricter, "epoch")
    run2.run(df)
    n2 = run2.violations(spark).count()
    assert n2 == df.count()                 # every row fails 'nobody'
    # a partial re-run of the SAME hash overwrites, never appends:
    # simulate a crash-before-manifest by wiping the manifest dir
    import shutil as _sh
    _sh.rmtree(run2.manifest_path, ignore_errors=True)
    run2.run(df)                            # everything re-validates
    assert run2.violations(spark).count() == n2


def test_checkpoint_new_hash_preserves_old_violations(spark, ckpt_dir):
    """A run under a NEW constraint hash must not physically delete the
    prior hash's violation rows (ADVICE round 2, high): the hash is part
    of the partitionBy layout, so dynamic overwrite only touches its own
    hash's directories."""
    df = clean_transcripts(spark, n_convs=10, turns_per_conv=10, n_epochs=2)
    strict = joi.object({"role": joi.string().valid("system").required()})
    run1 = CheckpointedRun(ckpt_dir, strict, "epoch")
    run1.run(df)
    n1 = run1.violations(spark).count()
    assert n1 > 0
    stricter = joi.object({"role": joi.string().valid("nobody").required()})
    run2 = CheckpointedRun(ckpt_dir, stricter, "epoch")
    run2.run(df)                 # rewrites every epoch under hash B
    # hash A's lineage is intact — violations() still returns its rows
    assert run1.violations(spark).count() == n1
    assert run2.violations(spark).count() == df.count()


@pytest.mark.parametrize("pc", ["epoch", "source"])
def test_checkpoint_clean_rerun_drops_stale_violations(spark, ckpt_dir, pc):
    """A partition that failed, lost its manifest row in a crash and then
    re-validates clean must not keep its old violation rows: dynamic
    overwrite only replaces partitions that receive rows.  ``source``
    values need escaping in directory names, as Spark does it."""
    df = (clean_transcripts(spark, n_convs=10, turns_per_conv=10, n_epochs=2)
          .withColumn("source", F.format_string("web/a b:%d", "epoch")))

    def breaking(epochs):
        return df.withColumn("role", F.when(
            F.col("epoch").isin(*epochs) & (F.col("turn_idx") == 1),
            F.lit("moderator")).otherwise(F.col("role")))
    fixed = F.col("epoch") == 0
    run = CheckpointedRun(ckpt_dir, _schema(), pc)
    run.run(breaking([0, 1]))
    first = run.violations(spark).join(df.filter(fixed).select(pc).distinct(),
                                       pc)
    assert first.count() == 5
    shutil.rmtree(run.manifest_path)        # crash before the manifest write
    assert run.run(breaking([1]))["completed_now"] == 2
    m = run.manifest(spark).join(df.filter(fixed).select(pc).distinct(),
                                 pc).first()
    assert m["pass"] and m["n_violations"] == 0
    assert run.violations(spark).count() == 5       # epoch 1 only


def test_checkpoint_corrupt_manifest_raises(spark, ckpt_dir):
    """Only a manifest with no committed data means a fresh root; an
    unreadable manifest raises instead of silently re-validating."""
    import glob
    import os
    df = clean_transcripts(spark, n_convs=10, turns_per_conv=10, n_epochs=2)
    run = CheckpointedRun(ckpt_dir, _schema(), "epoch")
    # leftovers of a crash during the first manifest write: still fresh
    os.makedirs(os.path.join(run.manifest_path, "_temporary", "0"))
    assert run.run(df) == {"completed_now": 2, "resumed": False}
    for f in glob.glob(os.path.join(run.manifest_path, "*.parquet")):
        with open(f, "wb") as fh:
            fh.write(b"not a parquet file")
    with pytest.raises(Py4JJavaError, match="parquet"):
        run.run(df)


@pytest.mark.parametrize("abort_early", [True, False])
@pytest.mark.parametrize("shuffle_partitions", ["2", "7"])
def test_checkpoint_violations_sorted_per_partition(spark, ckpt_dir,
                                                    abort_early,
                                                    shuffle_partitions):
    """Each partition directory's files, read in name order, hold the
    violations in (conv_id, turn_idx, seq) order, whatever the shuffle
    width; rows break several rules, so seq order within a row counts."""
    import glob
    import os
    import pyarrow.parquet as pq
    df = clean_transcripts(spark, n_convs=60, turns_per_conv=10, n_epochs=3)
    t = F.col("turn_idx")
    dirty = (df.withColumn("role", F.when(t % 3 == 0, F.lit("moderator"))
                                    .otherwise(F.col("role")))
               .withColumn("text", F.when(t % 2 == 0, F.lit("x"))
                                    .otherwise(F.col("text")))
               .withColumn("tool", F.when(t % 4 == 1, F.lit(""))
                                    .otherwise(F.col("tool")))
               .repartition(5))
    schema = joi.object({
        "role": joi.string().valid("system", "user", "assistant", "tool")
                   .required(),
        "text": joi.string().min(3),
        "tool": joi.string().min(1),
    })
    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", shuffle_partitions)
    try:
        run = CheckpointedRun(ckpt_dir, schema, "epoch")
        run.run(dirty, prefs={"abort_early": abort_early})
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
    dirs = sorted(glob.glob(os.path.join(
        run.violations_path, f"constraint_hash={run.hash}", "epoch=*")))
    assert len(dirs) == 3
    total = 0
    for d in dirs:
        keys = []
        for f in sorted(glob.glob(os.path.join(d, "*.parquet"))):
            tb = pq.ParquetFile(f).read(columns=["conv_id", "turn_idx",
                                                 "seq"])
            keys += zip(*(tb.column(c).to_pylist() for c in tb.column_names))
        assert keys and keys == sorted(keys), d
        total += len(keys)
    assert total == run.violations(spark).count()


def test_salted_sizes_requires_a_bound(skewed):
    with pytest.raises(ValueError, match="min_turns or max_turns"):
        SK.salted_conversation_sizes(skewed)


def test_checkpoint_metrics_manifests(spark, ckpt_dir):
    """run(stats_columns/sketch_columns) leaves per-partition metrics
    manifests; anomaly + cardinality screens run on them WITHOUT
    rescanning the data, and resume does not duplicate rows."""
    from joi_spark.operators.stats import manifest_anomalies
    df = clean_transcripts(spark, n_convs=20, turns_per_conv=10, n_epochs=4)
    run = CheckpointedRun(ckpt_dir, _schema(), "epoch")
    run.run(df, stats_columns=["role", "text"],
            sketch_columns=["conv_id"])
    st = run.stats(spark)
    assert st.count() == 4 * 2              # 4 epochs x 2 columns
    assert set(st.select("column").distinct().toPandas()["column"]) \
        == {"role", "text"}
    sk = run.sketches(spark)
    assert sk.count() == 4
    glob = run.global_cardinality(spark).first()
    n_convs = df.select("conv_id").distinct().count()
    assert abs(glob["estimate"] - n_convs) <= 0.05 * n_convs
    assert glob["n_rows"] == df.count()
    an = manifest_anomalies(st, partition_col="epoch", z_threshold=3.0)
    assert an.count() == 4 * 2 * 2          # epochs x columns x metrics
    assert an.filter("flagged").count() == 0   # clean data, no outlier
    # resume with everything complete: no work, manifests unchanged
    r2 = run.run(df, stats_columns=["role", "text"],
                 sketch_columns=["conv_id"])
    assert r2["resumed"] and run.stats(spark).count() == 8


def test_checkpoint_stats_lineage_survives_schema_change(spark, ckpt_dir):
    df = clean_transcripts(spark, n_convs=10, turns_per_conv=10, n_epochs=2)
    run1 = CheckpointedRun(ckpt_dir, _schema(), "epoch")
    run1.run(df, stats_columns=["role"])
    changed = joi.object({"role": joi.string().valid("system").required()})
    run2 = CheckpointedRun(ckpt_dir, changed, "epoch")
    run2.run(df, stats_columns=["role"])
    # each hash sees exactly its own stats rows
    assert run1.stats(spark).count() == 2
    assert run2.stats(spark).count() == 2


def test_iceberg_fallback_only_on_missing_format(spark, tmp_path,
                                                 monkeypatch):
    """read_table's parquet fallback fires ONLY when the iceberg data
    source is absent from the classpath; a genuine Iceberg read error
    (corrupt metadata, bad snapshot) propagates instead of being
    silently retried as a parquet scan (round-3 verdict item 8)."""
    from pyspark.sql.readwriter import DataFrameReader
    from joi_spark.sources.iceberg import read_table

    path = str(tmp_path / "t")
    spark.createDataFrame([(1, "a")], "id bigint, v string") \
         .write.parquet(path)
    real_load = DataFrameReader.load

    def fake_load(self, p=None, format=None, **kw):
        if getattr(self, "_format_hint", None) == "iceberg":
            raise RuntimeError(fake_load.err)
        return real_load(self, p, **kw)

    real_format = DataFrameReader.format

    def fake_format(self, source):
        self._format_hint = source
        return real_format(self, source)

    monkeypatch.setattr(DataFrameReader, "load", fake_load)
    monkeypatch.setattr(DataFrameReader, "format", fake_format)

    # missing-format error → parquet fallback, rows come back
    fake_load.err = ("[DATA_SOURCE_NOT_FOUND] Failed to find the data "
                     "source: iceberg.")
    assert read_table(spark, path).count() == 1

    # genuine Iceberg failure → propagates verbatim
    fake_load.err = "Cannot read Iceberg metadata: snapshot 42 missing"
    with pytest.raises(RuntimeError, match="snapshot 42 missing"):
        read_table(spark, path)


def test_bench_fixture_stays_clean_past_a_million_convs(spark):
    """Round-4 lesson: the 6-digit conv_id pattern silently made the
    64M-turn scaling table 69%-violating (7-digit ids past 1M convs),
    so the benchmark measured message rendering instead of validation.
    Pin the invariant directly: a >1M-conversation clean table has
    ZERO violations under the bench schema."""
    import sys
    sys.path.insert(0, "/root/repo")
    import bench as B
    df = clean_transcripts(spark, n_convs=1_100_000, turns_per_conv=2)
    res = joi.validate(df, B.transcript_schema(),
                       prefs={"abort_early": False})
    assert res.violations().count() == 0


def test_bench_compact_line_fits_1kb():
    """bench.py prints a compact summary after the full result line so
    a tail-limited reader still gets whole JSON: at the suite's 71
    queries it stays ≤ 1 KB and keeps the 5 slowest warm queries."""
    import json
    import sys
    sys.path.insert(0, str(__import__("pathlib").Path(__file__).resolve().parents[1]))
    import bench as B
    queries = {f"query_with_a_long_name_{i:02d}": round(0.1 + i * 0.137, 3)
               for i in range(71)}
    out = {"metric": "total_sec", "value": 123.456, "unit": "sec",
           "queries": queries, "queries_cold": dict(queries), "sf": 0.1,
           "validated_turns_per_sec": 2651786,
           "transcript": {"turns": 8000001, "sec": 3.017}}
    line = B.compact_line(out)
    assert len(line.encode()) <= 1024
    got = json.loads(line)
    assert {k: got[k] for k in ("metric", "value", "unit", "sf",
                                "validated_turns_per_sec")} == \
        {k: out[k] for k in ("metric", "value", "unit", "sf",
                             "validated_turns_per_sec")}
    assert list(got["slowest_queries"]) == \
        [f"query_with_a_long_name_{i:02d}" for i in (70, 69, 68, 67, 66)]


def test_query_outputs_stable_under_shuffle_partitioning(spark):
    """Canonical outputs must not depend on the shuffle partition
    count (tie-breaks, heap merges, and hash-aggregate orders all
    change with partitioning — the 100 TB failure mode is a rank
    column that silently reshuffles).  Representative order-sensitive
    queries run under 7 vs 32 shuffle partitions and must agree
    row-for-row."""
    import sys
    sys.path.insert(0, "/root/repo")
    import __spark_entry__ as em
    qs = em.queries()
    sf = "/root/testdata/sf0.001"
    names = ["weighted_topk", "vocab_topk", "tfidf_terms",
             "stratified_sample", "cosine_topk", "dedup_clusters"]
    old = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        outs = {}
        for parts in ("7", "32"):
            spark.conf.set("spark.sql.shuffle.partitions", parts)
            spark.catalog.clearCache()
            for n in names:
                df = qs[n](spark, sf)
                rows = sorted(tuple(r) for r in df.collect())
                outs.setdefault(n, []).append(rows)
        for n, (a, b) in outs.items():
            assert a == b, f"{n} output depends on shuffle partitioning"
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
