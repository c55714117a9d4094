"""Checkpoint/resume with per-partition lineage + metrics manifests
(north_rule: "resumable from checkpoint with per-partition lineage +
metrics").

A validation run over an epoch-partitioned table writes, per partition:
one manifest row ``(partition value, constraint_hash, n_rows,
n_violations, n_warnings, pass, engine_version)`` — the lineage record —
plus the violation rows, sorted by ``order_by`` then rule sequence
within each partition directory.  On restart, partitions whose manifest
row exists under the SAME constraint hash are anti-joined out of the
input before any validation work runs, so a resumed job re-reads only
incomplete partitions.

Scale notes:
- a fresh run reads its input twice: once for the verdict counts
  (collected, and written as the manifest last) and once for the
  violation rows;
- violations are hash-partitioned on the partition value and sorted
  within each task, so no range-sampling job rescans the input;
- the manifest is tiny (one row per partition) — it broadcasts;
- completed-partition pruning happens BEFORE the scan filter, so
  Spark's partition pruning (`epoch IN (...)`) skips whole files:
  resume cost is proportional to the remaining work, not table size;
- a constraint-spec change (different manifest_hash) invalidates all
  completions automatically — lineage ties results to the exact
  schema that produced them (reference analogue: describe()/build()
  round-trip as the persisted spec, lib/manifest.js:16-155).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from joi_spark.dsl.base import Schema
from joi_spark.dsl.manifest import manifest_hash
from joi_spark.engine import validate

ENGINE_VERSION = "0.1.0"


def _hadoop_path(spark: SparkSession, path: str):
    """``(FileSystem, Path)`` for ``path`` under the session's Hadoop
    configuration."""
    p = spark._jvm.org.apache.hadoop.fs.Path(path)
    conf = spark._jsparkSession.sessionState().newHadoopConf()
    return p.getFileSystem(conf), p


class CheckpointedRun:
    """Orchestrates validate → write-per-partition → resume."""

    def __init__(self, root: str, schema: Schema, partition_col: str):
        self.root = root
        self.schema = schema
        self.partition_col = partition_col
        self.hash = manifest_hash(schema)
        self.manifest_path = os.path.join(root, "manifest")
        self.violations_path = os.path.join(root, "violations")
        self.stats_path = os.path.join(root, "stats")
        self.sketches_path = os.path.join(root, "sketches")

    # -- resume bookkeeping -------------------------------------------
    def completed_partitions(self, spark: SparkSession) -> DataFrame | None:
        """Manifest rows for THIS constraint hash, or None if fresh.

        Fresh means the manifest directory is missing or holds only
        hidden entries (``_temporary`` left by a crash during the first
        manifest write).  Any other read failure — a corrupt manifest
        file, say — raises rather than silently re-validating."""
        fs, path = _hadoop_path(spark, self.manifest_path)
        if not fs.exists(path) or all(
                st.getPath().getName().startswith(("_", "."))
                for st in fs.listStatus(path)):
            return None
        return self.manifest(spark)

    def pending(self, df: DataFrame) -> DataFrame:
        """Input minus completed partitions (broadcast anti-join on the
        partition value → Catalyst turns it into partition pruning)."""
        done = self.completed_partitions(df.sparkSession)
        if done is None:
            return df
        keys = done.select(F.col(self.partition_col)).distinct()
        return df.join(F.broadcast(keys), [self.partition_col], "left_anti")

    def _drop_violations(self, spark: SparkSession, values) -> None:
        """Delete this hash's violation directories for the partition
        ``values`` (cast to string, as Spark does for partition paths).
        Dynamic overwrite replaces only partitions that receive rows, so
        a partition that re-validates clean would otherwise keep the
        rows of an earlier failing run."""
        utils = spark._jvm.org.apache.spark.sql.catalyst.catalog \
            .ExternalCatalogUtils
        fs, root = _hadoop_path(spark, self.violations_path)
        hash_dir = utils.getPartitionPathString("constraint_hash", self.hash)
        for v in values:
            part_dir = utils.getPartitionPathString(self.partition_col, v)
            fs.delete(spark._jvm.org.apache.hadoop.fs.Path(
                root, f"{hash_dir}/{part_dir}"), True)

    # -- one run ------------------------------------------------------
    def run(self, df: DataFrame, *, stats_columns=None,
            sketch_columns=None, **validate_kw) -> dict:
        """Validate all pending partitions; write violations (and any
        metrics manifests), THEN the manifest.  Returns a summary dict
        (partitions completed this run).

        The input is read twice.  The first scan computes the verdicts,
        one row per pending partition, and collects them: no rows means
        nothing is pending.  The second scan produces the violation
        rows, hash-partitioned on the partition value and sorted by
        ``order_by`` then rule sequence within each task — no global
        sort, so no range-sampling job rescans the input.  Trade-off:
        one task sorts all violations of a partition value, spilling to
        disk when they are large.  The manifest is written last, from
        the collected verdict rows, so it needs no third scan.

        ``stats_columns`` additionally writes a per-partition
        :func:`~joi_spark.operators.stats.stats_manifest` (null frac,
        HLL distinct, min/max) and ``sketch_columns`` a
        :func:`~joi_spark.operators.sketches.cardinality_manifest`
        (mergeable HLL binaries) under the same lineage layout —
        downstream drift/anomaly screens
        (:func:`~joi_spark.operators.stats.manifest_anomalies`,
        :func:`~joi_spark.operators.sketches.cardinality_merge`) then
        run on manifests alone, never rescanning validated data.

        Crash-safety: violation/stats/sketch rows are written via
        DYNAMIC partition overwrite — a crash before the manifest
        write leaves the partition un-manifested, so resume
        re-validates it and the overwrite REPLACES (not appends) the
        partial rows; no duplicates.  A partition that now validates
        clean gets no rows to overwrite with, so its directory is
        deleted first.  The constraint hash is part of the PHYSICAL
        layout (``partitionBy(constraint_hash, partition_col)``), so a
        run under a new hash only ever rewrites its own hash's
        directories — prior-hash rows (and their lineage) survive
        schema changes, and concurrent runs under different hashes
        never clobber each other."""
        spark = df.sparkSession
        pending = self.pending(df)
        res = validate(pending, self.schema, **validate_kw)
        jverd = (res.verdicts([self.partition_col])
                 .withColumn("engine_version", F.lit(ENGINE_VERSION)))._jdf
        # the verdict rows, collected once and held in the driver JVM as
        # a local relation: reading them back and writing the manifest
        # from them need no scan and no Python worker
        verd = type(df)(spark._jsparkSession.createDataFrame(
            jverd.collectAsList(), jverd.schema()), spark)
        # the partition value as Spark renders it in a directory name
        rows = verd.select(F.col(self.partition_col).cast("string"),
                           "n_violations", "n_warnings").collect()
        if not rows:
            return {"completed_now": 0, "resumed": True}
        self._drop_violations(spark, [r[0] for r in rows if not (
            r["n_violations"] or r["n_warnings"])])
        # _overwrite adds the literal hash AFTER the sort: with it among
        # the sort keys, the writer's own sort on its partition columns
        # replaces this one and the order_by order is lost
        viol = (res.violations(extra_cols=[self.partition_col], sort=False)
                .repartition(self.partition_col)
                .sortWithinPartitions(self.partition_col, *res.order_by, "seq"))
        self._overwrite(viol, self.violations_path)
        if stats_columns:
            from joi_spark.operators.stats import stats_manifest
            self._overwrite(stats_manifest(pending, self.partition_col,
                                           list(stats_columns)),
                            self.stats_path)
        if sketch_columns:
            from joi_spark.operators.sketches import cardinality_manifest
            self._overwrite(
                cardinality_manifest(pending, list(sketch_columns),
                                     partition_col=self.partition_col)
                .withColumnRenamed("partition", self.partition_col),
                self.sketches_path)
        verd.coalesce(1).write.mode("append").parquet(self.manifest_path)
        return {"completed_now": len(rows), "resumed": False}

    def _overwrite(self, df: DataFrame, path: str) -> None:
        """Write ``df`` under this constraint hash, partitioned by
        ``(constraint_hash, partition_col)``.  The overwrite is dynamic
        for this write alone: only the partitions ``df`` has rows for
        are replaced, and the session's own setting is left as it is."""
        df.withColumn("constraint_hash", F.lit(self.hash)).write \
            .mode("overwrite") \
            .option("partitionOverwriteMode", "dynamic") \
            .partitionBy("constraint_hash", self.partition_col) \
            .parquet(path)

    def _read(self, spark: SparkSession, path: str) -> DataFrame:
        """The rows at ``path`` under THIS constraint hash."""
        return spark.read.parquet(path) \
            .filter(F.col("constraint_hash") == self.hash)

    # -- outputs ------------------------------------------------------
    def manifest(self, spark: SparkSession) -> DataFrame:
        return self._read(spark, self.manifest_path)

    def violations(self, spark: SparkSession) -> DataFrame:
        """Violation rows under THIS constraint hash — the lineage
        guarantee holds for violations, not just the manifest."""
        return self._read(spark, self.violations_path)

    def stats(self, spark: SparkSession) -> DataFrame:
        """Per-partition column-stats manifest rows under THIS hash
        (written when ``run(stats_columns=...)``); feed to
        :func:`~joi_spark.operators.stats.manifest_anomalies`."""
        return self._read(spark, self.stats_path)

    def sketches(self, spark: SparkSession) -> DataFrame:
        """Per-partition HLL sketch manifest rows under THIS hash
        (written when ``run(sketch_columns=...)``)."""
        return self._read(spark, self.sketches_path)

    def global_cardinality(self, spark: SparkSession) -> DataFrame:
        """Whole-table distinct estimates folded from the persisted
        sketches — no data rescan (the mergeable-manifest payoff)."""
        from joi_spark.operators.sketches import cardinality_merge
        return cardinality_merge(self.sketches(spark))
