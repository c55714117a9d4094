"""The benchmark's workloads: schema, input, one timed iteration, and the
probes that split an iteration into the program's layers.

Every probe calls the program through its public functions, from
outside; nothing here changes the program.
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

import joi_spark as joi
from joi_spark.checkpoint import CheckpointedRun
from joi_spark.operators import dataset as DS

import check
import gen

PARTITION = "epoch"
# what tools/submit_validate.py passes by default
PREFS = {"abort_early": False}


def transcript_schema():
    """The five-column schema of tools/submit_validate.py."""
    return joi.object({
        "conv_id": joi.string().required().pattern("^c[0-9]{6,8}$"),
        "turn_idx": joi.number().integer().min(0).required(),
        "role": joi.string().valid("system", "user", "assistant", "tool")
                   .required(),
        "text": joi.string().max(8192),
        "tool": joi.string().min(1),
    })


def wide_schema():
    keys = {"conv_id": joi.string().required().pattern("^c[0-9]{6,8}$"),
            "turn_idx": joi.number().integer().min(0).required()}
    for i in range(gen.WIDE_STRINGS):
        keys[f"s{i:02d}"] = joi.string().min(2).max(24)
    for i in range(gen.WIDE_INTS):
        keys[f"n{i:02d}"] = joi.number().integer().min(0).max(10000)
    for i in range(gen.WIDE_FLOATS):
        keys[f"f{i:02d}"] = joi.number().min(0).max(1)
    keys["flag"] = joi.boolean()
    keys["email"] = joi.string().email()
    keys["name_nfc"] = joi.string().normalize("NFC").max(gen.NAME_MAX)
    return joi.object(keys)


def udf_schema(email: str, normalized: str, limit: int):
    """Only rules that run as pandas UDFs: ``email()`` on one column and a
    length rule after ``normalize("NFC")`` on another."""
    return joi.object({email: joi.string().email(),
                       normalized: joi.string().normalize("NFC").max(limit)})


def force_plan(df: DataFrame) -> None:
    """Run Catalyst analysis, optimization and physical planning without
    starting a job."""
    df._jdf.queryExecution().executedPlan()


def noop(df: DataFrame) -> None:
    df.write.format("noop").mode("overwrite").save()


def timed(fn, *args) -> float:
    t0 = time.perf_counter()
    fn(*args)
    return time.perf_counter() - t0


@dataclass(frozen=True)
class Workload:
    name: str
    n_rows: int
    build: Callable[[int, int], tuple]     # (seed, n_rows) -> (table, expected)
    schema: Callable | None                 # None: the dataset-rule bundle
    columns: tuple[str, ...]                # what the iteration reads
    udf_columns: tuple | None = None        # udf_schema() arguments

    @staticmethod
    def tools_dim(spark: SparkSession) -> DataFrame:
        rows = [(t, ("search", "code", "io", "other")[i % 4])
                for i, t in enumerate(gen.TOOL_NAMES)]
        return spark.createDataFrame(rows, "tool_name string, category string")

    # -- end to end ----------------------------------------------------
    def iteration(self, df: DataFrame, root: str) -> float:
        """One production-shaped run into a fresh ``root``; returns its
        wall time."""
        t0 = time.perf_counter()
        if self.schema is None:
            DS.validate_dataset(df, tools_dim=self.tools_dim(df.sparkSession)) \
                .write.parquet(os.path.join(root, "violations"))
        else:
            CheckpointedRun(root, self.schema(), PARTITION).run(df, prefs=PREFS)
        return time.perf_counter() - t0

    def check(self, root: str, expected: dict) -> list[str]:
        if self.schema is None:
            return check.dataset_run(os.path.join(root, "violations"),
                                     expected)
        return check.checkpoint_run(root, expected)

    # -- layers (traced runs only) ---------------------------------------
    # Each probe times the public call into one layer; ``group(name)``
    # puts the actions that follow in their own job group.

    def side_probes(self, df: DataFrame, group) -> dict:
        """Seconds for each dataset rule on its own and for the rules
        that run as pandas UDFs, on the tables that have the columns."""
        out = {}
        if {"conv_id", "turn_idx", "ts", "tool"} <= set(df.columns):
            dim = self.tools_dim(df.sparkSession)
            for name, rule in (
                    ("unique", lambda: DS.unique_rows(df, ["conv_id",
                                                           "turn_idx"])),
                    ("sequence", lambda: DS.sequence_violations(df, "ts")),
                    ("referential", lambda: DS.referential(
                        df, "tool", dim, "tool_name")),
                    ("heads", lambda: DS.conversation_heads(df))):
                group(name)
                out[name] = timed(lambda: noop(rule()))
        if self.udf_columns:
            res = joi.validate(df.select(*self.udf_columns[:2]),
                               udf_schema(*self.udf_columns), prefs=PREFS)
            group("udfs")
            out["udfs"] = timed(noop, res.checked.filter(~F.col("_ok")))
        return out

    def engine_probes(self, df: DataFrame, root: str, group) -> dict:
        """Seconds for the scan floor and, for a schema, each cumulative
        step of the validation path; plus ``checks``, the compiled check
        count."""
        group("floor")
        out = {"floor": timed(noop, df.select(*self.columns))}
        if self.schema is None:
            return out
        t0 = time.perf_counter()
        schema = self.schema()
        out["build"] = time.perf_counter() - t0
        t0 = time.perf_counter()
        res = joi.validate(df, schema, prefs=PREFS)
        out["compile"] = time.perf_counter() - t0
        out["checks"] = len(res.plan.checks)
        viol = res.violations(extra_cols=[PARTITION])
        verd = res.verdicts([PARTITION])
        t0 = time.perf_counter()
        force_plan(viol)
        force_plan(verd)
        out["plan"] = time.perf_counter() - t0
        group("predicate")
        out["predicate"] = timed(noop, res.checked.filter(~F.col("_ok")))
        group("render")
        out["render"] = timed(noop, res.violations(extra_cols=[PARTITION],
                                                  sort=False))
        group("sort_write")
        out["sort_write"] = timed(
            lambda: viol.write.partitionBy(PARTITION)
            .parquet(os.path.join(root, "sorted")))
        group("verdict")
        out["verdict"] = timed(verd.collect)
        return out


_T_COLS = ("conv_id", "turn_idx", "role", "text", "tool", PARTITION)
_T_UDF = ("user_email", "text", 8192)

WORKLOADS = {w.name: w for w in (
    Workload("transcripts_clean", 250_000,
             lambda seed, n: gen.transcripts(seed, n, defect_frac=0.0),
             transcript_schema, _T_COLS, _T_UDF),
    Workload("transcripts_dirty", 250_000,
             lambda seed, n: gen.transcripts(seed, n, defect_frac=0.1),
             transcript_schema, _T_COLS, _T_UDF),
    Workload("wide_schema", 20_000,
             lambda seed, n: gen.wide(seed, n),
             wide_schema,
             ("conv_id", "turn_idx",
              *(f"s{i:02d}" for i in range(gen.WIDE_STRINGS)),
              *(f"n{i:02d}" for i in range(gen.WIDE_INTS)),
              *(f"f{i:02d}" for i in range(gen.WIDE_FLOATS)),
              "flag", "email", "name_nfc", PARTITION),
             ("email", "name_nfc", gen.NAME_MAX)),
    Workload("dataset_bundle", 250_000,
             lambda seed, n: gen.dataset(seed, n),
             None, ("conv_id", "turn_idx", "ts", "tool")),
)}
