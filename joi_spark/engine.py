"""Execution runner: apply a CompiledPlan to a DataFrame.

Four declarative stages (SURVEY.md §7): (1) rename + conversion
projection, (2) one ``select`` computing every check predicate, (3)
violation extraction — an array-of-structs built per row, filtered with
higher-order functions, exploded; message columns are only evaluated for
failing rows because they sit inside ``F.when(~pred, ...)`` — and (4)
outputs: converted table, violations DataFrame (stable ``order_by``
ordering), per-partition verdicts.

One code path serves every schema width: balanced folds keep the
expression trees O(log n) deep, and on Spark 4.1 hundreds of checks
plan and run on the same path as five (BENCH.md §"Wide-schema
robustness").

Everything is a narrow projection until the caller aggregates
(verdicts) or sorts (violations) — embarrassingly parallel at 10^12
rows; no shuffle is introduced by validation itself.
"""

from __future__ import annotations

import operator
from typing import Callable, Sequence

from pyspark.sql import Column, DataFrame, GroupedData
from pyspark.sql import functions as F

from joi_spark.compiler import (CompiledPlan, compile_table, DEFAULT_PREFS,
                                _balanced)
from joi_spark.dsl.base import Schema
from joi_spark.dsl.manifest import manifest_hash

VIOLATION_COLS = ("seq", "code", "path", "message", "severity")


class ValidationResult:
    """Spark-side analogue of the reference's ``{ value, error, warning }``
    (reference: lib/base.js:573-576) — lazily-evaluated DataFrames."""

    def __init__(self, df: DataFrame, plan: CompiledPlan, schema: Schema,
                 order_by: Sequence[str], abort_early: bool):
        self._df = df
        self.plan = plan
        self.schema = schema
        self.order_by = list(order_by)
        self.abort_early = abort_early
        self.table_errors = list(plan.table_errors)
        self._checked: DataFrame | None = None

    # -- stage 2: renamed frame + cheap pass/fail booleans ------------
    # Violation structs (messages!) are only materialized for FAILING
    # rows — the filter runs on the plain boolean conjunction first,
    # mirroring the reference's lazy message rendering
    # (reference: lib/errors.js:60-78).  On a clean table the whole
    # validation is one codegen'd conjunction, ~5× cheaper than
    # building per-row arrays.
    @property
    def _renamed(self) -> DataFrame:
        df = self._df
        if self.plan.pre_drops:             # rename(override=True): replaced
            df = df.drop(*self.plan.pre_drops)
        for frm, to in self.plan.aliases:   # rename(alias=True): keep source
            df = df.withColumn(to, F.col(frm))
        for frm, to in self.plan.renames:
            df = df.withColumnRenamed(frm, to)
        return df

    def _ok_expr(self, severity: str = "error") -> Column:
        return _balanced([c.predicate for c in self.plan.checks
                          if c.severity == severity],
                         operator.and_, F.lit(True))

    def _violation_array(self) -> Column:
        """Per-row array of failed-check structs, built from the
        ``__joi_c{i}`` booleans that :meth:`violations` materializes (so
        expensive predicates — regexes, from_json, external UDFs —
        evaluate once)."""
        entries = [F.when(~F.col(f"__joi_c{i}"),
                          F.struct(F.lit(c.seq).alias("seq"),
                                   F.lit(c.code).alias("code"),
                                   F.lit(c.path).alias("path"),
                                   c.message.cast("string").alias("message"),
                                   F.lit(c.severity).alias("severity")))
                   for i, c in enumerate(self.plan.checks)]
        if entries:
            arr = F.filter(F.array(*entries), lambda x: x.isNotNull())
        else:
            arr = F.array().cast(
                "array<struct<seq:int,code:string,path:string,"
                "message:string,severity:string>>")
        errors = F.filter(arr, lambda x: x["severity"] == F.lit("error"))
        warnings = F.filter(arr, lambda x: x["severity"] == F.lit("warn"))
        if self.abort_early:
            # report first failing rule per row, matching the
            # reference's per-value abortEarly order
            # (reference: lib/validator.js:308-311; SURVEY.md §4)
            errors = F.slice(errors, 1, 1)
        return F.concat(errors, warnings)

    @property
    def checked(self) -> DataFrame:
        """Input + ``_ok`` boolean (errors only; warnings don't fail)."""
        if self._checked is None:
            self._checked = self._renamed.withColumn("_ok", self._ok_expr())
        return self._checked

    # -- outputs ---------------------------------------------------------
    def violations(self, include_warnings: bool = True,
                   extra_cols: Sequence[str] = (),
                   sort: bool = True) -> DataFrame:
        """One row per (row, failed rule), ordered by ``order_by`` then
        rule sequence — the stable reporting contract.  ``extra_cols``
        prepends passthrough columns (e.g. the partition column);
        ``sort=False`` skips the global ordering (required for
        streaming sinks, where sorting is unsupported)."""
        # materialize each check's boolean ONCE; the fail-filter and the
        # violation array both reference the materialized columns, so
        # expensive predicates (regex, from_json, external UDFs) are not
        # re-evaluated per consumer.  This holds at any width: on
        # Spark 4.1 substituting the aliases into the collapsed
        # projections stays within driver memory at 840 checks under
        # get_spark defaults, and the balanced fail filter keeps the
        # tree O(log n) deep.
        # collision-proof names: Spark's own default headerless-CSV
        # columns are _c0, _c1, ... — withColumns would silently
        # REPLACE a user column of that name, corrupting message
        # rendering and order_by
        checks = self.plan.checks
        base = self._renamed.withColumns(
            {f"__joi_c{i}": F.coalesce(c.predicate, F.lit(False))
             for i, c in enumerate(checks)})
        fail = _balanced([~F.col(f"__joi_c{i}")
                          for i, c in enumerate(checks)
                          if c.severity == "error" or include_warnings],
                         operator.or_, F.lit(False))
        v = (base
             .filter(fail)
             .withColumn("_violations", self._violation_array())
             .withColumn("_v", F.explode("_violations")))
        if not include_warnings:
            v = v.filter(F.col("_v.severity") == "error")
        out = v.select(*extra_cols, *self.order_by,
                       F.col("_v.seq").alias("seq"),
                       F.col("_v.code").alias("code"),
                       F.col("_v.path").alias("path"),
                       F.col("_v.message").alias("message"),
                       F.col("_v.severity").alias("severity"))
        if sort and self.order_by:
            out = out.orderBy(*self.order_by, "seq")
        return out

    def annotate(self, rows: int = 1, *,
                 strip_color_codes: bool = True,
                 max_violations: int = 200) -> str:
        """Positional annotation of failing rows — the table analogue
        of the reference's ``error.annotate()``
        (lib/errors.js:227-300): each of the first ``rows`` failing
        rows (by ``order_by``) renders as a JSON-ish dump with
        ``[n]`` markers on the offending columns, ``-- missing --``
        for required-but-null cells (red bg/fg escapes unless
        ``strip_color_codes``), followed by the numbered messages.

        Nested paths (``a.b``) mark their TOP-level column — a table
        row is one JSON object deep from the engine's point of view;
        the full path stays visible in the message line.  Driver cost
        is ``rows`` collected rows + ``max_violations`` violation
        records, independent of table size.

        The ``max_violations`` budget is shared across the ``rows``
        blocks; with ``rows > 1`` and ``order_by`` set, violations are
        CAPPED PER ROW KEY at ``max_violations // rows`` (row_number
        over the key) before the global limit, so one pathological row
        cannot exhaust the budget and starve later keys.  With
        ``order_by`` unset there is no row identity — every violation
        shares one group and exactly one block renders regardless of
        ``rows``."""
        import json

        red = "" if strip_color_codes else "\u001b[31m"
        bg = "" if strip_color_codes else "\u001b[41m"
        end = "" if strip_color_codes else "\u001b[0m"

        vdf = self.violations()
        if self.order_by and rows > 1:
            # bound the per-key draw so key 1 cannot starve keys
            # 2..rows; re-sort afterwards — the window shuffle does
            # not preserve the (order_by, seq) presentation order
            from pyspark.sql import Window
            per_key = max(1, max_violations // rows)
            w = Window.partitionBy(*self.order_by).orderBy("seq")
            vdf = (vdf.withColumn("_rn", F.row_number().over(w))
                      .filter(F.col("_rn") <= per_key).drop("_rn")
                      .orderBy(*self.order_by, "seq"))
        viols = vdf.limit(max_violations).collect()
        keyed: dict = {}
        for v in viols:
            k = tuple(v[c] for c in self.order_by)
            keyed.setdefault(k, []).append(v)
        keys = list(keyed)[:rows]
        if not keys:
            return "no violations"
        originals = {}
        if self.order_by:
            # one bounded limit-1 fetch PER key (keys <= rows, small):
            # a single filtered collect could return only the first
            # key's rows when order_by is a partial key, starving the
            # rest; per-key limit(1) is deterministic and bounded
            for k in keys:
                eq = _balanced([F.col(c) == F.lit(val)
                                for c, val in zip(self.order_by, k)],
                               operator.and_, F.lit(True))
                got = self._renamed.filter(eq).limit(1).collect()
                if got:
                    originals[k] = got[0]
        # else: no row key — every violation shares the () group and a
        # keyed fetch would collect the WHOLE table; render markers
        # without original row values instead

        def cell(v):
            # nested struct cells arrive as Row (a tuple subclass) —
            # render as the JSON OBJECT the reference's annotate shows
            # for nested values (lib/errors.js:239 JSON.stringify of
            # the object graph), not a bare positional list
            from pyspark.sql import Row as _Row
            if isinstance(v, _Row):
                v = v.asDict(recursive=True)
            elif isinstance(v, list):
                v = [x.asDict(recursive=True) if isinstance(x, _Row)
                     else x for x in v]
            try:
                return json.dumps(v, default=str)
            except TypeError:
                return json.dumps(str(v))

        blocks = []
        for k in keys:
            details = keyed[k]
            row = originals.get(k)
            rowd = row.asDict() if row is not None else {}
            marks: dict = {}          # column -> [positions]
            missing: dict = {}        # column -> [positions]
            for pos, d in enumerate(details, 1):
                col = d["path"].split(".")[0]
                # only a FETCHED row can prove a cell is null — with
                # no original available, a valid()-failure on a
                # present value must not render as '-- missing --'
                if row is not None and rowd.get(col) is None:
                    missing.setdefault(col, []).append(pos)
                else:
                    marks.setdefault(col, []).append(pos)
            lines = ["{"]
            cols = list(rowd) if rowd else \
                sorted(set(marks) | set(missing))
            for i, c in enumerate(cols):
                comma = "," if i + 1 < len(cols) else ""
                if c in missing:
                    mpos = ", ".join(str(p) for p in missing[c])
                    lines.append(
                        f'  {bg}"{c}"{end}{red} [{mpos}]: '
                        f'-- missing --{end}{comma}')
                elif c in marks:
                    pos_s = ", ".join(str(p) for p in marks[c])
                    lines.append(
                        f'  "{c}" {red}[{pos_s}]{end}: '
                        f'{cell(rowd.get(c))}{comma}')
                else:
                    lines.append(f'  "{c}": {cell(rowd.get(c))}{comma}')
            lines.append("}")
            lines.append(red.rstrip())
            for pos, d in enumerate(details, 1):
                lines.append(f"[{pos}] {d['message']}")
            blocks.append("\n".join(lines) + end)
        return "\n\n".join(blocks)

    @property
    def value(self) -> DataFrame:
        """The converted table — analogue of ``result.value``."""
        df = self.checked
        keep = [c for c in df.columns if c not in ("_violations", "_ok")]
        cols: list[Column] = []
        for c in keep:
            if c in self.plan.drops:
                continue
            if c in self.plan.outputs:
                cols.append(self.plan.outputs[c].alias(c))
            else:
                cols.append(F.col(c))
        return df.select(*cols)

    converted = value

    def _verdict_agg(self, group: Callable[[DataFrame], GroupedData]
                     ) -> DataFrame:
        """Verdict aggregates ``(n_rows, n_violations, n_warnings, pass,
        constraint_hash)`` per group; ``group`` turns the row frame into
        grouped data (partition columns in batch, an event-time window
        in streaming).

        Violation counts come from summing per-check failure ints — a
        plain partial-aggregating projection, no struct arrays; the
        whole verdict is one codegen'd scan + tiny shuffle.  With
        hundreds of checks the unrolled sum outgrows Janino's 64 KB
        method limit; Spark then runs that stage without whole-stage
        codegen, with the same results and still faster than counting
        from a per-row array."""
        def fail_count(errors: bool) -> Column:
            return _balanced([(~c.predicate).cast("long")
                              for c in self.plan.checks
                              if (c.severity == "error") == errors],
                             operator.add, F.lit(0))

        errors = fail_count(True)
        if self.abort_early:
            # violations() keeps only the first error per row
            errors = F.least(errors, F.lit(1))
        counted = (self._renamed
                   .withColumn("_ec", errors)
                   .withColumn("_wc", fail_count(False)))
        return (group(counted)
                .agg(F.count(F.lit(1)).alias("n_rows"),
                     F.sum("_ec").alias("n_violations"),
                     F.sum("_wc").alias("n_warnings"),
                     F.min((F.col("_ec") == 0).cast("int")).cast("boolean")
                      .alias("pass"))
                .withColumn("constraint_hash",
                            F.lit(manifest_hash(self.schema))))

    def verdicts(self, partition_by: Sequence[str]) -> DataFrame:
        """Per-partition pass/fail manifest rows (north_rule output (a))."""
        out = self._verdict_agg(lambda df: df.groupBy(*partition_by))
        # order by the aggregated output's key columns, not the input
        # expressions (which no longer resolve after the agg when the
        # caller grouped on a derived Column)
        return out.orderBy(*out.columns[:len(list(partition_by))])

    def is_valid(self) -> bool:
        """Whole-table verdict (drives ``assert_table``)."""
        if self.table_errors:
            return False
        return self.checked.filter(~F.col("_ok")).limit(1).count() == 0


def validate(df: DataFrame, schema: Schema, *, prefs: dict | None = None,
             context: dict | None = None,
             order_by: Sequence[str] | None = None) -> ValidationResult:
    """Validate a table against an object schema (keys = columns).

    Spark-side analogue of ``schema.validate(value, prefs)``
    (reference: lib/base.js:573-576 → lib/validator.js:14-35).
    """
    merged = {**DEFAULT_PREFS, **(prefs or {})}
    if context:
        merged["context"] = {**merged.get("context", {}), **context}
    plan = compile_table(schema, df, prefs=merged, context=merged["context"])
    if order_by is None:
        order_by = [c for c in ("conv_id", "turn_idx") if c in df.columns]
    return ValidationResult(df, plan, schema, order_by,
                            abort_early=merged["abort_early"])


class TableValidationError(AssertionError):
    def __init__(self, message: str, sample: list | None = None):
        super().__init__(message)
        self.sample = sample or []


def assert_table(df: DataFrame, schema: Schema, *, sample_size: int = 5,
                 **kw) -> DataFrame:
    """Validate and raise with a violation sample on failure — analogue of
    ``Joi.assert/attempt`` (reference: lib/index.js:83-106)."""
    result = validate(df, schema, **kw)
    if result.table_errors:
        raise TableValidationError("; ".join(result.table_errors))
    sample = result.violations().limit(sample_size).collect()
    if sample:
        lines = "\n".join(f"  {r['path']}: {r['message']}" for r in sample)
        raise TableValidationError(
            f"table failed validation (first {len(sample)} violations):\n{lines}",
            sample)
    return result.value


def distinct_validate(df: DataFrame, schema: Schema, cols: Sequence[str],
                      **kw) -> tuple[DataFrame, DataFrame]:
    """Dedup-before-validate — the reference's LRU validate cache
    (reference: lib/cache.js:8-79, gated lib/validator.js:124-131)
    realized for tables: validate only the DISTINCT combinations of
    ``cols``, then broadcast-join outcomes back onto the full table.

    Returns ``(annotated, distinct_violations)`` where ``annotated`` is
    the input plus ``_ok``, and ``distinct_violations`` is one row per
    distinct failing combination (join it back on ``cols`` for per-row
    reporting).

    When to use: rules whose evaluation is EXPENSIVE (pandas-UDF
    normalize/external hooks) over low-cardinality columns — the UDF
    then runs once per distinct value instead of once per row.  For
    plain codegen predicates the join costs more than it saves.
    """
    cols = list(cols)
    distinct = df.select(*cols).dropDuplicates()
    res = validate(distinct, schema, order_by=cols, **kw)
    outcomes = res.checked.select(*cols, F.col("_ok"))
    annotated = df.join(F.broadcast(outcomes), on=cols, how="left")
    return annotated, res.violations()
