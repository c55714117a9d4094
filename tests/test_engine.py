"""Engine end-to-end: violations, verdicts, converted output on the
seeded transcript fixture (FIXTURES.md §1)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

import joi_spark as joi


TRANSCRIPT_SCHEMA = joi.object({
    "conv_id": joi.string().required(),
    "turn_idx": joi.number().integer().min(0).required(),
    "role": joi.string().valid("system", "user", "assistant", "tool").required(),
    "text": joi.string().max(8192),
    "ts": joi.date().required(),
})


def _viols(res):
    return {(r["conv_id"], r["turn_idx"], r["code"]): r["message"]
            for r in res.violations().collect()}


def test_seeded_defects_found(transcripts):
    res = joi.validate(transcripts, TRANSCRIPT_SCHEMA)
    v = _viols(res)
    assert v[("c000001", 1, "any.only")] == \
        '"role" must be one of [system, user, assistant, tool]'
    assert v[("c000002", 1, "any.required")] == '"role" is required'
    assert v[("c000003", 1, "string.empty")] == \
        '"text" is not allowed to be empty'
    assert v[("c000005", 1, "string.max")] == \
        '"text" length must be less than or equal to 8192 characters long'
    # clean rows produce no violations
    assert len(v) == 4


def test_violations_ordered(transcripts):
    res = joi.validate(transcripts, TRANSCRIPT_SCHEMA)
    rows = [(r["conv_id"], r["turn_idx"]) for r in res.violations().collect()]
    assert rows == sorted(rows)


def test_verdicts(transcripts):
    res = joi.validate(transcripts, TRANSCRIPT_SCHEMA)
    verd = {r["epoch"]: r for r in res.verdicts(["epoch"]).collect()}
    assert set(verd) == {0, 1}
    assert not verd[0]["pass"] and not verd[1]["pass"]
    total = sum(r["n_violations"] for r in verd.values())
    assert total == 4
    # lineage hash present and identical across partitions
    hashes = {r["constraint_hash"] for r in verd.values()}
    assert len(hashes) == 1


@pytest.mark.parametrize("n_checks,abort_early", [
    pytest.param(21, False, id="21"),
    pytest.param(140, False, id="140"),
    pytest.param(21, True, id="21-abort_early"),
    pytest.param(140, True, id="140-abort_early")])
def test_verdicts_agree_with_violations(spark, n_checks, abort_early):
    """Per-partition verdict counts equal the error and warn rows of
    violations(), for narrow and wide plans alike; under abort_early
    both count at most one error per row."""
    n_cols = n_checks // 7
    good = F.col("id") % 3 == 2       # partition 2 is clean
    df = spark.range(0, 300).select(
        F.col("id"), (F.col("id") % 3).alias("p"),
        *[F.when(good, F.lit(1.0))
           .otherwise((F.col("id") % (i + 5)) / 2).alias(f"c{i}")
          for i in range(n_cols)])
    # 7 checks per column: base, 2x infinity, unsafe, min, max (warn),
    # integer
    schema = joi.object({
        f"c{i}": joi.number().min(1).max(1).warn().integer()
        for i in range(n_cols)})
    res = joi.validate(df, schema, order_by=["id"],
                       prefs={"abort_early": abort_early})
    assert len(res.plan.checks) == n_checks
    counts = {(r["p"], r["severity"]): r["count"] for r in
              res.violations(extra_cols=["p"], sort=False)
                 .groupBy("p", "severity").count().collect()}
    verd = res.verdicts(["p"]).collect()
    assert [r["p"] for r in verd] == [0, 1, 2]
    for r in verd:
        errs = counts.get((r["p"], "error"), 0)
        assert r["n_rows"] == 100
        assert r["n_violations"] == errs
        assert r["n_warnings"] == counts.get((r["p"], "warn"), 0)
        assert r["pass"] == (errs == 0)
    assert [r["pass"] for r in verd] == [False, False, True]
    assert all(r["n_warnings"] > 0 for r in verd[:2])


def test_pass_on_clean(spark):
    from joi_spark.sources.transcripts import clean_transcripts
    df = clean_transcripts(spark, n_convs=5, turns_per_conv=6)
    res = joi.validate(df, TRANSCRIPT_SCHEMA)
    assert res.is_valid()
    verd = res.verdicts(["epoch"]).collect()
    assert all(r["pass"] for r in verd)


def test_abort_early_reports_first_rule_only(spark):
    df = spark.createDataFrame([("c1", 0, "zz")], "conv_id string, turn_idx int, s string")
    schema = joi.object({"s": joi.string().min(5).max(1).pattern("^a")})
    res = joi.validate(df, schema)   # abort_early default True
    rows = res.violations().collect()
    assert len(rows) == 1
    assert rows[0]["code"] == "string.min"   # first failing rule in chain order

    res2 = joi.validate(df, schema, prefs={"abort_early": False})
    codes = [r["code"] for r in res2.violations().collect()]
    assert codes == ["string.min", "string.max", "string.pattern.base"]


def test_warn_channel(spark):
    df = spark.createDataFrame([("c1", 0, "ab")], "conv_id string, turn_idx int, s string")
    schema = joi.object({"s": joi.string().min(3).rule(warn=True)})
    res = joi.validate(df, schema)
    rows = res.violations().collect()
    assert len(rows) == 1 and rows[0]["severity"] == "warn"
    # warnings do not fail the table
    assert res.is_valid()
    verd = res.verdicts(["conv_id"]).collect()[0]
    assert verd["pass"] and verd["n_warnings"] == 1


def test_default_and_converted_output(spark):
    df = spark.createDataFrame([("c1", 0, None), ("c2", 0, "x")],
                               "conv_id string, turn_idx int, s string")
    schema = joi.object({"s": joi.string().default("filled")})
    res = joi.validate(df, schema)
    vals = {r["conv_id"]: r["s"] for r in res.value.collect()}
    assert vals == {"c1": "filled", "c2": "x"}


def test_trim_converts(spark):
    df = spark.createDataFrame([("c1", 0, "  x  ")], "conv_id string, turn_idx int, s string")
    schema = joi.object({"s": joi.string().trim()})
    res = joi.validate(df, schema)
    assert res.value.collect()[0]["s"] == "x"
    assert res.is_valid()   # convert mode: trim coerces, check vacuous
    # strict mode: violation instead
    res2 = joi.validate(df, schema, prefs={"convert": False})
    rows = res2.violations().collect()
    assert rows[0]["code"] == "string.trim"
    assert rows[0]["message"] == '"s" must not have leading or trailing whitespace'


def test_number_coercion_from_string(spark):
    df = spark.createDataFrame([("c1", 0, "42"), ("c2", 0, "nope")],
                               "conv_id string, turn_idx int, n string")
    schema = joi.object({"n": joi.number().min(10)})
    res = joi.validate(df, schema)
    v = {r["conv_id"]: r["code"] for r in res.violations().collect()}
    assert v == {"c2": "number.base"}
    vals = {r["conv_id"]: r["n"] for r in res.value.collect()}
    assert vals["c1"] == 42.0


def test_forbidden(spark):
    df = spark.createDataFrame([("c1", 0, "x")], "conv_id string, turn_idx int, s string")
    schema = joi.object({"s": joi.any_().forbidden()})
    res = joi.validate(df, schema)
    rows = res.violations().collect()
    assert rows[0]["code"] == "any.unknown"
    assert rows[0]["message"] == '"s" is not allowed'


def test_invalid_values(spark):
    df = spark.createDataFrame([("c1", 0, "bad")], "conv_id string, turn_idx int, s string")
    schema = joi.object({"s": joi.string().invalid("bad")})
    res = joi.validate(df, schema)
    rows = res.violations().collect()
    assert rows[0]["code"] == "any.invalid"
    assert rows[0]["message"] == '"s" contains an invalid value'


def test_ref_cross_column(spark):
    df = spark.createDataFrame(
        [("c1", 0, "pw1", "pw1"), ("c2", 0, "pw1", "pw2")],
        "conv_id string, turn_idx int, pw string, pw_confirm string")
    schema = joi.object({
        "pw": joi.string().required(),
        "pw_confirm": joi.any_().valid(joi.ref("pw")),
    })
    res = joi.validate(df, schema)
    v = {r["conv_id"]: r for r in res.violations().collect()}
    assert set(v) == {"c2"}
    assert v["c2"]["code"] == "any.only"
    assert v["c2"]["message"] == '"pw_confirm" must be one of [ref:pw]'


def test_dependencies_without(spark):
    df = spark.createDataFrame(
        [("c1", 0, "user", "tool_1"), ("c2", 0, "user", None)],
        "conv_id string, turn_idx int, role string, tool string")
    schema = joi.object({
        "role": joi.string(), "tool": joi.string(),
    }).without("tool", ["missing_col_ok"])  # vacuous peer
    res = joi.validate(df, schema)
    # xor: exactly one of role/tool
    schema2 = joi.object({"role": joi.string(), "tool": joi.string()}).xor("role", "tool")
    res2 = joi.validate(df, schema2)
    v = {r["conv_id"]: r["code"] for r in res2.violations().collect()}
    assert v == {"c1": "object.xor"}


def test_when_conditional(spark):
    # "if role='tool' then tool required" (FIXTURES.md cross-field defect)
    df = spark.createDataFrame(
        [("c1", 0, "tool", None), ("c2", 0, "tool", "tool_1"), ("c3", 0, "user", None)],
        "conv_id string, turn_idx int, role string, tool string")
    schema = joi.object({
        "role": joi.string(),
        "tool": joi.any_().when("role", is_="tool",
                                then=joi.any_().required()),
    })
    res = joi.validate(df, schema)
    v = {r["conv_id"]: r["code"] for r in res.violations().collect()}
    assert v == {"c1": "any.required"}


def test_label_override(spark):
    df = spark.createDataFrame([("c1", 0, None)], "conv_id string, turn_idx int, s string")
    schema = joi.object({"s": joi.string().required().label("The Field")})
    res = joi.validate(df, schema)
    assert res.violations().collect()[0]["message"] == '"The Field" is required'


def test_messages_override(spark):
    df = spark.createDataFrame([("c1", 0, None)], "conv_id string, turn_idx int, s string")
    schema = joi.object({"s": joi.string().required().messages(
        {"any.required": "custom: {{#label}} missing"})})
    res = joi.validate(df, schema)
    assert res.violations().collect()[0]["message"] == "custom: s missing"


def test_assert_table_raises(spark):
    from joi_spark.engine import TableValidationError
    df = spark.createDataFrame([("c1", 0, None)], "conv_id string, turn_idx int, s string")
    schema = joi.object({"s": joi.string().required()})
    with pytest.raises(TableValidationError):
        joi.assert_table(df, schema)


def test_unknown_columns_table_error(spark):
    df = spark.createDataFrame([("c1", 1)], "a string, b int")
    schema = joi.object({"a": joi.string()}).unknown(False)
    res = joi.validate(df, schema)
    assert res.table_errors == ['"b" is not allowed']
    assert not res.is_valid()


def test_distinct_validate_matches_direct(spark):
    import joi_spark as joi
    from joi_spark.engine import distinct_validate
    from pyspark.sql import functions as F
    df = spark.createDataFrame(
        [(i, ["ok", "bad", ""][i % 3]) for i in range(300)],
        "id bigint, t string")
    schema = joi.object({"t": joi.string().min(2)})
    ann, dviol = distinct_validate(df, schema, ["t"])
    direct = joi.validate(df, schema, order_by=["id"])
    a = sorted(r["id"] for r in ann.filter(~F.col("_ok")).collect())
    b = sorted(r["id"] for r in direct.checked.filter(~F.col("_ok")).collect())
    assert a == b and len(a) == 100
    assert dviol.count() == 1  # one distinct failing value ('')


def test_strip_unknown_prefs(spark):
    import joi_spark as joi
    df = spark.createDataFrame([(1, "x", "junk")],
                               "id bigint, keep string, extra string")
    schema = joi.object({"id": joi.number(), "keep": joi.string()}) \
        .unknown(False)
    res = joi.validate(df, schema, prefs={"strip_unknown": True})
    assert res.table_errors == []
    assert sorted(res.value.columns) == ["id", "keep"]
    # without strip: unknown column is a table-level error
    res2 = joi.validate(df, schema)
    assert res2.table_errors == ['"extra" is not allowed']


def test_empty_dataframe(spark):
    import joi_spark as joi
    df = spark.createDataFrame([], "id bigint, v string")
    schema = joi.object({"v": joi.string().min(2).required()})
    res = joi.validate(df, schema, order_by=["id"])
    assert res.violations().count() == 0
    assert res.is_valid()
    assert res.verdicts(["id"]).count() == 0


def test_schema_with_no_checks(spark):
    import joi_spark as joi
    df = spark.createDataFrame([(1, "x")], "id bigint, v string")
    res = joi.validate(df, joi.object({}), order_by=["id"])
    assert res.violations().count() == 0
    assert res.is_valid()


def test_user_column_named_c0_not_clobbered(spark):
    """Spark's default headerless-CSV columns are _c0, _c1, ... — the
    engine's materialized check booleans must not collide with a user
    column of that name (ADVICE round 1, item 3): the value-splicing
    message must read the real column, not the boolean."""
    import joi_spark as joi
    df = spark.createDataFrame([(1, "bad")], "id bigint, _c0 string")
    schema = joi.object({"_c0": joi.string().pattern("^g")})
    res = joi.validate(df, schema, order_by=["id"],
                      prefs={"abort_early": False})
    rows = res.violations().collect()
    assert [(r["path"], r["code"]) for r in rows] == \
        [("_c0", "string.pattern.base")]
    assert rows[0]["message"] == \
        '"_c0" with value "bad" fails to match the required pattern: /^g/'


def test_annotate_positional_markers(spark):
    """Table analogue of the reference's error.annotate()
    (lib/errors.js:227-300): JSON-ish row dump, [n] markers on
    offending columns, -- missing -- for required-null cells, numbered
    messages beneath."""
    import joi_spark as joi
    df = spark.createDataFrame(
        [(1, "robot", None), (2, "user", "ok")],
        "id bigint, role string, text string")
    s = joi.object({
        "role": joi.string().valid("user", "assistant"),
        "text": joi.string().required(),
    })
    res = joi.validate(df, s, order_by=["id"],
                       prefs={"abort_early": False})
    out = res.annotate(rows=1)
    assert '"role" [1]:' in out and '"robot"' in out
    assert '"text" [2]: -- missing --' in out
    assert '[1] "role" must be one of [user, assistant]' in out
    assert '[2] "text" is required' in out
    assert '"id": 1' in out
    assert out.count("{") == 1
    colored = res.annotate(rows=1, strip_color_codes=False)
    assert chr(27) + "[31m" in colored and chr(27) + "[41m" in colored
    ok = joi.validate(df.filter("id = 2"), s, order_by=["id"])
    assert ok.annotate() == "no violations"


def test_annotate_without_order_by_is_bounded(spark):
    """No order_by -> annotate still renders markers + messages and
    never collects the full table; without a fetched original row it
    must NOT claim '-- missing --' (it cannot prove the cell was
    null — a valid()-failure on a present value would be slandered)."""
    import joi_spark as joi
    df = spark.createDataFrame([(i, None) for i in range(1000)],
                               "id bigint, v string")
    s = joi.object({"v": joi.string().required()})
    res = joi.validate(df, s, prefs={"abort_early": False})
    out = res.annotate(rows=1)
    assert '"v" [1,' in out and '"v" is required' in out
    assert '-- missing --' not in out


def test_annotate_multi_row_budget_not_starved(spark):
    """rows > 1: one pathological row holding many violations must not
    exhaust the shared max_violations budget — the per-key row_number
    cap (round-4 advice) guarantees later keys still render."""
    import joi_spark as joi
    # row 1 fails twice (role + text), row 2 once (text)
    df = spark.createDataFrame(
        [(1, "bad", None), (2, "user", None)],
        "id bigint, role string, text string")
    s = joi.object({
        "role": joi.string().valid("user", "assistant"),
        "text": joi.string().required(),
    })
    res = joi.validate(df, s, order_by=["id"],
                       prefs={"abort_early": False})
    # budget of 2 across 2 rows → 1 violation per key; without the
    # per-key cap both slots would go to row 1
    out = res.annotate(rows=2, max_violations=2)
    assert out.count("{") == 2
    assert '"id": 1' in out and '"id": 2' in out


def test_annotate_nested_struct_and_array_markers(spark):
    """Nested-path and array-column annotation (round-4 verdict item
    8, vs lib/errors.js:227-300): nested failures mark the TOP-level
    column with every contributing position, the struct renders as a
    JSON object (not a positional list), the full dotted path stays
    in the message lines, and an all-null struct with a required
    nested field renders -- missing --."""
    import joi_spark as joi
    df = spark.createDataFrame(
        [(1, ("x", None), ["ok", "", "fine"]),
         (2, None, ["a"])],
        "id bigint, meta struct<role:string, note:string>, "
        "tags array<string>")
    s = joi.object({
        "meta": joi.object({"role": joi.string().valid("user"),
                            "note": joi.string().required()})
                   .required(),
        "tags": joi.array().items(joi.string().min(1)),
    })
    res = joi.validate(df, s, order_by=["id"],
                       prefs={"abort_early": False})
    out = res.annotate(rows=1)
    # struct rendered as a JSON object; both nested failures mark meta
    assert '"meta" [1, 2]: {"role": "x", "note": null}' in out
    assert '"tags" [3]: ["ok", "", "fine"]' in out
    assert '[1] "meta.role" must be one of [user]' in out
    assert '[2] "meta.note" is required' in out
    assert '[3] "tags" does not match any of the allowed types' in out
    # row 2: the whole struct is null -> -- missing -- on the column
    out2 = res.annotate(rows=2)
    assert '"meta" [1]: -- missing --' in out2
