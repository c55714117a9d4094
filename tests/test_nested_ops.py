"""Struct-column keys, array ordered(), regex rename."""

from __future__ import annotations

import json
import re

import pytest

import joi_spark as joi
from joi_spark.compiler import CompileError, compile_table


def test_struct_column_keys(spark):
    df = spark.createDataFrame(
        [(1, ("alice", 30)), (2, ("", 16)), (3, ("bob", None))],
        "id bigint, user struct<name:string, age:int>")
    schema = joi.object({
        "user": joi.object({
            "name": joi.string().min(2),
            "age": joi.number().min(18).required(),
        }),
    })
    res = joi.validate(df, schema, order_by=["id"],
                       prefs={"abort_early": False})
    got = sorted((r["id"], r["path"], r["code"])
                 for r in res.violations().collect())
    assert got == [
        (2, "user.age", "number.min"),
        (2, "user.name", "string.empty"),
        (3, "user.age", "any.required"),
    ]


def test_null_parent_skips_children(spark):
    """A required child inside an ABSENT (null) parent struct must not
    fire — the reference never recurses into a missing object
    (ADVICE round 1, item 1)."""
    df = spark.createDataFrame(
        [(1, ("alice", 30)), (2, None), (3, ("bob", None))],
        "id bigint, user struct<name:string, age:int>")
    schema = joi.object({
        "user": joi.object({
            "name": joi.string(),
            "age": joi.number().required(),
        }),
    })
    res = joi.validate(df, schema, order_by=["id"],
                       prefs={"abort_early": False})
    got = [(r["id"], r["path"], r["code"])
           for r in res.violations().collect()]
    assert got == [(3, "user.age", "any.required")]


def test_null_parent_skips_missing_field_check(spark):
    """Statically-missing required field: fails only where the parent
    struct is present."""
    df = spark.createDataFrame(
        [(1, ("x",)), (2, None)], "id bigint, user struct<name:string>")
    schema = joi.object({
        "user": joi.object({"email": joi.string().required()}),
    })
    res = joi.validate(df, schema, order_by=["id"])
    got = [(r["id"], r["path"], r["code"])
           for r in res.violations().collect()]
    assert got == [(1, "user.email", "any.required")]


def test_struct_missing_required_field(spark):
    df = spark.createDataFrame([(1, ("x",))],
                               "id bigint, user struct<name:string>")
    schema = joi.object({
        "user": joi.object({"email": joi.string().required()}),
    })
    res = joi.validate(df, schema, order_by=["id"])
    rows = res.violations().collect()
    assert [(r["path"], r["code"], r["message"]) for r in rows] == \
        [("user.email", "any.required", '"user.email" is required')]


def test_array_ordered(spark):
    df = spark.createDataFrame(
        [(1, ["sys", "42"]), (2, ["sys", "xx"]), (3, ["sys", "42", "extra"])],
        "id bigint, parts array<string>")
    schema = joi.object({
        "parts": joi.array().ordered(joi.string().min(2),
                                     joi.string().pattern("^[0-9]+$")),
    })
    res = joi.validate(df, schema, order_by=["id"],
                       prefs={"abort_early": False})
    got = sorted((r["id"], r["code"]) for r in res.violations().collect())
    assert got == [(2, "array.includes"), (3, "array.orderedLength")]
    msg = {r["id"]: r["message"] for r in res.violations().collect()}
    assert msg[3] == '"parts" must contain at most 2 items'


def test_regex_rename(spark):
    df = spark.createDataFrame([(1, "x")], "id bigint, raw_name string")
    schema = joi.object({"name": joi.string().min(2)}) \
        .rename(re.compile("^raw_"), "")
    res = joi.validate(df, schema, order_by=["id"],
                       prefs={"abort_early": False})
    rows = res.violations().collect()
    assert [(r["path"], r["code"]) for r in rows] == [("name", "string.min")]
    assert "name" in res.value.columns and "raw_name" not in res.value.columns


def test_object_json_coercion(spark):
    df = spark.createDataFrame(
        [(1, '{"k": 1}'), (2, '{"a":1,"b":2}'), (3, 'not json')],
        "id bigint, props string")
    schema = joi.object({"props": joi.object().min(2)})
    res = joi.validate(df, schema, order_by=["id"],
                       prefs={"abort_early": False})
    got = [(r["id"], r["code"], r["message"])
           for r in res.violations().collect()]
    assert got == [
        (1, "object.min", '"props" must have at least 2 keys'),
        (3, "object.base", '"props" must be of type object'),
    ]
    vals = {r["id"]: r["props"] for r in res.value.collect()}
    assert vals[2] == {"a": "1", "b": "2"} and vals[3] is None


def test_map_pattern_keys(spark):
    df = spark.createDataFrame(
        [(1, {"m_a": "5", "m_b": "7"}),
         (2, {"m_a": "xx"}),
         (3, {"other": "1"})],
        "id bigint, props map<string,string>")
    schema = joi.object({
        "props": joi.object().pattern("^m_", joi.number()).unknown(False),
    })
    res = joi.validate(df, schema, order_by=["id"],
                       prefs={"abort_early": False})
    got = sorted((r["id"], r["code"]) for r in res.violations().collect())
    assert got == [(2, "object.pattern.match"), (3, "object.unknown")]
    msg = {r["id"]: r["message"] for r in res.violations().collect()}
    assert msg[2] == '"props" keys failed to match pattern requirements'


@pytest.mark.parametrize("kind", ["json", "map"])
def test_map_object_keys(spark, kind):
    """A map value — a map<string,string> column, or a JSON string the
    object coerce parses to one — runs the struct's keys step: declared
    keys by their own schema, the first matching pattern only, unknown
    keys, dependencies and asserts over any key; undeclared keys report
    at the object."""
    def frame(rows):
        if kind == "map":
            return spark.createDataFrame(rows, "id bigint, props map<string,string>")
        return spark.createDataFrame([(i, json.dumps(m)) for i, m in rows],
                                     "id bigint, props string")

    def got(schema, rows):
        res = joi.validate(frame(rows), schema, order_by=["id"],
                           prefs={"abort_early": False})
        return [(r["id"], r["path"], r["code"])
                for r in res.violations().collect()]

    rows = [(1, {"a": "x"}), (2, {"a": "1", "zz": "q"}), (3, {"a": "7"}),
            (4, {"q": "1"})]
    declared = joi.object({"props": joi.object({
        "a": joi.number(), "b": joi.string().required()}).unknown(False)})
    assert got(declared, rows[:2]) == [
        (1, "props.a", "number.base"), (1, "props.b", "any.required"),
        (2, "props.b", "any.required"), (2, "props", "object.unknown")]
    xor = joi.object({"props": joi.object().xor("a", "zz")})
    assert got(xor, rows) == [(2, "props", "object.xor"),
                              (4, "props", "object.missing")]
    asserted = joi.object({"props": joi.object().assert_(
        "a", joi.number().min(5), "a is at least five")})
    assert got(asserted, rows) == [(1, "props", "object.assert"),
                                   (2, "props", "object.assert")]
    # ka is its own schema's alone, k1 the first pattern's alone
    patterns = joi.object({"props": joi.object({"ka": joi.string()})
                           .pattern("^k", joi.string().max(2))
                           .pattern("^k1", joi.number())})
    assert got(patterns, [(1, {"ka": "abc", "k1": "ab"}),
                          (2, {"k2": "abc"})]) == [
        (2, "props", "object.pattern.match")]
    # a map's value type is fixed: child outputs do not rewrite it
    defaulted = joi.object({"props": joi.object({
        "zz": joi.string().default("d"), "a": joi.string().strip()})})
    res = joi.validate(frame(rows), defaulted, order_by=["id"])
    assert [r["props"] for r in res.value.orderBy("id").collect()] == \
        [m for _, m in rows]


def test_nested_struct_unknown_policy(spark):
    """unknown(False) on a nested object flags non-null struct fields
    not declared in keys() (reference: lib/types/object.js:970-1077;
    null ≈ undefined, which Joi skips)."""
    df = spark.createDataFrame(
        [(1, ("a", "x")), (2, ("b", None)), (3, None)],
        "id bigint, user struct<name:string, extra:string>")
    schema = joi.object({
        "user": joi.object({"name": joi.string()}).unknown(False),
    })
    res = joi.validate(df, schema, order_by=["id"],
                       prefs={"abort_early": False})
    got = [(r["id"], r["path"], r["code"], r["message"])
           for r in res.violations().collect()]
    assert got == [(1, "user.extra", "object.unknown",
                    '"user.extra" is not allowed')]


def test_nested_struct_pattern_keys(spark):
    df = spark.createDataFrame(
        [(1, ("5", "x")), (2, ("abc", "x"))],
        "id bigint, m struct<m_a:string, other:string>")
    schema = joi.object({
        "m": joi.object({"other": joi.string()}).pattern("^m_", joi.number()),
    })
    res = joi.validate(df, schema, order_by=["id"],
                       prefs={"abort_early": False})
    got = [(r["id"], r["path"], r["code"])
           for r in res.violations().collect()]
    assert got == [(2, "m.m_a", "number.base")]


def test_nested_struct_key_count(spark):
    """Per-row min-keys over a struct counts non-null fields."""
    df = spark.createDataFrame(
        [(1, ("a", "b")), (2, ("a", None)), (3, None)],
        "id bigint, s struct<x:string, y:string>")
    schema = joi.object({
        "s": joi.object({"x": joi.string(), "y": joi.string()}).min(2),
    })
    res = joi.validate(df, schema, order_by=["id"],
                       prefs={"abort_early": False})
    got = [(r["id"], r["code"], r["message"])
           for r in res.violations().collect()]
    assert got == [(2, "object.min", '"s" must have at least 2 keys')]


def _meta_frame(spark):
    return spark.createDataFrame(
        [(1, "a", "x", ("p", "q")), (2, "b", "", ("p", None)),
         (3, "a", "y", None), (4, "b", "z", (None, None))],
        "id bigint, kind string, flat string, "
        "meta struct<a:string, b:string>")


def test_check_seq_is_plan_wide(spark):
    """``seq`` numbers every check of the plan in compile order, so a
    row's violations across columns list in key order."""
    df = spark.createDataFrame([("ab", 9.0, "z")],
                               "s string, n double, t string")
    plan = joi.validate(df, joi.object({
        "s": joi.string().min(3).required(),
        "n": joi.number().min(2).max(5),
        "t": joi.string().valid("x", "y"),
    })).plan
    seqs = [c.seq for c in plan.checks]
    assert seqs == sorted(set(seqs))
    res = joi.validate(_meta_frame(spark), joi.object({
        "flat": joi.string(),
        "meta": joi.object({"a": joi.string(), "b": joi.string().required()}),
    }), order_by=["id"], prefs={"abort_early": False})
    got = [(r["id"], r["path"], r["code"])
           for r in res.violations().collect()]
    assert got == [(2, "flat", "string.empty"), (2, "meta.b", "any.required"),
                   (4, "meta.b", "any.required")]


def test_struct_dependencies(spark):
    """Object dependencies on a struct column count present fields;
    a null parent skips them."""
    res = joi.validate(_meta_frame(spark), joi.object({
        "meta": joi.object({"a": joi.string(), "b": joi.string()})
                   .xor("a", "b"),
    }), order_by=["id"], prefs={"abort_early": False})
    got = [(r["id"], r["path"], r["code"], r["message"])
           for r in res.violations().collect()]
    assert got == [
        (1, "meta", "object.xor",
         '"meta" contains a conflict between exclusive peers "a", "b"'),
        (4, "meta", "object.missing",
         '"meta" must contain at least one of "a", "b"'),
    ]


@pytest.mark.parametrize("case", ["strip", "when", "presence", "error",
                                  "message"])
def test_struct_keys_parity(spark, case):
    """``object().keys({...})`` on a struct column runs the same
    per-value sequence as ``object()``: apart from the children's own
    checks, violations and the converted table are the same."""
    shape, prefs = {
        "strip": (lambda o: o.strip(), {}),
        "when": (lambda o: o.when("kind", is_="a", then=joi.forbidden()), {}),
        "presence": (lambda o: o, {"presence": "required"}),
        "error": (lambda o: o.required().error("BAD"), {}),
        "message": (lambda o: o.min(2).message("TWO"), {}),
    }[case]
    df = _meta_frame(spark)

    def run(meta):
        res = joi.validate(df, joi.object({"kind": joi.string(),
                                           "flat": joi.string(),
                                           "meta": shape(meta)}),
                           order_by=["id"],
                           prefs={"abort_early": False, **prefs})
        viols = [(r["id"], r["path"], r["code"], r["message"])
                 for r in res.violations().collect()
                 if not r["path"].startswith("meta.")]
        return viols, res.value.columns, res.value.orderBy("id").collect()

    bare = run(joi.object())
    assert bare[0], "the probe must fail some row"
    assert run(joi.object({"a": joi.string(), "b": joi.string()})) == bare


def test_absent_keys_run_the_sequence(spark):
    """A declared key with no column or struct field is a typed null
    run through the same sequence: ``when`` and ``error()`` apply."""
    res = joi.validate(_meta_frame(spark), joi.object({
        "kind": joi.string(),
        "meta": joi.object({
            "c": joi.string().when("...kind", is_="a", then=joi.required()),
        }),
        "gone": joi.number().required().error("BAD"),
    }), order_by=["id"], prefs={"abort_early": False})
    got = [(r["id"], r["path"], r["message"])
           for r in res.violations().collect()]
    assert got == [(1, "meta.c", '"meta.c" is required'), (1, "gone", "BAD"),
                   (2, "gone", "BAD"), (3, "gone", "BAD"), (4, "gone", "BAD")]


def test_absent_key_ref_to_undeclared_absent_column(spark):
    """A ref to a key that is neither declared nor a column resolves
    to null, so ``when`` on it takes ``otherwise`` for a missing key
    and for a present one alike."""
    present = joi.any_().required()
    res = joi.validate(_meta_frame(spark), joi.object({
        "gone": joi.string().when("nowhere", is_=present,
                                  then=joi.forbidden(),
                                  otherwise=joi.required()),
        "flat": joi.string().allow("").when("nowhere", is_=present,
                                            then=joi.required(),
                                            otherwise=joi.forbidden()),
    }).unknown(True), order_by=["id"], prefs={"abort_early": False})
    got = [(r["id"], r["path"], r["code"])
           for r in res.violations().collect()]
    assert got == [(i, p, c) for i in (1, 2, 3, 4)
                   for p, c in (("gone", "any.required"),
                                ("flat", "any.unknown"))]


# --- one keys step for the table and struct objects ---------------------

def _pairs(spark):
    return spark.createDataFrame(
        [(1, 9.0, (5.0, 4.0, 1.0)), (2, 0.0, (5.0, 6.0, 1.0))],
        "id bigint, b double, meta struct<a:double, b:double, c:double>")


def test_struct_child_ref_resolves_in_its_object(spark):
    """``ref('b')`` in a struct child names the struct's own ``b``;
    ``'...b'`` climbs to the table's ``b`` (reference: lib/ref.js)."""
    schema = joi.object({
        "id": joi.number(), "b": joi.number(),
        "meta": joi.object({"a": joi.number().min(joi.ref("b")),
                            "b": joi.number(),
                            "c": joi.number().max(joi.ref("...b"))}),
    })
    res = joi.validate(_pairs(spark), schema, order_by=["id"],
                       prefs={"abort_early": False})
    got = [(r["id"], r["path"], r["code"], r["message"])
           for r in res.violations().collect()]
    assert got == [
        (2, "meta.a", "number.min",
         '"meta.a" must be larger than or equal to ref:b'),
        (2, "meta.c", "number.max",
         '"meta.c" must be less than or equal to ref:b'),
    ]


def test_struct_child_ref_sees_converted_sibling(spark):
    """A struct child compiles after the sibling it refers to and sees
    that sibling's converted value."""
    df = spark.createDataFrame([(1, ("x", "X")), (2, ("X", "X"))],
                               "id bigint, meta struct<a:string, b:string>")
    schema = joi.object({"meta": joi.object({
        "a": joi.string().valid(joi.ref("b")),
        "b": joi.string().lowercase(),
    })})
    res = joi.validate(df, schema, order_by=["id"])
    assert [(r["id"], r["path"], r["code"])
            for r in res.violations().collect()] == [(2, "meta.a", "any.only")]


def test_struct_assert(spark):
    """``assert_()`` on a struct object checks per row and reports at
    the object; its refs resolve among the object's keys."""
    schema = joi.object({"meta": joi.object({
        "a": joi.number(), "b": joi.number(),
    }).assert_("a", joi.number().less(joi.ref("b")), "stay below b")})
    res = joi.validate(_pairs(spark), schema, order_by=["id"])
    got = [(r["id"], r["path"], r["code"], r["message"])
           for r in res.violations().collect()]
    assert got == [(1, "meta", "object.assert",
                    '"meta" is invalid because "a" failed to stay below b')]


def test_struct_rename_raises(spark):
    schema = joi.object({"meta": joi.object({"z": joi.number()})
                         .rename("a", "z")})
    with pytest.raises(CompileError, match="rename"):
        compile_table(schema, _pairs(spark))


def test_allow_unknown_pref_flags_struct_fields(spark):
    schema = joi.object({"id": joi.number(), "b": joi.number(),
                         "meta": joi.object({"a": joi.number(),
                                             "b": joi.number()})})
    res = joi.validate(_pairs(spark), schema, order_by=["id"],
                       prefs={"allow_unknown": False})
    assert res.table_errors == []
    assert [(r["id"], r["path"], r["code"], r["message"])
            for r in res.violations().collect()] == [
        (1, "meta.c", "object.unknown", '"meta.c" is not allowed'),
        (2, "meta.c", "object.unknown", '"meta.c" is not allowed')]


def test_pattern_only_table_flags_unknown_columns(spark):
    """With patterns and no keys, ``unknown(False)`` still closes the
    table, as it closes a struct."""
    schema = joi.object().pattern("^[ib]", joi.number()).unknown(False)
    res = joi.validate(_pairs(spark), schema)
    assert res.table_errors == ['"meta" is not allowed']


def test_table_dependency_on_absent_column(spark):
    """A dependency peer the table lacks is absent on every row."""
    schema = joi.object({"id": joi.number()}).with_("id", "nope")
    res = joi.validate(_pairs(spark), schema, order_by=["id"])
    assert [(r["id"], r["path"], r["code"], r["message"])
            for r in res.violations().collect()] == [
        (i, "id", "object.with", '"id" missing required peer "nope"')
        for i in (1, 2)]
