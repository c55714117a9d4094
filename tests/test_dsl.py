"""DSL mechanics: clone-on-write immutability, single-rule dedup,
manifest round-trip (reference contract: build(describe(s)) == s,
test/helper.js:23-25)."""

from __future__ import annotations

import pytest

import joi_spark as joi
from joi_spark.dsl.base import Rule


def test_chain_clones():
    a = joi.string()
    b = a.min(3)
    assert a.get_rule("min") is None
    assert b.get_rule("min").args["limit"] == 3


def test_single_rule_dedup():
    # re-adding a non-multi rule replaces (reference: lib/base.js:617-621)
    s = joi.string().min(3).min(5)
    rules = [r for r in s._rules if r.name == "min"]
    assert len(rules) == 1
    assert rules[0].args["limit"] == 5


def test_multi_rule_accumulates():
    s = joi.string().pattern("^a").pattern("b$")
    assert len([r for r in s._rules if r.name == "pattern"]) == 2


def test_valid_sets_only_flag():
    s = joi.string().valid("a", "b")
    assert s._flags["only"] is True
    assert s._valids.values == ["a", "b"]


def test_allow_does_not_set_only():
    s = joi.string().allow("")
    assert "only" not in s._flags


def test_invalid_removes_from_valids():
    s = joi.string().allow("x").invalid("x")
    assert "x" not in s._valids.values
    assert "x" in s._invalids.values


@pytest.mark.parametrize("schema", [
    joi.string().min(3).max(10).pattern("^[a-z]+$").required(),
    joi.number().integer().min(0).max(100).multiple(5),
    joi.string().valid("a", "b").insensitive(),
    joi.string().email().lowercase().trim(),
    joi.date().min("now").timestamp("unix"),
    joi.boolean().truthy("Y").falsy("N"),
    joi.array().items(joi.string().min(1)).unique().min(1),
    joi.object({
        "a": joi.string().required(),
        "b": joi.number().min(joi.ref("a")),
    }).xor("a", "c").with_("a", ["b"]).assert_("a", joi.string().min(2)),
    joi.string().default("x").failover("y").label("L").description("d"),
    joi.any_().when("a", is_="x", then=joi.string().required()),
    # round-2 surface: unique path / sort by / rename options /
    # domain options / mapped refs / cast map / date format
    joi.array().unique("k.x", ignore_undefined=True).sort(by="idx"),
    joi.object({"dst": joi.string()})
       .rename("src", "dst", alias=True, override=True),
    joi.string().domain(minDomainSegments=3,
                        tlds={"allow": ["com"], "deny": ["dev"]}),
    joi.number().min(joi.ref("tier", map=[("gold", 50), ("basic", 1)])),
    joi.object({"s": joi.object().cast("map")}),
    joi.date().format("javascript"),
])
def test_manifest_round_trip(schema):
    desc = schema.describe()
    rebuilt = joi.build(desc)
    assert rebuilt.describe() == desc


def test_manifest_hash_stable():
    s1 = joi.string().min(3)
    s2 = joi.string().min(3)
    assert joi.manifest_hash(s1) == joi.manifest_hash(s2)
    assert joi.manifest_hash(s1) != joi.manifest_hash(joi.string().min(4))


def test_concat_merges():
    a = joi.string().min(3)
    b = joi.string().max(10)
    c = a.concat(b)
    assert c.get_rule("min").args["limit"] == 3
    assert c.get_rule("max").args["limit"] == 10


def test_concat_any_retypes():
    a = joi.any_().required()
    b = joi.number().min(1)
    c = a.concat(b)
    assert c.type == "number"
    assert c._flags.get("presence") == "required"


def test_concat_keeps_terms_and_concatenates_keys():
    """``concat`` has one merge path: a retyped ``any`` keeps its
    ``when``s, and a key both objects declare concatenates its two
    schemas."""
    w = joi.any_().when("a", is_=1, then=joi.required())
    c = w.concat(joi.string().min(1))
    assert c.type == "string" and c._terms["whens"] == w._terms["whens"]
    o = joi.object({"a": joi.string().trim(), "b": joi.number()}).concat(
        joi.object({"a": joi.string().max(3), "c": joi.string()}))
    assert list(o._terms["keys"]) == ["a", "b", "c"]
    assert [r.name for r in o._terms["keys"]["a"]._rules] == ["trim", "max"]
    assert list(joi.object().concat(o)._terms["keys"]) == ["a", "b", "c"]
    v = joi.string().valid("x", "y").concat(joi.string().invalid("x"))
    assert v._valids.values == ["y"] and v._invalids.values == ["x"]


def test_compile_literal_dict():
    s = joi.compile({"a": "x", "b": [1, 2]})
    assert s.type == "object"
    keys = s._terms["keys"]
    assert keys["a"]._valids.values == ["x"]
    assert keys["b"]._valids.values == [1, 2]


def test_ref_display():
    assert joi.ref("a").display == "ref:a"
    assert joi.ref("$ctx").display == "global:ctx"


def test_rule_and_warn_and_message():
    s = joi.string().min(3).rule(message="too short", warn=True)
    r = s.get_rule("min")
    assert r.message == "too short"
    assert r.warn is True


def test_schema_surgery_ops():
    import joi_spark as joi
    s = joi.object({"a": joi.string(),
                    "b": joi.object({"c": joi.number()})})
    s2 = s.fork("b.c", lambda x: x.required())
    assert s2.extract("b.c")._flags.get("presence") == "required"
    assert s.extract("b.c")._flags.get("presence") is None  # immutable
    t = joi.string().alter({"prod": lambda x: x.required()})
    assert t.tailor("prod")._flags.get("presence") == "required"
    assert t.tailor("dev")._flags.get("presence") is None
    o = joi.object({"k": joi.string().alter({"p": lambda x: x.min(3)})})
    assert o.tailor("p").extract("k").get_rule("min") is not None


def test_messages_language_selection(spark):
    import joi_spark as joi
    df = spark.createDataFrame([(1, "ab")], "id bigint, username string")
    schema = joi.object({
        "username": joi.string().min(4).messages({
            "string.min": "default too short",
            "english": {"string.min": "english too short"},
        }),
    })
    def msg(prefs):
        return joi.validate(df, schema, prefs=prefs,
                            order_by=["id"]).violations() \
                  .collect()[0]["message"]
    assert msg(None) == "default too short"
    assert msg({"errors": {"language": "english"}}) == "english too short"
    # unknown language falls back to the flat set (reference
    # lib/errors.js:127-135)
    assert msg({"errors": {"language": "nope"}}) == "default too short"


def test_messages_language_merge_and_validation(spark):
    import joi_spark as joi
    s = joi.string().messages({"english": {"string.min": "a"}}) \
                    .messages({"english": {"string.max": "b"}})
    assert s._messages["english"] == {"string.min": "a",
                                      "string.max": "b"}
    import pytest as _pt
    with _pt.raises(ValueError):
        joi.string().messages({"english": {"string.min": 3}})
    with _pt.raises(ValueError):
        joi.string().messages({"string.min": 3})


def test_messages_language_ref_raises(spark):
    import joi_spark as joi
    df = spark.createDataFrame([(1, "ab")], "id bigint, u string")
    schema = joi.object({"u": joi.string().min(4)})
    with pytest.raises(Exception, match="language"):
        joi.validate(df, schema,
                     prefs={"errors": {"language": joi.ref("$lang")}},
                     order_by=["id"])


def test_messages_language_describe_roundtrip(spark):
    import joi_spark as joi
    s = joi.string().min(4).messages({
        "string.min": "flat",
        "english": {"string.min": "en"},
    })
    d = s.describe()
    rebuilt = joi.build(d)
    assert rebuilt._messages == s._messages


def test_errors_prefs_escape_html_and_wrap_arrays(spark):
    import joi_spark as joi
    df = spark.createDataFrame([(1, "<bad&val>")], "id bigint, v string")
    s = joi.object({"v": joi.string().valid("a<b").messages(
        {"any.only": "bad {#valids} raw {{#valids}} val {[.]}"})})
    def msg(prefs, schema=s):
        return joi.validate(df, schema, prefs=prefs,
                            order_by=["id"]).violations() \
                  .collect()[0]["message"]
    # double-brace (non-raw) substitutions escape; single-brace and
    # {[.]} stay raw (reference: template.js:68,185).  Array WRAPPING
    # is orthogonal to rawness: errors.wrapArrays applies to every
    # dynamic part (errors.js:76 passes prefs.errors into render;
    # template.js:331 wraps), so {#valids} wraps too by default.
    assert msg(None) == "bad [a<b] raw [a<b] val <bad&val>"
    assert msg({"errors": {"escape_html": True}}) == \
        "bad [a<b] raw [a&lt;b] val <bad&val>"
    s2 = joi.object({"v": joi.string().valid("x", "y").messages(
        {"any.only": "not in {{#valids}} or {#valids}"})})
    got = joi.validate(df, s2,
                       prefs={"errors": {"wrap_arrays": False}},
                       order_by=["id"]).violations() \
             .collect()[0]["message"]
    assert got == "not in x, y or x, y"
    # the errors prefs merge key by key, at the root and at a key
    s3 = joi.object({"v": joi.string().valid("a", "b")})
    assert msg({"errors": {"wrap_arrays": False}}, s3.prefs(
        {"errors": {"language": "fr"}})) == '"v" must be one of a, b'
    assert msg(None, joi.object({"v": joi.string().valid("a", "b").prefs(
        {"errors": {"wrap_arrays": False}})})) == '"v" must be one of a, b'


def test_errors_prefs_unknown_key_raises(spark):
    import joi_spark as joi
    df = spark.createDataFrame([(1, "x")], "id bigint, v string")
    s = joi.object({"v": joi.string()})
    for prefs, msg in (({"errors": {"bogus": 1}}, "unknown errors preferences"),
                       ({"abortEarly": False}, "unknown preferences")):
        with pytest.raises(Exception, match=msg):
            joi.validate(df, s, prefs=prefs, order_by=["id"])


def test_no_defaults_pref_skips_default_and_failover(spark):
    import joi_spark as joi
    df = spark.createDataFrame([(1, None)], "id bigint, v string")
    s = joi.object({"v": joi.string().default("dflt")})
    assert joi.validate(df, s, order_by=["id"]).value \
              .collect()[0]["v"] == "dflt"
    assert joi.validate(df, s, prefs={"no_defaults": True},
                        order_by=["id"]).value \
              .collect()[0]["v"] is None


def test_prefs_messages_precedence(spark):
    """rule message() > prefs.messages > schema messages() > builtin
    (reference: lib/errors.js:68-70 toString resolution order)."""
    import joi_spark as joi
    df = spark.createDataFrame([(1, "ab")], "id bigint, u string")
    s = joi.object({"u": joi.string().min(4)
                        .messages({"string.min": "schema says short"})})
    def msg(schema, prefs=None):
        return joi.validate(df, schema, prefs=prefs,
                            order_by=["id"]).violations() \
                  .collect()[0]["message"]
    assert msg(s) == "schema says short"
    assert msg(s, {"messages": {"string.min": "prefs says short"}}) \
        == "prefs says short"
    s2 = joi.object({"u": joi.string().min(4).message("rule wins")})
    assert msg(s2, {"messages": {"string.min": "prefs"}}) == "rule wins"
    # prefs.messages is language-aware too
    assert msg(s, {"messages": {"english": {"string.min": "prefs en"}},
                   "errors": {"language": "english"}}) == "prefs en"
    # a key's own prefs.messages render its messages
    s3 = joi.object({"u": joi.string().min(4).prefs(
        {"messages": {"string.min": "key prefs say short"}})})
    assert msg(s3) == "key prefs say short"
    # ... and merge code by code over the caller's
    s4 = joi.object({"u": joi.string().min(4).prefs(
        {"messages": {"any.only": "key prefs say only"}})})
    assert msg(s4, {"messages": {"string.min": "caller says short"}}) \
        == "caller says short"


def test_externals_pref_skips_external_rules(spark):
    import joi_spark as joi
    df = spark.createDataFrame([(1, "ab")], "id bigint, u string")
    def flag(series):
        return series.map(lambda v: "flagged" if v == "ab" else None)
    s = joi.object({"u": joi.string().external(flag)})
    assert joi.validate(df, s, order_by=["id"]).violations().count() == 1
    assert joi.validate(df, s, prefs={"externals": False},
                        order_by=["id"]).violations().count() == 0


def test_root_defaults_modifier_and_compose(spark):
    """joi.defaults(fn): every type constructor passes through fn;
    further .defaults compose (reference: lib/index.js:119-131)."""
    import joi_spark as joi
    r = joi.defaults(lambda s: s.required())
    s = r.object({"a": r.string()})
    assert s._terms["keys"]["a"]._flags.get("presence") == "required"
    r2 = r.defaults(lambda s: s.label("X"))
    s2 = r2.string()
    assert s2._flags.get("presence") == "required"
    assert s2._flags.get("label") == "X"
    df = spark.createDataFrame([(1, None)], "id bigint, a string")
    v = joi.validate(df, r.object({"a": r.string()}),
                     order_by=["id"]).violations().collect()
    assert v[0]["code"] == "any.required"
    with pytest.raises(ValueError):
        joi.defaults("not callable")
    with pytest.raises(ValueError):
        joi.defaults(lambda s: "not a schema").string()


def test_root_check_preferences_and_types():
    import joi_spark as joi
    joi.check_preferences({"convert": True,
                           "errors": {"language": "en"}})
    for bad in ({"bogus": 1}, {"errors": {"nope": 1}},
                {"presence": "weird"}):
        with pytest.raises(ValueError):
            joi.check_preferences(bad)
    t = joi.types()
    assert set(t) == {"any", "string", "number", "boolean", "date",
                      "array", "binary", "object", "alternatives"}
    assert joi.alt is joi.alternatives
    assert joi.version == "16.0.0-rc2"


def test_concat_deep_merges_language_messages():
    import joi_spark as joi
    a = joi.string().messages({"english": {"string.min": "en min"}})
    b = joi.string().messages({"english": {"string.max": "en max"}})
    c = a.concat(b)
    assert c._messages["english"] == {"string.min": "en min",
                                      "string.max": "en max"}


def test_schema_prefs_validates_keys(spark):
    """Schema.prefs() asserts its input like the reference
    (lib/base.js:246-250 overrides, then common.js checkPreferences):
    a typo'd pref must raise, never merge silently (round-3 verdict)."""
    import joi_spark as joi
    s = joi.string()
    with pytest.raises(ValueError, match="unknown preferences"):
        s.prefs({"covert": False})            # the classic typo
    with pytest.raises(ValueError, match="Cannot override context"):
        s.prefs({"context": {}})
    with pytest.raises(ValueError, match="Cannot override externals"):
        s.prefs({"externals": False})
    with pytest.raises(ValueError, match="Cannot override warnings"):
        s.prefs({"warnings": True})
    with pytest.raises(ValueError, match="unknown errors preferences"):
        s.prefs({"errors": {"wrapArrays": True}})
    # valid keys still merge, nested errors dicts deep-merge
    s2 = s.prefs({"errors": {"wrap_arrays": False}}) \
          .prefs({"errors": {"escape_html": True}})
    assert s2._preferences["errors"] == {"wrap_arrays": False,
                                         "escape_html": True}
    # so do concat's, whichever schema is retyped
    esc = s.prefs({"errors": {"escape_html": True}})
    for base in (s, joi.any_()):
        wrap = base.prefs({"errors": {"wrap_arrays": False}})
        assert wrap.concat(esc)._preferences["errors"] == \
            s2._preferences["errors"]


def test_manifest_round_trip_alternatives_and_string_options(spark):
    """describe()/build() round-trip for the round-5-touched surfaces:
    bare-base alternatives (types classifier), normalize forms, and
    ip version/cidr options — hash-stable and re-describable."""
    from joi_spark.dsl.manifest import build, manifest_hash
    import joi_spark as joi
    s = joi.object({
        "a": joi.alternatives(joi.number(), joi.boolean()),
        "b": joi.string().normalize("NFKD"),
        "c": joi.string().ip(version="ipv4", cidr="required"),
    })
    d = s.describe()
    r = build(d)
    assert manifest_hash(r) == manifest_hash(s)
    assert r.describe() == d
