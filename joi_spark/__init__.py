"""joi_spark — a PySpark-native schema + constraint validation engine.

A from-scratch re-imagining of the reference validator's chainable schema
surface (reference: yabin45/joi @ /root/reference, lib/index.js:19-59) as
a declarative constraint DSL compiled to vectorized Spark SQL predicates.
One schema validates one table: columns are the object's keys; output is
(converted table, violation rows, per-partition verdicts, column stats).

    import joi_spark as joi

    schema = joi.object({
        "conv_id": joi.string().required(),
        "turn_idx": joi.number().integer().min(0).required(),
        "role": joi.string().valid("system", "user", "assistant", "tool").required(),
        "text": joi.string().max(8192),
    }).with_("tool", ["role"])

    result = joi.validate(df, schema)
    result.violations().show()
    result.verdicts(["epoch"]).show()
"""

from __future__ import annotations

from joi_spark.dsl.base import Schema
from joi_spark.dsl.compile_literal import compile_literal as compile  # noqa: A001
from joi_spark.dsl.manifest import build, manifest_hash, manifest_json
from joi_spark.dsl.objects import AlternativesSchema, ObjectSchema
from joi_spark.dsl.ref import Ref, is_ref, ref
from joi_spark.dsl.template import Template, x  # noqa: F401  (Joi.x)
from joi_spark.dsl.types import (AnySchema, ArraySchema, BinarySchema,
                                 BooleanSchema, DateSchema, NumberSchema,
                                 StringSchema)
from joi_spark.engine import (TableValidationError, ValidationResult,
                              assert_table, validate)
# at load time: importing the submodule later would rebind
# ``joi_spark.extend`` from this function to the module
from joi_spark.extend import extend  # reference: lib/extend.js:11-135

__version__ = "0.1.0"


# type factories (reference: lib/index.js:44-50)
def any_() -> AnySchema:
    return AnySchema()


def string() -> StringSchema:
    return StringSchema()


def number() -> NumberSchema:
    return NumberSchema()


def boolean() -> BooleanSchema:
    return BooleanSchema()


bool_ = boolean


def date() -> DateSchema:
    return DateSchema()


def array() -> ArraySchema:
    return ArraySchema()


def binary() -> BinarySchema:
    return BinarySchema()


def object(keys: dict | None = None) -> ObjectSchema:
    s = ObjectSchema()
    if keys is not None:
        s = s.keys(keys)
    return s


def alternatives(*schemas) -> AlternativesSchema:
    s = AlternativesSchema()
    if schemas:
        s = s.try_(*schemas)
    return s


def link(target: str) -> "LinkSchema":
    """Reuse a shared schema by id (reference: lib/types/link.js)."""
    from joi_spark.dsl.objects import LinkSchema
    return LinkSchema(target)


def is_schema(v) -> bool:
    return isinstance(v, Schema)


def is_expression(v) -> bool:
    # reference: Joi.isExpression (lib/index.js)
    return isinstance(v, Template)


# shortcuts on any (reference: lib/index.js:54-59)
def required() -> AnySchema:
    return AnySchema().required()


def forbidden() -> AnySchema:
    return AnySchema().forbidden()


def valid(*values) -> AnySchema:
    return AnySchema().valid(*values)


def invalid(*values) -> AnySchema:
    return AnySchema().invalid(*values)


alt = alternatives   # reference: lib/index.js:67 root.alt


# root version string (reference: lib/index.js:80 root.version —
# reports the mirrored reference surface, engine version separate in
# __version__)
version = "16.0.0-rc2"

_KNOWN_PREFS = {"convert", "abort_early", "allow_unknown",
                "strip_unknown", "presence", "no_defaults", "context",
                "externals", "messages", "errors", "warnings"}
_KNOWN_ERRORS_KEYS = {"language", "wrap_arrays", "escape_html"}


def check_preferences(prefs: dict) -> None:
    """Validate a preferences dict without compiling anything
    (reference: lib/index.js:113-117 checkPreferences →
    lib/common.js:66-73).  Raises ValueError on unknown keys."""
    if not isinstance(prefs, dict):
        raise ValueError("preferences must be a dict")
    unknown = set(prefs) - _KNOWN_PREFS
    if unknown:
        raise ValueError(f"unknown preferences: {sorted(unknown)}")
    err = prefs.get("errors") or {}
    unknown = set(err) - _KNOWN_ERRORS_KEYS
    if unknown:
        raise ValueError(f"unknown errors preferences: {sorted(unknown)}")
    if prefs.get("presence") not in (None, "optional", "required",
                                     "forbidden"):
        raise ValueError("presence must be optional/required/forbidden")


def types() -> dict:
    """Fresh instances of every root type, keyed by name
    (reference: lib/index.js:169-180 root.types)."""
    return {"any": any_(), "string": string(), "number": number(),
            "boolean": boolean(), "date": date(), "array": array(),
            "binary": binary(), "object": object(),
            "alternatives": alternatives()}


class _DefaultsRoot:
    """A derived root whose type constructors pass through a modifier
    — ``joi.defaults(lambda s: s.required())`` makes every type
    required by default (reference: lib/index.js:119-131
    root.defaults; modifiers COMPOSE on further .defaults calls)."""

    _TYPE_FACTORIES = ("any_", "string", "number", "boolean", "bool_",
                       "date", "array", "binary", "object",
                       "alternatives", "alt", "link")

    def __init__(self, modifier, parent=None):
        if not callable(modifier):
            raise ValueError("defaults() requires a callable modifier")
        self._modifier = modifier
        self._parent = parent

    def _apply(self, schema):
        if self._parent is not None:
            schema = self._parent._apply(schema)
        out = self._modifier(schema)
        if not is_schema(out):
            raise ValueError("defaults() modifier must return a schema")
        return out

    def defaults(self, modifier) -> "_DefaultsRoot":
        return _DefaultsRoot(modifier, parent=self)

    def __getattr__(self, name):
        import joi_spark as _root
        attr = getattr(_root, name)
        if name in self._TYPE_FACTORIES:
            def factory(*args, **kwargs):
                return self._apply(attr(*args, **kwargs))
            return factory
        return attr


def defaults(modifier) -> _DefaultsRoot:
    return _DefaultsRoot(modifier)


__all__ = [
    "Schema", "Ref", "ref", "is_ref", "is_schema", "compile", "build",
    "Template", "x", "is_expression",
    "manifest_hash", "manifest_json",
    "any_", "string", "number", "boolean", "bool_", "date", "array",
    "binary", "object", "alternatives", "alt", "link", "extend",
    "required", "forbidden", "valid", "invalid",
    "validate", "assert_table", "ValidationResult", "TableValidationError",
    "version", "check_preferences", "types", "defaults",
]
