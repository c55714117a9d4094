"""Custom-type extension API — the engine's UDF/UDAF surface.

The reference lets users register new types/rules whose ``validate``
callbacks run per value (reference: lib/extend.js:11-135).  The Spark
re-imagining: a rule's ``validate`` receives the COLUMN (plus compile
context and the rule args) and returns a boolean ``Column`` expression —
JVM-vectorized by construction.  For logic Spark expressions can't say,
the builder may return a pandas-UDF call (the documented escape hatch);
per-row Python UDFs are deliberately not part of the surface.  A plugin
rule is a ``custom`` rule: the compiler's ``any`` rule table holds it and
every kind's table is merged over that one, so plugin and built-in rules
go through the same lookup.

    semver = joi_spark.extend.extend(
        "semver", base=joi_spark.string,
        rules={
            "version": {
                "validate": lambda col, ctx: col.rlike(r"^\\d+\\.\\d+\\.\\d+$"),
                "message": '"{{#label}}" must be a semantic version',
            },
        })
    schema = joi_spark.object({"v": semver().version().required()})
"""

from __future__ import annotations

from typing import Callable

from joi_spark import errors as E
from joi_spark.dsl.base import Schema
from joi_spark.dsl.types import AnySchema


def extend(name: str, base: Callable[[], Schema] | None = None,
           rules: dict[str, dict] | None = None,
           messages: dict[str, str] | None = None) -> Callable[[], Schema]:
    """Create a new schema type factory.

    ``rules[rname]`` is a dict with:
      - ``validate(col, ctx, *args, **kwargs) -> Column`` (required):
        boolean predicate, True = pass;
      - ``message``: template for the rule's code, required unless
        ``messages[code]`` or an already registered template gives one
        (a rule without a template raises ``ValueError``);
      - ``code``: error code, default ``f"{name}.{rname}"``.

    The returned factory builds schemas whose ``type`` is ``name`` but
    whose ``kind`` stays the base type, so base coercion and base rules
    (e.g. string length) keep compiling (reference: extension prototype
    chain, lib/extend.js:107-135).
    """
    base_cls = type(base()) if base is not None else AnySchema
    cls = type(f"{name.capitalize()}Schema", (base_cls,),
               {"type": name, "_kind": base_cls.type})

    msg_registry: dict[str, str] = dict(messages or {})
    for rname, spec in (rules or {}).items():
        code = spec.get("code", f"{name}.{rname}")
        if "message" in spec:
            msg_registry[code] = spec["message"]
        elif code not in msg_registry and code not in E.MESSAGES:
            raise ValueError(f"rule {rname!r} of {name!r} has no message "
                             f"template for its code {code!r}")

        def make(rname=rname, spec=spec, code=code):
            def method(self, *args, **kwargs):
                fn = spec["validate"]
                builder = (lambda col, ctx, _fn=fn, _a=args, _k=kwargs:
                           _fn(col, ctx, *_a, **_k))
                return self._add_rule(
                    "custom", {"builder": builder, "code": code})
            method.__name__ = rname
            return method

        setattr(cls, rname, make())

    if msg_registry:
        E.register_messages(msg_registry)

    def factory() -> Schema:
        return cls()

    factory.__name__ = name
    return factory
