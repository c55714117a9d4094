"""Manifest round-trip: ``describe()`` → plain dict → ``build()`` → schema.

Mirrors the reference's serialization contract (lib/manifest.js:16-155
describe, 217-451 build): ``build(schema.describe()) == schema`` for every
schema the DSL can express.  The JSON manifest doubles as the engine's
checkpoint/lineage format — a resumed run verifies it executes the
identical constraint set by comparing manifest hashes
(see joi_spark.checkpoint).
"""

from __future__ import annotations

import hashlib
import json
import re
from typing import Any

from joi_spark.dsl.base import MULTI_RULES, Rule, Schema
from joi_spark.dsl.objects import Dependency
from joi_spark.dsl.ref import Ref


def _type_registry() -> dict[str, type]:
    from joi_spark.dsl.types import (AnySchema, ArraySchema, BinarySchema,
                                     BooleanSchema, DateSchema, NumberSchema,
                                     StringSchema)
    from joi_spark.dsl.objects import (AlternativesSchema, LinkSchema,
                                       ObjectSchema)
    return {
        "any": AnySchema, "string": StringSchema, "number": NumberSchema,
        "boolean": BooleanSchema, "date": DateSchema, "array": ArraySchema,
        "binary": BinarySchema, "object": ObjectSchema,
        "alternatives": AlternativesSchema, "link": LinkSchema,
    }


def _build_value(v: Any):
    if isinstance(v, dict):
        if (len(v) == 1 and "ref" in v and isinstance(v["ref"], dict)
                and "path" in v["ref"]):
            ref_desc = v["ref"]
            prefix = {"global": "$", "local": "#"}.get(ref_desc.get("type"), "")
            key = ".".join(ref_desc["path"])
            # map rebuilds; adjust is a callback — like the reference,
            # the manifest records only that a callback existed
            m = ref_desc.get("map")
            m = [tuple(p) for p in m] if m else None
            return Ref(prefix + key, map=m) if prefix \
                else Ref(key, map=m)
        if "type" in v and isinstance(v.get("type"), str) and v["type"] in _type_registry():
            return build(v)
        if set(v) == {"regex", "flags"}:
            return re.compile(v["regex"], v["flags"])
        return {k: _build_value(x) for k, x in v.items()}
    if isinstance(v, list):
        return [_build_value(x) for x in v]
    return v


def build(desc: dict) -> Schema:
    """Reconstruct a schema from its description
    (reference: lib/manifest.js:217-451)."""
    registry = _type_registry()
    cls = registry.get(desc.get("type"))
    if cls is None:
        raise ValueError(f"unknown schema type {desc.get('type')!r}")
    s = cls()

    for name, value in (desc.get("flags") or {}).items():
        s._flags[name] = _build_value(value)

    for rd in desc.get("rules") or []:
        s._rules.append(Rule(rd["name"], _build_value(rd.get("args") or {}),
                             warn=rd.get("warn", False),
                             message=rd.get("message"),
                             keep=rd.get("keep", False)))

    for v in desc.get("allow") or []:
        s._valids.add(_build_value(v))
    for v in desc.get("invalid") or []:
        s._invalids.add(_build_value(v))

    if desc.get("preferences"):
        s._preferences = dict(desc["preferences"])
    if desc.get("messages"):
        s._messages = dict(desc["messages"])
    if desc.get("metas"):
        s._meta = list(desc["metas"])

    for k, v in (desc.get("terms") or {}).items():
        if k == "keys":
            s._terms["keys"] = {kk: build(vv) for kk, vv in v.items()}
        elif k == "dependencies":
            s._terms["dependencies"] = [
                Dependency(d["rel"], d.get("key"), d["peers"]) for d in v]
        elif k == "asserts":
            s._terms["asserts"] = [
                {"ref": _build_value(a["ref"]), "schema": build(a["schema"]),
                 "message": a.get("message")} for a in v]
        elif k in ("matches", "items"):
            s._terms[k] = [build(x) for x in v]
        elif k == "whens":
            def _maybe_schema(x):
                if isinstance(x, dict) and isinstance(x.get("type"), str) \
                        and x["type"] in _type_registry():
                    return build(x)
                return _build_value(x)
            s._terms["whens"] = [
                {"ref": _build_value(w["ref"]),
                 "is": _maybe_schema(w.get("is")),
                 "then": _maybe_schema(w["then"]) if w.get("then") else None,
                 "otherwise": _maybe_schema(w["otherwise"]) if w.get("otherwise") else None,
                 "switch": [
                     {"is": _maybe_schema(c.get("is")),
                      "then": _maybe_schema(c["then"]) if c.get("then") else None,
                      **({"otherwise": _maybe_schema(c["otherwise"])}
                         if c.get("otherwise") else {})}
                     for c in w["switch"]] if w.get("switch") else None}
                for w in v]
        else:
            s._terms[k] = _build_value(v)
    return s


def manifest_json(schema: Schema) -> str:
    """Canonical JSON form — the lineage checkpoint payload."""
    return json.dumps(schema.describe(), sort_keys=True, default=str,
                      separators=(",", ":"))


def manifest_hash(schema: Schema) -> str:
    """Stable hash identifying the constraint set for checkpoint lineage."""
    return hashlib.sha256(manifest_json(schema).encode()).hexdigest()[:16]
