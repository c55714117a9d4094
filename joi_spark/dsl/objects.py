"""Object (row-level) and alternatives schema types.

At table level the transcript ROW is the object: keys = columns
(reference: lib/types/object.js — key validation loop at 114-142,
dependencies at 724-872).
"""

from __future__ import annotations

import re
from typing import Any

from joi_spark.dsl.base import Schema
from joi_spark.dsl.ref import Ref


class Dependency:
    """One of and/or/xor/oxor/nand/with/without
    (reference: lib/types/object.js:182-189,315-338,441-462)."""

    __slots__ = ("rel", "key", "peers")

    def __init__(self, rel: str, key: str | None, peers: list[str]):
        self.rel = rel
        self.key = key
        self.peers = list(peers)

    def describe(self) -> dict:
        d: dict[str, Any] = {"rel": self.rel, "peers": list(self.peers)}
        if self.key is not None:
            d["key"] = self.key
        return d

    def __copy__(self):
        return Dependency(self.rel, self.key, self.peers)


class ObjectSchema(Schema):
    """reference: lib/types/object.js"""

    type = "object"

    # -- keys (reference: lib/types/object.js:253-276) -----------------
    def keys(self, keys: dict[str, Schema] | None = None) -> "ObjectSchema":
        """``keys()`` allows any key, ``keys({})`` none, and a non-empty
        dict adds to the declared keys."""
        from joi_spark.dsl.compile_literal import compile_literal
        n = self.clone()
        if keys is None:
            n._terms.pop("keys", None)
            return n
        declared = dict(n._terms.get("keys") or {}) if keys else {}
        for k, v in keys.items():
            declared[k] = v if isinstance(v, Schema) else compile_literal(v)
        n._terms["keys"] = declared
        return n

    def append(self, keys: dict[str, Schema] | None) -> "ObjectSchema":
        # reference: lib/types/object.js:191-203 — nothing to append is
        # a no-op
        return self.keys(keys) if keys else self

    # -- dependencies ----------------------------------------------------
    def _dep(self, rel: str, key: str | None, peers) -> "ObjectSchema":
        n = self.clone()
        deps = list(n._terms.get("dependencies") or [])
        deps.append(Dependency(rel, key, list(peers)))
        n._terms["dependencies"] = deps
        return n

    def and_(self, *peers) -> "ObjectSchema":
        # all-or-none present (reference: lib/types/object.js:182-189,724-751)
        return self._dep("and", None, peers)

    def or_(self, *peers) -> "ObjectSchema":
        # at least one present (reference: lib/types/object.js:324-331,779-794)
        return self._dep("or", None, peers)

    def xor(self, *peers) -> "ObjectSchema":
        # exactly one present (reference: lib/types/object.js:455-462,851-872)
        return self._dep("xor", None, peers)

    def oxor(self, *peers) -> "ObjectSchema":
        # at most one present (reference: lib/types/object.js:333-338,796-815)
        return self._dep("oxor", None, peers)

    def nand(self, *peers) -> "ObjectSchema":
        # not all present (reference: lib/types/object.js:315-322,753-777)
        return self._dep("nand", None, peers)

    def with_(self, key: str, peers) -> "ObjectSchema":
        # if key present → peers present (reference: lib/types/object.js:441-446)
        peers = [peers] if isinstance(peers, str) else list(peers)
        return self._dep("with", key, peers)

    def without(self, key: str, peers) -> "ObjectSchema":
        # if key present → peers absent (reference: lib/types/object.js:448-453)
        peers = [peers] if isinstance(peers, str) else list(peers)
        return self._dep("without", key, peers)

    # -- assert (reference: lib/types/object.js:205-231) -----------------
    def assert_(self, subject, schema: Schema, message: str | None = None) -> "ObjectSchema":
        n = self.clone()
        asserts = list(n._terms.get("asserts") or [])
        subject = subject if isinstance(subject, Ref) else Ref(subject)
        asserts.append({"ref": subject, "schema": schema, "message": message})
        n._terms["asserts"] = asserts
        return n

    # -- rename (reference: lib/types/object.js:387-415,886-967) --------
    def rename(self, from_: str | re.Pattern, to: str, *, alias: bool = False,
               multiple: bool = False, override: bool = False) -> "ObjectSchema":
        n = self.clone()
        renames = list(n._terms.get("renames") or [])
        entry = {"from": from_, "to": to, "alias": alias,
                 "multiple": multiple, "override": override}
        if isinstance(from_, re.Pattern):
            # regex rename (reference: lib/types/object.js:898-938)
            entry["from"] = from_.pattern
            entry["regex"] = True
        renames.append(entry)
        n._terms["renames"] = renames
        return n

    # -- unknown-column policy (reference: lib/types/object.js:434-439) --
    def unknown(self, allow: bool = True) -> "ObjectSchema":
        return self._set_flag("unknown", allow)

    # -- key-count rules (reference: lib/types/object.js:278-313) --------
    def length(self, limit: int) -> "ObjectSchema":
        return self._add_rule("length", {"limit": limit})

    def min(self, limit: int) -> "ObjectSchema":
        return self._add_rule("min", {"limit": limit})

    def max(self, limit: int) -> "ObjectSchema":
        return self._add_rule("max", {"limit": limit})

    # -- shared registrations for link() (reference: lib/base.js shared /
    # lib/types/link.js) -------------------------------------------------
    def shared(self, schema: Schema) -> "ObjectSchema":
        """Register a schema (carrying an ``.id(...)`` flag) for reuse by
        ``joi_spark.link('#id')`` keys in this object."""
        sid = schema._flags.get("id")
        if not sid:
            raise ValueError("shared() requires the schema to carry .id(...)")
        n = self.clone()
        shared = dict(n._terms.get("shared") or {})
        shared[sid] = schema
        n._terms["shared"] = shared
        return n

    # -- pattern keys (reference: lib/types/object.js:340-370) -----------
    def pattern(self, regex: str | re.Pattern, rule: Schema) -> "ObjectSchema":
        if isinstance(regex, re.Pattern):
            regex = regex.pattern
        n = self.clone()
        pats = list(n._terms.get("patterns") or [])
        pats.append({"regex": regex, "rule": rule})
        n._terms["patterns"] = pats
        return n


class LinkSchema(Schema):
    """Late-bound reuse of a shared schema node by id (reference:
    lib/types/link.js:35-59).  At table scale, cross-TABLE links are
    realized as referential-integrity anti-joins
    (joi_spark.operators.dataset.referential); in-schema links resolve
    at compile time against ``object().shared(...)`` registrations."""

    type = "link"

    def __init__(self, target: str | None = None):
        super().__init__()
        if target is not None:
            self._flags["link_target"] = target.lstrip("#")


class AlternativesSchema(Schema):
    """reference: lib/types/alternatives.js — first-match-wins OR."""

    type = "alternatives"

    def try_(self, *schemas) -> "AlternativesSchema":
        # reference: lib/types/alternatives.js:97-114
        n = self.clone()
        n._terms["matches"] = list(n._terms.get("matches") or []) + list(schemas)
        return n

    def conditional(self, ref, *, is_=None, then=None, otherwise=None) -> "AlternativesSchema":
        # reference: lib/types/alternatives.js:165-246
        return self.when(ref, is_=is_, then=then, otherwise=otherwise)
