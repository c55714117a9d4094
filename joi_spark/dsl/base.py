"""Immutable chainable schema DSL — the plan-construction layer.

Semantics modeled on the reference validator's schema node state
(reference: lib/base.js:21-51 — flags, ordered rule list with single-rule
dedup, allow/deny value sets, per-schema preferences) re-expressed as pure
Python persistent objects.  Every mutator returns a clone; schemas are
never mutated in place (reference: lib/base.js:380-384, 590-678).

Nothing in this module touches Spark: a schema is a declarative constraint
tree.  ``joi_spark.compiler`` turns it into Spark Column expressions.
"""

from __future__ import annotations

import copy
import re
from typing import Any, Iterable

from joi_spark.dsl.ref import Ref


class Rule:
    """One entry in the ordered rule chain (reference: lib/base.js:590-678)."""

    __slots__ = ("name", "args", "warn", "message", "keep")

    def __init__(self, name: str, args: dict | None = None, *, warn: bool = False,
                 message: str | None = None, keep: bool = False):
        self.name = name
        self.args = dict(args or {})
        self.warn = warn
        self.message = message
        self.keep = keep

    def clone(self) -> "Rule":
        return Rule(self.name, copy.deepcopy(self.args), warn=self.warn,
                    message=self.message, keep=self.keep)

    def describe(self) -> dict:
        d: dict[str, Any] = {"name": self.name}
        if self.args:
            d["args"] = _describe_value(self.args)
        if self.warn:
            d["warn"] = True
        if self.message is not None:
            d["message"] = self.message
        if self.keep:
            d["keep"] = True
        return d

    def __repr__(self):  # pragma: no cover - debug aid
        return f"Rule({self.name!r}, {self.args!r})"

    def __eq__(self, other):
        return (isinstance(other, Rule) and self.name == other.name
                and self.args == other.args and self.warn == other.warn
                and self.message == other.message)


# rules where repeated calls accumulate instead of replacing
# (reference: rule definitions with ``multi: true`` — e.g. string.pattern
# lib/types/string/index.js:576-604, number.multiple lib/types/number.js:165)
MULTI_RULES = {
    "pattern", "multiple", "assert", "has", "external", "warning", "replace",
}


class Values:
    """allow/deny value set; may contain literals and refs
    (reference: lib/values.js:9-191)."""

    __slots__ = ("values", "refs")

    def __init__(self):
        self.values: list[Any] = []
        self.refs: list[Ref] = []

    def add(self, v: Any):
        if isinstance(v, Ref):
            if v not in self.refs:
                self.refs.append(v)
        elif v not in self.values:
            self.values.append(v)

    def remove(self, v: Any):
        if isinstance(v, Ref):
            self.refs = [r for r in self.refs if r != v]
        elif v in self.values:
            self.values.remove(v)

    def clone(self) -> "Values":
        n = Values()
        n.values = list(self.values)
        n.refs = list(self.refs)
        return n

    def __bool__(self):
        return bool(self.values or self.refs)

    def __len__(self):
        return len(self.values) + len(self.refs)

    def describe(self) -> list:
        return [_describe_value(v) for v in self.values] + [r.describe() for r in self.refs]


def _merge_messages(base: dict, over: dict) -> dict:
    """Deep message-table merge: flat codes overwrite; language
    sub-dicts merge PER CODE instead of being clobbered (reference:
    lib/messages.js merge semantics used by concat)."""
    out = dict(base)
    for k, v in over.items():
        cur = out.get(k)
        if isinstance(v, dict) and isinstance(cur, dict):
            out[k] = {**cur, **v}
        else:
            out[k] = v
    return out


def merge_prefs(target: dict | None, source: dict | None) -> dict:
    """``source``'s prefs over ``target``'s; the ``errors`` dicts merge
    key by key and the ``messages`` tables code by code instead of
    replacing (reference: lib/common.js ``preferences``)."""
    target, source = target or {}, source or {}
    merged = {**target, **source}
    for k in ("errors", "messages"):
        if target.get(k) and source.get(k):
            merged[k] = _merge_messages(target[k], source[k])
    return merged


def _describe_value(v: Any):
    if hasattr(v, "describe"):   # Ref, Schema, Dependency
        return v.describe()
    if isinstance(v, dict):
        return {k: _describe_value(x) for k, x in v.items()}
    if isinstance(v, (list, tuple)):
        return [_describe_value(x) for x in v]
    if isinstance(v, re.Pattern):
        return {"regex": v.pattern, "flags": v.flags}
    if callable(v):
        # callbacks (custom rule builders, external hooks) serialize by
        # name — the manifest records THAT a callback exists and its
        # identity, not its body (reference: manifest special values,
        # lib/manifest.js:97-113)
        return {"special": "callback",
                "name": getattr(v, "__qualname__", repr(v))}
    return v


class Schema:
    """Base schema node — the ``any`` type (reference: lib/types/any.js)."""

    type = "any"

    def __init__(self):
        self._flags: dict[str, Any] = {}
        self._rules: list[Rule] = []
        self._valids = Values()
        self._invalids = Values()
        self._preferences: dict | None = None
        self._messages: dict[str, str] = {}
        self._terms: dict[str, Any] = {}
        self._meta: list = []

    # -- persistence -------------------------------------------------
    def clone(self) -> "Schema":
        n = object.__new__(type(self))
        n._flags = dict(self._flags)
        n._rules = [r.clone() for r in self._rules]
        n._valids = self._valids.clone()
        n._invalids = self._invalids.clone()
        n._preferences = dict(self._preferences) if self._preferences else None
        n._messages = dict(self._messages)
        n._terms = {k: copy.copy(v) for k, v in self._terms.items()}
        n._meta = list(self._meta)
        return n

    def _set_flag(self, name: str, value: Any) -> "Schema":
        n = self.clone()
        if value is None:
            n._flags.pop(name, None)
        else:
            n._flags[name] = value
        return n

    def _add_rule(self, name: str, args: dict | None = None, **kw) -> "Schema":
        """Append a rule; non-multi rules replace any previous instance
        (reference: lib/base.js:617-621,659-664)."""
        n = self.clone()
        rule = Rule(name, args, **kw)
        if name not in MULTI_RULES:
            # kept rules survive re-adding the same rule name
            # (reference: lib/base.js:205-208 keep, 617-621 dedup)
            n._rules = [r for r in n._rules if r.name != name or r.keep]
        n._rules.append(rule)
        return n

    def get_rule(self, name: str) -> Rule | None:
        for r in self._rules:
            if r.name == name:
                return r
        return None

    # -- presence (reference: lib/base.js:241-295) --------------------
    def required(self) -> "Schema":
        return self._set_flag("presence", "required")

    exist = required

    def optional(self) -> "Schema":
        return self._set_flag("presence", "optional")

    def forbidden(self) -> "Schema":
        return self._set_flag("presence", "forbidden")

    def presence(self, mode: str) -> "Schema":
        assert mode in ("required", "optional", "forbidden")
        return self._set_flag("presence", mode)

    # -- value sets (reference: lib/base.js:62-86,178-203,314-317) ----
    def allow(self, *values) -> "Schema":
        n = self.clone()
        for v in values:
            n._invalids.remove(v)
            n._valids.add(v)
        return n

    def valid(self, *values) -> "Schema":
        return self.allow(*values)._set_flag("only", True)

    equal = valid

    def invalid(self, *values) -> "Schema":
        n = self.clone()
        for v in values:
            n._valids.remove(v)
            n._invalids.add(v)
        return n

    not_ = invalid
    disallow = invalid

    def only(self, enabled: bool = True) -> "Schema":
        return self._set_flag("only", enabled or None)

    def insensitive(self, enabled: bool = True) -> "Schema":
        return self._set_flag("insensitive", enabled or None)

    # -- defaults & results (reference: lib/base.js:105-167,266-295) --
    def default(self, value) -> "Schema":
        return self._set_flag("default", value)

    def failover(self, value) -> "Schema":
        return self._set_flag("failover", value)

    def empty(self, schema_or_value) -> "Schema":
        return self._set_flag("empty", schema_or_value)

    def strip(self, enabled: bool = True) -> "Schema":
        return self._set_flag("result", "strip" if enabled else None)

    def raw(self, enabled: bool = True) -> "Schema":
        return self._set_flag("result", "raw" if enabled else None)

    def cast(self, to: str | None) -> "Schema":
        return self._set_flag("cast", to)

    # -- annotation (reference: lib/base.js:117-232,297-312) ----------
    def label(self, label: str) -> "Schema":
        return self._set_flag("label", label)

    def description(self, desc: str) -> "Schema":
        return self._set_flag("description", desc)

    def unit(self, name: str) -> "Schema":
        return self._set_flag("unit", name)

    def meta(self, m) -> "Schema":
        n = self.clone()
        n._meta = n._meta + [m]
        return n

    def id(self, id_: str) -> "Schema":
        return self._set_flag("id", id_)

    def tag(self, *tags) -> "Schema":
        n = self.clone()
        n._terms.setdefault("tags", [])
        n._terms["tags"] = list(n._terms.get("tags") or []) + list(tags)
        return n

    def note(self, *notes) -> "Schema":
        n = self.clone()
        n._terms["notes"] = list(n._terms.get("notes") or []) + list(notes)
        return n

    def example(self, ex) -> "Schema":
        n = self.clone()
        n._terms["examples"] = list(n._terms.get("examples") or []) + [ex]
        return n

    # -- messages & severity (reference: lib/base.js:136-142,508-511,583-586)
    def message(self, msg: str) -> "Schema":
        """Override the message of the LAST added rule
        (reference: lib/base.js:513-535 rule({message}))."""
        n = self.clone()
        if not n._rules:
            raise ValueError("message() requires a preceding rule")
        n._rules[-1] = n._rules[-1].clone()
        n._rules[-1].message = msg
        return n

    def messages(self, overrides: dict) -> "Schema":
        """Message overrides — flat ``{code: template}`` or
        language-keyed ``{language: {code: template}}``; the active
        set is chosen by ``prefs={"errors": {"language": ...}}``
        with flat fallback (reference: lib/messages.js:40-67 compile,
        lib/errors.js:121-135 resolve).  Repeat calls MERGE within a
        language, as the reference's messages.merge does."""
        n = self.clone()
        for code, msg in overrides.items():
            if isinstance(msg, dict):
                for c2, m2 in msg.items():
                    if not isinstance(m2, str):
                        raise ValueError(
                            f"Invalid message for {c2} in {code}")
                cur = n._messages.get(code)
                merged = dict(cur) if isinstance(cur, dict) else {}
                merged.update(msg)
                n._messages[code] = merged
            elif isinstance(msg, str):
                n._messages[code] = msg
            else:
                raise ValueError(f"Invalid message for {code}")
        return n

    def error(self, msg: str) -> "Schema":
        return self._set_flag("error", msg)

    def warn(self) -> "Schema":
        """Demote the LAST added rule to the warning channel
        (reference: lib/base.js:583-586)."""
        n = self.clone()
        if not n._rules:
            raise ValueError("warn() requires a preceding rule")
        n._rules[-1] = n._rules[-1].clone()
        n._rules[-1].warn = True
        return n

    # -- plugin surface (reference: lib/extend.js custom rules; external
    # hooks lib/base.js:152-157) --------------------------------------
    def custom(self, builder, *, code: str = "any.custom",
               message: str | None = None) -> "Schema":
        """Register a vectorized custom rule: ``builder(col, ctx) ->
        boolean Column`` (True = pass).  The Spark analogue of the
        reference's per-value custom validate callbacks
        (lib/extend.js:58-104) — the callback receives the whole COLUMN
        and must return a Column expression (or a pandas-UDF call for
        non-expressible logic), never per-row Python."""
        return self._add_rule("custom", {"builder": builder, "code": code},
                              message=message)

    def external(self, method, *, code: str = "external.check") -> "Schema":
        """Arrow-batched post-validation hook (reference:
        lib/base.js:152-157, applied lib/validator.js:51-86).
        ``method(values: pandas.Series) -> pandas.Series[str | None]`` —
        a non-null string is the violation message for that row."""
        n = self.clone()
        n._terms["externals"] = list(n._terms.get("externals") or []) + \
            [{"method": method, "code": code}]
        return n

    @property
    def kind(self) -> str:
        """Compile-time dispatch type: equals ``type`` for built-ins;
        extended types (joi_spark.extend) keep their base's kind so
        base coercion/rules still compile."""
        return getattr(self, "_kind", None) or self.type

    def rule(self, *, message: str | None = None, warn: bool = False,
             keep: bool = False) -> "Schema":
        """Apply options to the last rule (reference: lib/base.js:513-535)."""
        n = self.clone()
        if not n._rules:
            raise ValueError("rule() requires a preceding rule")
        last = n._rules[-1].clone()
        if message is not None:
            last.message = message
        if warn:
            last.warn = True
        if keep:
            last.keep = True
        n._rules[-1] = last
        return n

    # -- schema surgery (reference: lib/base.js:88-103,551-571;
    # lib/modify.js:12-142) -------------------------------------------
    def alter(self, targets: dict[str, "Callable[[Schema], Schema]"]) -> "Schema":
        """Register per-target adjustments applied by :meth:`tailor`
        (reference: lib/base.js:88-103)."""
        n = self.clone()
        alts = dict(n._terms.get("alterations") or {})
        alts.update(targets)
        n._terms["alterations"] = alts
        return n

    def tailor(self, target: str) -> "Schema":
        """Apply the alteration registered for ``target``, recursing
        into object keys (reference: lib/base.js:551-571)."""
        n = self
        alts = self._terms.get("alterations") or {}
        if target in alts:
            n = alts[target](n)
        keys = n._terms.get("keys")
        if keys:
            n = n.clone()
            n._terms["keys"] = {k: s.tailor(target) for k, s in keys.items()}
        return n

    def fork(self, paths, adjuster: "Callable[[Schema], Schema]") -> "Schema":
        """Return a copy with the schema at each dotted ``path`` adjusted
        (reference: lib/base.js:494-506, lib/modify.js:12-142)."""
        if isinstance(paths, str):
            paths = [paths]
        n = self
        for path in paths:
            n = _modify_at(n, path.split("."), adjuster)
        return n

    def extract(self, path: str) -> "Schema":
        """Return the sub-schema at a dotted path
        (reference: lib/base.js:488-492)."""
        node: Schema = self
        for part in path.split("."):
            keys = node._terms.get("keys") or {}
            if part not in keys:
                raise KeyError(f"no schema at path segment {part!r}")
            node = keys[part]
        return node

    # -- preferences (reference: lib/base.js:246-257,283-290) ---------
    def prefs(self, prefs: dict) -> "Schema":
        # reference asserts BEFORE checking the key set
        # (lib/base.js:246-250) — same messages, same order
        for key in ("context", "externals", "warnings"):
            if key in prefs:
                raise ValueError(f"Cannot override {key}")
        from joi_spark import check_preferences
        check_preferences(prefs)   # typo'd keys raise, never no-op
        n = self.clone()
        n._preferences = merge_prefs(n._preferences, prefs)
        return n

    options = prefs
    preferences = prefs

    def strict(self, enabled: bool = True) -> "Schema":
        return self.prefs({"convert": not enabled})

    # -- conditionals (reference: lib/base.js:319-365) -----------------
    def when(self, ref, *, is_=None, then=None, otherwise=None,
             switch=None) -> "Schema":
        """``switch`` is the reference's case-ladder form
        (lib/base.js:344-355): a list of ``{"is": ..., "then": ...}``
        dicts tried first-match-wins; an ``otherwise`` on the LAST
        case (or the top level) catches the rest."""
        if switch is not None:
            if is_ is not None or then is not None:
                raise ValueError(
                    "switch cannot be combined with is/then")
            switch = [dict(c) for c in switch]
        if then is None and otherwise is None and switch is None:
            raise ValueError(
                "At least one of then, otherwise, or switch is required")
        n = self.clone()
        conds = list(n._terms.get("whens") or [])
        conds.append({"ref": ref if isinstance(ref, Ref) else Ref(ref),
                      "is": is_, "then": then, "otherwise": otherwise,
                      "switch": switch})
        n._terms["whens"] = conds
        return n

    # -- composition (reference: lib/base.js:386-481) ------------------
    def concat(self, other: "Schema") -> "Schema":
        """Merge ``other``'s constraints onto a copy of ``self``
        (reference: lib/base.js:386-481): flags, rules (``other``'s
        replaces a non-multi rule of the same name), allowed and invalid
        values, prefs, messages and terms; a key both objects declare
        concatenates its two schemas.  When self is ``any`` and other
        is typed, the result takes other's type."""
        if self.type != "any" and other.type not in ("any", self.type):
            raise TypeError(
                f"cannot concat type {other.type} onto {self.type}")
        n = self.allow(*other._valids.values, *other._valids.refs).invalid(
            *other._invalids.values, *other._invalids.refs)
        if self.type == "any":
            n.__class__ = type(other)
        n._flags.update(other._flags)
        for r in other._rules:
            if r.name not in MULTI_RULES:
                n._rules = [x for x in n._rules if x.name != r.name]
            n._rules.append(r.clone())
        if other._preferences:
            n._preferences = merge_prefs(n._preferences, other._preferences)
        n._messages = _merge_messages(n._messages, other._messages)
        for k, v in other._terms.items():
            cur = n._terms.get(k)
            if isinstance(v, list):
                n._terms[k] = list(cur or []) + list(v)
            elif isinstance(v, dict):
                cur = cur or {}
                n._terms[k] = {**cur, **{
                    key: cur[key].concat(s) if k == "keys" and key in cur
                    else s for key, s in v.items()}}
            else:
                n._terms[k] = v
        return n

    # -- manifest (reference: lib/manifest.js:16-155) -------------------
    def describe(self) -> dict:
        d: dict[str, Any] = {"type": self.type}
        if self._flags:
            d["flags"] = _describe_value(self._flags)
        if self._rules:
            d["rules"] = [r.describe() for r in self._rules]
        if self._valids:
            d["allow"] = self._valids.describe()
        if self._invalids:
            d["invalid"] = self._invalids.describe()
        if self._preferences:
            d["preferences"] = dict(self._preferences)
        if self._messages:
            d["messages"] = dict(self._messages)
        if self._meta:
            d["metas"] = list(self._meta)
        terms = {}
        for k, v in self._terms.items():
            if v or k == "keys":    # keys {} allows no key at all
                terms[k] = _describe_value(v)
        if terms:
            d["terms"] = terms
        return d

    # equality = same description (structural)
    def __eq__(self, other):
        return isinstance(other, Schema) and self.describe() == other.describe()

    def __hash__(self):  # schemas usable as dict keys by identity
        return id(self)

    def __repr__(self):  # pragma: no cover - debug aid
        return f"<joi_spark.{self.type} {self.describe()}>"

    # -- validation entry points (delegate to engine) -------------------
    def validate(self, df, **kw):
        from joi_spark.engine import validate as _validate
        return _validate(df, self, **kw)


def _modify_at(schema: "Schema", parts: list[str], adjuster) -> "Schema":
    """Clone-on-write path modification (reference: lib/modify.js:12-64)."""
    if not parts:
        return adjuster(schema)
    keys = schema._terms.get("keys") or {}
    head = parts[0]
    if head not in keys:
        raise KeyError(f"no schema at path segment {head!r}")
    n = schema.clone()
    new_keys = dict(keys)
    new_keys[head] = _modify_at(keys[head], parts[1:], adjuster)
    n._terms["keys"] = new_keys
    return n
