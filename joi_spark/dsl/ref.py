"""References into sibling columns / global context.

Models the reference's ``Joi.ref(key)`` (reference: lib/ref.js:22-72).
A value ref resolves against the object that holds the key being
validated (reference: lib/ref.js:276-296) — the table for a column, the
struct for a struct field — and sees the converted value:
- ``ref('b')``    → the sibling ``b`` (a column, or a field of the same struct);
- ``ref('a.b')``  → field ``b`` of the sibling ``a``;
- ``ref('...b')`` → ``b`` of the grandparent (each extra dot climbs one
  object); ``ref('/b')`` → ``b`` of the root, the table;
- ``ref('$name')`` → global context → compiles to ``F.lit(context[name])``.
A ref to a key no value has resolves to null, as a missing key is
undefined in the reference.
"""

from __future__ import annotations


class Ref:
    __slots__ = ("key", "kind", "ancestor", "path", "adjust", "map")

    def __init__(self, key: str, *, adjust=None, map=None):
        # adjust: Callable[[Column], Column] applied to the resolved
        # value; map: list of (from, to) pairs compiled to a when-chain
        # (reference: lib/ref.js:22-72 — adjust/map are mutually
        # exclusive)
        if adjust is not None and map is not None:
            raise ValueError("Cannot set both map and adjust options")
        if adjust is not None and not callable(adjust):
            raise TypeError("options.adjust must be a function")
        self.adjust = adjust
        self.map = [tuple(p) for p in map] if map is not None else None
        raw = key
        if key.startswith("$"):
            self.kind = "global"
            key = key[1:]
            self.ancestor = None
        elif key.startswith("#"):
            self.kind = "local"
            key = key[1:]
            self.ancestor = None
        elif key.startswith("/"):
            self.kind = "value"
            key = key[1:]
            self.ancestor = "root"
        else:
            self.kind = "value"
            n = 0
            while n < len(key) and key[n] == ".":
                n += 1
            # '.a' = self-relative, '..a' = parent (default), etc.
            # (reference: lib/ref.js:276-296)
            self.ancestor = max(n - 1, 0) if n else 1
            key = key[n:]
        self.key = key
        self.path = key.split(".") if key else []
        if not key and raw not in (".",):
            raise ValueError(f"invalid reference key: {raw!r}")

    @property
    def display(self) -> str:
        """How the reference renders inside messages
        (reference: lib/ref.js:163-176 toString → 'ref:key')."""
        prefix = {"global": "global:", "local": "local:", "value": "ref:"}[self.kind]
        return f"{prefix}{self.key}"

    def apply(self, col):
        """Post-resolution transform: map → when-chain, adjust →
        caller-supplied Column function (reference: lib/ref.js:150-161
        resolve applies adjust/map to the reached value)."""
        if self.map is not None:
            from pyspark.sql import functions as F
            out = None
            for frm, to in self.map:
                cond = col.eqNullSafe(F.lit(frm))
                out = F.when(cond, F.lit(to)) if out is None \
                    else out.when(cond, F.lit(to))
            return out.otherwise(col) if out is not None else col
        if self.adjust is not None:
            return self.adjust(col)
        return col

    def describe(self) -> dict:
        d: dict = {"ref": {"path": self.path}}
        if self.kind != "value":
            d["ref"]["type"] = self.kind
        if self.map is not None:
            d["ref"]["map"] = [list(p) for p in self.map]
        if self.adjust is not None:
            d["ref"]["adjust"] = {"special": "callback",
                                  "name": getattr(self.adjust, "__qualname__",
                                                  repr(self.adjust))}
        return d

    def __eq__(self, other):
        return (isinstance(other, Ref) and self.key == other.key
                and self.kind == other.kind and self.map == other.map
                and self.adjust is other.adjust)

    def __hash__(self):
        return hash((self.kind, self.key))

    def __repr__(self):  # pragma: no cover
        return f"ref({self.display!r})"


def ref(key: str, *, adjust=None, map=None) -> Ref:
    return Ref(key, adjust=adjust, map=map)


def is_ref(v) -> bool:
    return isinstance(v, Ref)
