"""Dynamic-value templates — the reference's ``Joi.x()`` / ``Joi.
expression`` (reference: lib/template.js:26-227): a string with
``{...}`` parts that resolves against the ROW at validation time.

Two part kinds, mirroring the reference's parse (lib/template.js:42-97):
- ``{name}`` / ``{{name}}`` — a sibling-column reference, spliced in;
- ``{a + b}`` — a formula over sibling columns (the @hapi/formula
  subset: + - * / parens, numeric literals, template constants),
  compiled to plain Column arithmetic — JVM-evaluated per row.

Used anywhere a dynamic value is accepted: ``default(joi.x(...))``,
``failover(joi.x(...))``.  ``$name`` resolves from the validation
context like :class:`joi_spark.dsl.ref.Ref`.
"""

from __future__ import annotations

import ast
import operator
import re
from typing import Any, Callable

CONSTANTS = {
    # reference: lib/template.js internals.constants
    "true": True, "false": False, "null": None,
    "second": 1000, "minute": 60 * 1000, "hour": 60 * 60 * 1000,
    "day": 24 * 60 * 60 * 1000,
}


class Template:
    """A parsed dynamic-value template.  ``compile_column(ctx)``
    produces the Spark Column (ctx is the compiler's _Ctx: resolves
    sibling conversions + context variables)."""

    __slots__ = ("source",)

    def __init__(self, source: str):
        if not isinstance(source, str):
            raise TypeError("Template source must be a string")
        self.source = source

    def describe(self) -> dict:
        return {"template": self.source}

    def __eq__(self, other):
        return isinstance(other, Template) and self.source == other.source

    def __hash__(self):
        return hash(self.source)

    def __repr__(self):  # pragma: no cover
        return f"joi.x({self.source!r})"

    # -- compilation ---------------------------------------------------
    def compile_column(self, ctx):
        from pyspark.sql import functions as F

        parts = re.split(r"(\{\{?[^{}]+\}?\})", self.source)
        cols = []
        for part in parts:
            if not part:
                continue
            m = re.fullmatch(r"\{\{?([^{}]+?)\}?\}", part)
            if m is None:
                cols.append(F.lit(part))
                continue
            cols.append(_formula_column(m.group(1).strip(), ctx))
        if not cols:
            return F.lit("")
        if len(cols) == 1:
            return cols[0]
        # mixed text + expressions render as a string
        return F.concat(*[c.cast("string") for c in cols])


def _formula_column(expr: str, ctx):
    """One ``{...}`` body → Column: constants and numbers are literals,
    ``$name`` a context value, any other (dotted) name a sibling ref."""
    from pyspark.sql import functions as F
    from joi_spark.dsl.ref import Ref

    def leaf(name: str):
        if name.startswith("__ctx_"):
            return ctx.resolve(Ref("$" + name[len("__ctx_"):]))
        if name in CONSTANTS:
            return F.lit(CONSTANTS[name])
        return ctx.resolve(Ref(name))

    # '$name' context prefix is not a python identifier
    return evaluate(re.sub(r"\$(\w+)", r"__ctx_\1", expr), leaf, F.lit)


_OPS = {ast.Add: operator.add, ast.Sub: operator.sub,
        ast.Mult: operator.mul, ast.Div: operator.truediv}


def evaluate(expr: str, leaf: Callable[[str], Any],
             lit: Callable[[Any], Any] = lambda v: v):
    """The formula walker of templates and messages (the @hapi/formula
    subset, reference: lib/template.js:348-375): ``+ - * /``, unary
    minus, parentheses, numeric literals and (dotted) names.  ``leaf``
    resolves a name and ``lit`` wraps a number, so one walk gives a
    Python value for a message or a Column for ``joi.x``."""
    def ev(n):
        if isinstance(n, ast.BinOp) and type(n.op) in _OPS:
            return _OPS[type(n.op)](ev(n.left), ev(n.right))
        if isinstance(n, ast.UnaryOp) and isinstance(n.op, ast.USub):
            return -ev(n.operand)
        if isinstance(n, ast.Constant) and isinstance(n.value, (int, float)):
            return lit(n.value)
        path = []
        while isinstance(n, ast.Attribute):
            path.append(n.attr)
            n = n.value
        if isinstance(n, ast.Name):
            return leaf(".".join([n.id, *reversed(path)]))
        raise ValueError(f"unsupported template expression: {expr!r}")

    return ev(ast.parse(expr, mode="eval").body)


def x(source: str) -> Template:
    """``joi.x('{a + b}')`` — reference: Joi.x / Joi.expression."""
    return Template(source)
