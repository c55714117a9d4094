"""Concrete scalar schema types: string / number / boolean / date / array.

Each method mirrors one reference rule (file:line cited inline); the rule
is recorded declaratively — the Spark Column predicate is produced by
``joi_spark.compiler``.
"""

from __future__ import annotations

import datetime as _dt
import re
from typing import Any

from joi_spark.dsl.base import Schema
from joi_spark.dsl.ref import Ref


def _limit_arg(limit):
    """Limits may be literals or refs (reference: lib/base.js:845-850)."""
    if not isinstance(limit, (int, float, Ref, _dt.datetime, _dt.date, str)):
        raise TypeError(f"invalid limit {limit!r}")
    return limit


class AnySchema(Schema):
    type = "any"


class StringSchema(Schema):
    """reference: lib/types/string/index.js"""

    type = "string"

    # -- length family (reference: lib/types/string/index.js:510-556) --
    def min(self, limit, encoding: str | None = None):
        return self._add_rule("min", {"limit": _limit_arg(limit), "encoding": encoding})

    def max(self, limit, encoding: str | None = None):
        return self._add_rule("max", {"limit": _limit_arg(limit), "encoding": encoding})

    def length(self, limit, encoding: str | None = None):
        return self._add_rule("length", {"limit": _limit_arg(limit), "encoding": encoding})

    # -- pattern family (reference: lib/types/string/index.js:576-604) --
    def pattern(self, regex: str | re.Pattern, name: str | None = None, *,
                invert: bool = False):
        if isinstance(regex, re.Pattern):
            regex = regex.pattern
        return self._add_rule("pattern", {"regex": regex, "name": name,
                                          "invert": invert})

    regex = pattern

    def alphanum(self):
        # reference: lib/types/string/index.js:154-167
        return self._add_rule("alphanum")

    def token(self):
        # reference: lib/types/string/index.js:627-640
        return self._add_rule("token")

    # -- case / whitespace (coercing in convert mode) -------------------
    def case(self, direction: str):
        # reference: lib/types/string/index.js:191-209
        if direction not in ("upper", "lower"):
            raise ValueError("direction must be 'upper' or 'lower'")
        return self._add_rule("case", {"direction": direction})

    def lowercase(self):
        return self.case("lower")

    def uppercase(self):
        return self.case("upper")

    def trim(self, enabled: bool = True):
        # reference: lib/types/string/index.js:642-660
        return self._add_rule("trim", {"enabled": enabled})

    def normalize(self, form: str = "NFC"):
        # reference: lib/types/string/index.js:558-574
        if form not in ("NFC", "NFD", "NFKC", "NFKD"):
            raise ValueError(f"invalid normalization form {form!r}")
        return self._add_rule("normalize", {"form": form})

    def replace(self, pattern: str | re.Pattern, replacement: str):
        # coerce-only substitution (reference: lib/types/string/index.js:606-625)
        if isinstance(pattern, re.Pattern):
            pattern = pattern.pattern
        return self._add_rule("replace", {"pattern": pattern,
                                          "replacement": replacement})

    def truncate(self, enabled: bool = True):
        # reference: lib/types/string/index.js:662-669
        return self._set_flag("truncate", enabled or None)

    # -- format family ---------------------------------------------------
    def base64(self, *, padding_required: bool = True, url_safe: bool = False):
        # reference: lib/types/string/index.js:169-189
        return self._add_rule("base64", {"paddingRequired": padding_required,
                                         "urlSafe": url_safe})

    def data_uri(self, *, padding_required: bool = True):
        # reference: lib/types/string/index.js:238-269
        return self._add_rule("dataUri", {"paddingRequired": padding_required})

    dataUri = data_uri

    def hex(self, *, byte_aligned: bool = False):
        # reference: lib/types/string/index.js:368-392
        return self._add_rule("hex", {"byteAligned": byte_aligned})

    def email(self, **options):
        # reference: lib/types/string/index.js:291-318
        return self._add_rule("email", {"options": options})

    def domain(self, **options):
        # reference: lib/types/string/index.js:271-289
        return self._add_rule("domain", {"options": options})

    def hostname(self):
        # reference: lib/types/string/index.js:394-409
        return self._add_rule("hostname")

    def ip(self, *, version: list[str] | str | None = None,
           cidr: str = "optional"):
        # reference: lib/types/string/index.js:418-477
        if isinstance(version, str):
            version = [version]
        return self._add_rule("ip", {"version": version, "cidr": cidr})

    def uri(self, *, scheme=None, allow_relative: bool = False,
            relative_only: bool = False,
            allow_query_square_brackets: bool = False, domain: dict | None = None):
        # reference: lib/types/string/index.js:678-721
        return self._add_rule("uri", {
            "scheme": scheme, "allowRelative": allow_relative,
            "relativeOnly": relative_only,
            "allowQuerySquareBrackets": allow_query_square_brackets,
            "domain": domain})

    def guid(self, *, version: list[str] | str | None = None):
        # reference: lib/types/string/index.js:320-366
        if isinstance(version, str):
            version = [version]
        return self._add_rule("guid", {"version": version})

    uuid = guid

    def credit_card(self):
        # Luhn checksum (reference: lib/types/string/index.js:211-236)
        return self._add_rule("creditCard")

    creditCard = credit_card

    def iso_date(self):
        # reference: lib/types/string/index.js:479-493
        return self._add_rule("isoDate")

    isoDate = iso_date

    def iso_duration(self):
        # reference: lib/types/string/index.js:495-508
        return self._add_rule("isoDuration")

    isoDuration = iso_duration


class NumberSchema(Schema):
    """reference: lib/types/number.js"""

    type = "number"

    def min(self, limit):
        # reference: lib/types/number.js:144-149
        return self._add_rule("min", {"limit": _limit_arg(limit)})

    def max(self, limit):
        # reference: lib/types/number.js:151-156
        return self._add_rule("max", {"limit": _limit_arg(limit)})

    def greater(self, limit):
        # reference: lib/types/number.js:122-127
        return self._add_rule("greater", {"limit": _limit_arg(limit)})

    def less(self, limit):
        # reference: lib/types/number.js:136-142
        return self._add_rule("less", {"limit": _limit_arg(limit)})

    def integer(self):
        # reference: lib/types/number.js:129-142
        return self._add_rule("integer")

    def multiple(self, base):
        # reference: lib/types/number.js:165-187
        return self._add_rule("multiple", {"base": _limit_arg(base)})

    def port(self):
        # reference: lib/types/number.js:196-212
        return self._add_rule("port")

    def positive(self):
        # reference: lib/types/number.js:241-244
        return self.sign("positive")

    def negative(self):
        # reference: lib/types/number.js:214-219
        return self.sign("negative")

    def sign(self, sign: str):
        # reference: lib/types/number.js:246-258
        if sign not in ("positive", "negative"):
            raise ValueError("sign must be 'positive' or 'negative'")
        return self._add_rule("sign", {"sign": sign})

    def precision(self, limit: int):
        # reference: lib/types/number.js:221-239 (convert mode rounds)
        return self._add_rule("precision", {"limit": int(limit)})

    def unsafe(self, enabled: bool = True):
        # reference: lib/types/number.js:260-267
        return self._set_flag("unsafe", enabled or None)


class BooleanSchema(Schema):
    """reference: lib/types/boolean.js"""

    type = "boolean"

    def truthy(self, *values):
        # reference: lib/types/boolean.js:65-80
        n = self.clone()
        n._terms["truthy"] = list(n._terms.get("truthy") or []) + list(values)
        return n

    def falsy(self, *values):
        # reference: lib/types/boolean.js:82-97
        n = self.clone()
        n._terms["falsy"] = list(n._terms.get("falsy") or []) + list(values)
        return n

    def sensitive(self, enabled: bool = True):
        # reference: lib/types/boolean.js — 'true'/'false', truthy and
        # falsy strings match case-sensitively
        return self._set_flag("sensitive", enabled or None)


class DateSchema(Schema):
    """reference: lib/types/date.js"""

    type = "date"

    def min(self, limit):
        # reference: lib/types/date.js:90-95
        return self._add_rule("min", {"date": limit})

    def max(self, limit):
        # reference: lib/types/date.js:97-102 (sic — max at 83-88)
        return self._add_rule("max", {"date": limit})

    def greater(self, limit):
        # reference: lib/types/date.js:56-61
        return self._add_rule("greater", {"date": limit})

    def less(self, limit):
        # reference: lib/types/date.js:70-75
        return self._add_rule("less", {"date": limit})

    def format(self, format: str):
        # reference: lib/types/date.js:81-88 — ONLY iso/javascript/unix
        # (the reference asserts the same closed set; there is no
        # arbitrary-format support to mirror)
        if format not in ("iso", "javascript", "unix"):
            raise ValueError(f"Unknown date format {format}")
        return self._set_flag("format", format)

    def iso(self):
        # reference: lib/types/date.js:98-102
        return self.format("iso")

    def timestamp(self, type_: str = "javascript"):
        # reference: lib/types/date.js:125-132
        if type_ not in ("javascript", "unix"):
            raise ValueError("type must be 'javascript' or 'unix'")
        return self.format(type_)


class ArraySchema(Schema):
    """reference: lib/types/array.js — for ``ArrayType`` columns."""

    type = "array"

    def items(self, *schemas):
        # reference: lib/types/array.js:119-352
        n = self.clone()
        n._terms["items"] = list(n._terms.get("items") or []) + list(schemas)
        return n

    def min(self, limit):
        # reference: lib/types/array.js:361-366
        return self._add_rule("min", {"limit": _limit_arg(limit)})

    def max(self, limit):
        # reference: lib/types/array.js:354-359
        return self._add_rule("max", {"limit": _limit_arg(limit)})

    def length(self, limit):
        # reference: lib/types/array.js:368-373
        return self._add_rule("length", {"limit": _limit_arg(limit)})

    def unique(self, comparator=None, *, ignore_undefined: bool = False,
               separator: str = "."):
        """reference: lib/types/array.js:468-558.  ``comparator`` is a
        dotted path string (struct-field uniqueness) or a callable
        ``(a, b) -> boolean Column`` (True = duplicates) — the Spark
        analogue of the reference's custom comparator function."""
        args: dict = {"ignoreUndefined": ignore_undefined}
        if isinstance(comparator, str):
            args["path"] = comparator.split(separator) if separator \
                else [comparator]
        elif callable(comparator):
            args["comparator"] = comparator
        elif comparator is not None:
            raise TypeError("comparator must be a function or a string")
        return self._add_rule("unique", args)

    def sort(self, *, order: str = "ascending",
             by: str | None = None, separator: str = "."):
        # reference: lib/types/array.js:420-452 (by: 740-813)
        if order not in ("ascending", "descending"):
            raise ValueError("order must be 'ascending' or 'descending'")
        args: dict = {"order": order}
        if by is not None:
            args["by"] = by.split(separator) if separator else [by]
        return self._add_rule("sort", args)

    def sparse(self, enabled: bool = True):
        # reference: lib/types/array.js:454-466 — no null holes
        return self._set_flag("sparse", enabled)

    def has(self, schema):
        # reference: lib/types/array.js:91-117
        return self._add_rule("has", {"schema": schema})

    def single(self, enabled: bool = True):
        # reference: lib/types/array.js:410-418
        return self._set_flag("single", enabled or None)

    def ordered(self, *schemas):
        # reference: lib/types/array.js:391-408 — element i matches schema i
        n = self.clone()
        n._terms["ordered"] = list(n._terms.get("ordered") or []) + list(schemas)
        return n


class BinarySchema(Schema):
    """reference: lib/types/binary.js — BinaryType columns."""

    type = "binary"

    def encoding(self, encoding: str):
        # reference: lib/types/binary.js:41-47 (Buffer encodings; the
        # table-relevant subset)
        if encoding not in ("utf8", "base64", "hex"):
            raise ValueError(f"Invalid encoding: {encoding}")
        return self._set_flag("encoding", encoding)

    def min(self, limit):
        # reference: lib/types/binary.js:58-63
        return self._add_rule("min", {"limit": _limit_arg(limit)})

    def max(self, limit):
        # reference: lib/types/binary.js:51-56
        return self._add_rule("max", {"limit": _limit_arg(limit)})

    def length(self, limit):
        # reference: lib/types/binary.js:65-70
        return self._add_rule("length", {"limit": _limit_arg(limit)})
