"""Error codes, message templates, and template → Column rendering.

Templates restated from the reference's per-type message tables (cited
per block below); they are the byte-for-byte output contract — tests
compare rendered messages against golden cases hand-ported from the
reference's own unit suites (tests/test_reference_goldens.py; inputs
and expected message strings transcribed from test/types/*.js, which
assert the exact message text inline).  Machine-harvesting by running
the reference is not possible in this environment: its npm
dependencies (@hapi/hoek, @hapi/address, ...) are not installed and
there is no network access.

Rendering strategy: the template placeholders that depend only on the
schema ({{#label}}, {{#limit}}, {{#valids}}, …) are interpolated
driver-side into plain strings, so most messages compile to ``F.lit``.
Only value-dependent placeholders ({[.]} — the raw value, used by
string.pattern.*) become ``F.concat`` column expressions, and those are
evaluated on violation rows only (reference renders lazily too:
lib/errors.js:60-78).
"""

from __future__ import annotations

import datetime as _dt
from typing import Any

from pyspark.sql import Column
from pyspark.sql import functions as F

from joi_spark.dsl.ref import Ref
from joi_spark.dsl.template import CONSTANTS, evaluate

# --- message tables ----------------------------------------------------

# reference: lib/types/any.js:38-45
ANY_MESSAGES = {
    "any.default": '"{{#label}}" threw an error when running default method',
    "any.failover": '"{{#label}}" threw an error when running failover method',
    "any.invalid": '"{{#label}}" contains an invalid value',
    "any.only": '"{{#label}}" must be one of {{#valids}}',
    "any.ref": '"{{#label}}" {{#arg}} references "{{#ref}}" which {{#reason}}',
    "any.required": '"{{#label}}" is required',
    "any.unknown": '"{{#label}}" is not allowed',
}

# reference: lib/types/string/index.js:737-769
STRING_MESSAGES = {
    "string.alphanum": '"{{#label}}" must only contain alpha-numeric characters',
    "string.base": '"{{#label}}" must be a string',
    "string.base64": '"{{#label}}" must be a valid base64 string',
    "string.creditCard": '"{{#label}}" must be a credit card',
    "string.dataUri": '"{{#label}}" must be a valid dataUri string',
    "string.domain": '"{{#label}}" must contain a valid domain name',
    "string.email": '"{{#label}}" must be a valid email',
    "string.empty": '"{{#label}}" is not allowed to be empty',
    "string.guid": '"{{#label}}" must be a valid GUID',
    "string.hex": '"{{#label}}" must only contain hexadecimal characters',
    "string.hexAlign": '"{{#label}}" hex decoded representation must be byte aligned',
    "string.hostname": '"{{#label}}" must be a valid hostname',
    "string.ip": '"{{#label}}" must be a valid ip address with a {{#cidr}} CIDR',
    "string.ipVersion": '"{{#label}}" must be a valid ip address of one of the following versions {{#version}} with a {{#cidr}} CIDR',
    "string.isoDate": '"{{#label}}" must be a valid ISO 8601 date',
    "string.isoDuration": '"{{#label}}" must be a valid ISO 8601 duration',
    "string.length": '"{{#label}}" length must be {{#limit}} characters long',
    "string.lowercase": '"{{#label}}" must only contain lowercase characters',
    "string.max": '"{{#label}}" length must be less than or equal to {{#limit}} characters long',
    "string.min": '"{{#label}}" length must be at least {{#limit}} characters long',
    "string.normalize": '"{{#label}}" must be unicode normalized in the {{#form}} form',
    "string.token": '"{{#label}}" must only contain alpha-numeric and underscore characters',
    "string.pattern.base": '"{{#label}}" with value "{[.]}" fails to match the required pattern: {{#regex}}',
    "string.pattern.name": '"{{#label}}" with value "{[.]}" fails to match the {{#name}} pattern',
    "string.pattern.invert.base": '"{{#label}}" with value "{[.]}" matches the inverted pattern: {{#regex}}',
    "string.pattern.invert.name": '"{{#label}}" with value "{[.]}" matches the inverted {{#name}} pattern',
    "string.trim": '"{{#label}}" must not have leading or trailing whitespace',
    "string.uri": '"{{#label}}" must be a valid uri',
    "string.uriCustomScheme": '"{{#label}}" must be a valid uri with a scheme matching the {{#scheme}} pattern',
    "string.uriRelativeOnly": '"{{#label}}" must be a valid relative uri',
    "string.uppercase": '"{{#label}}" must only contain uppercase characters',
}

# reference: lib/types/number.js:284-297
NUMBER_MESSAGES = {
    "number.base": '"{{#label}}" must be a number',
    "number.greater": '"{{#label}}" must be greater than {{#limit}}',
    "number.infinity": '"{{#label}}" cannot be infinity',
    "number.integer": '"{{#label}}" must be an integer',
    "number.less": '"{{#label}}" must be less than {{#limit}}',
    "number.max": '"{{#label}}" must be less than or equal to {{#limit}}',
    "number.min": '"{{#label}}" must be larger than or equal to {{#limit}}',
    "number.multiple": '"{{#label}}" must be a multiple of {{#multiple}}',
    "number.negative": '"{{#label}}" must be a negative number',
    "number.port": '"{{#label}}" must be a valid port',
    "number.positive": '"{{#label}}" must be a positive number',
    "number.precision": '"{{#label}}" must have no more than {{#limit}} decimal places',
    "number.unsafe": '"{{#label}}" must be a safe number',
}

# reference: lib/types/boolean.js:143-145
BOOLEAN_MESSAGES = {
    "boolean.base": '"{{#label}}" must be a boolean',
}

# reference: lib/types/date.js:156-166
DATE_MESSAGES = {
    "date.base": '"{{#label}}" must be a number of milliseconds or valid date string',
    "date.greater": '"{{#label}}" must be greater than "{{#limit}}"',
    "date.isoDate": '"{{#label}}" must be a valid ISO 8601 date',
    "date.less": '"{{#label}}" must be less than "{{#limit}}"',
    "date.max": '"{{#label}}" must be less than or equal to "{{#limit}}"',
    "date.min": '"{{#label}}" must be larger than or equal to "{{#limit}}"',
    "date.strict": '"{{#label}}" must be a valid date',
    "date.timestamp.javascript": '"{{#label}}" must be a valid timestamp or number of milliseconds',
    "date.timestamp.unix": '"{{#label}}" must be a valid timestamp or number of seconds',
}

# reference: lib/types/object.js:629-648
OBJECT_MESSAGES = {
    "object.and": '"{{#label}}" contains {{#presentWithLabels}} without its required peers {{#missingWithLabels}}',
    "object.assert": '"{{#label}}" is invalid because "{{#ref}}" failed to {{#message}}',
    "object.base": '"{{#label}}" must be of type {{#type}}',
    "object.length": '"{{#label}}" must have {{#limit}} keys',
    "object.max": '"{{#label}}" must have less than or equal to {{#limit}} keys',
    "object.min": '"{{#label}}" must have at least {{#limit}} keys',
    "object.missing": '"{{#label}}" must contain at least one of {{#peersWithLabels}}',
    "object.nand": '"{{#mainWithLabel}}" must not exist simultaneously with {{#peersWithLabels}}',
    "object.oxor": '"{{#label}}" contains a conflict between optional exclusive peers {{#peersWithLabels}}',
    "object.pattern.match": '"{{#label}}" keys failed to match pattern requirements',
    "object.unknown": '"{{#label}}" is not allowed',
    "object.with": '"{{#mainWithLabel}}" missing required peer "{{#peerWithLabel}}"',
    "object.without": '"{{#mainWithLabel}}" conflict with forbidden peer "{{#peerWithLabel}}"',
    "object.xor": '"{{#label}}" contains a conflict between exclusive peers {{#peersWithLabels}}',
    "object.rename.multiple": '"{{#label}}" cannot rename "{{#from}}" because multiple renames are disabled and another key was already renamed to "{{#to}}"',
    "object.rename.override": '"{{#label}}" cannot rename "{{#from}}" because override is disabled and target "{{#to}}" exists',
}

# reference: lib/types/array.js:650-667 (subset applicable to columns /
# conversation-as-array realizations)
ARRAY_MESSAGES = {
    "array.base": '"{{#label}}" must be an array',
    "array.excludes": '"{{#label}}" contains an excluded value',
    "array.hasKnown": '"{{#label}}" does not contain at least one required match for type "{#patternLabel}"',
    "array.hasUnknown": '"{{#label}}" does not contain at least one required match',
    "array.includes": '"{{#label}}" does not match any of the allowed types',
    "array.includesRequiredBoth": '"{{#label}}" does not contain {{#knownMisses}} and {{#unknownMisses}} other required value(s)',
    "array.includesRequiredKnowns": '"{{#label}}" does not contain {{#knownMisses}}',
    "array.includesRequiredUnknowns": '"{{#label}}" does not contain {{#unknownMisses}} required value(s)',
    "array.length": '"{{#label}}" must contain {{#limit}} items',
    "array.max": '"{{#label}}" must contain less than or equal to {{#limit}} items',
    "array.orderedLength": '"{{#label}}" must contain at most {{#limit}} items',
    "array.min": '"{{#label}}" must contain at least {{#limit}} items',
    "array.sort": '"{{#label}}" must be sorted in {#order} order by {{#by}}',
    "array.sparse": '"{{#label}}" must not be a sparse array item',
    "array.unique": '"{{#label}}" contains a duplicate value',
}

# reference: lib/types/binary.js:94-100
BINARY_MESSAGES = {
    "binary.base": '"{{#label}}" must be a buffer or a string',
    "binary.length": '"{{#label}}" must be {{#limit}} bytes',
    "binary.max": '"{{#label}}" must be less than or equal to {{#limit}} bytes',
    "binary.min": '"{{#label}}" must be at least {{#limit}} bytes',
}

# reference: lib/types/alternatives.js:309-312
ALTERNATIVES_MESSAGES = {
    "alternatives.match": '"{{#label}}" does not match any of the allowed types',
    "alternatives.base": '"{{#label}}" does not match any of the allowed types',
    "alternatives.types": '"{{#label}}" must be one of {{#types}}',
}

# plugin / external surface (engine codes; reference analogues:
# any.custom in later Joi versions, external errors lib/validator.js:75-86)
PLUGIN_MESSAGES = {
    "any.custom": '"{{#label}}" failed custom validation',
    "external.check": '"{{#label}}" failed external validation',
}

# engine-added dataset-level checks (no reference equivalent — north_rule
# additions; codes namespaced 'dataset.*')
DATASET_MESSAGES = {
    "dataset.unique": '"{{#label}}" contains a duplicate value',  # same text as array.unique
    "dataset.sort": '"{{#label}}" must be sorted in {#order} order by {{#by}}',
    "dataset.sparse": '"{{#label}}" must not be a sparse array item',
    "dataset.link": '"{{#label}}" contains an invalid value',  # unresolved FK ≙ any.invalid
    "dataset.head": '"{{#label}}" contains an invalid value',  # orphan conversation
}

MESSAGES: dict[str, str] = {
    **ANY_MESSAGES, **STRING_MESSAGES, **NUMBER_MESSAGES, **BOOLEAN_MESSAGES,
    **DATE_MESSAGES, **OBJECT_MESSAGES, **ARRAY_MESSAGES, **BINARY_MESSAGES,
    **ALTERNATIVES_MESSAGES, **PLUGIN_MESSAGES, **DATASET_MESSAGES,
}


def register_messages(overrides: dict[str, str]) -> None:
    """Extension hook: register message templates for custom rule codes
    (reference: lib/extend.js messages merge, lib/extend.js:60-75)."""
    MESSAGES.update(overrides)


# --- stringification (reference: lib/template.js:285-331) ---------------

def stringify(value: Any, wrap_arrays: bool = True) -> str:
    if value is None:
        return "null"
    if isinstance(value, bool):
        return "true" if value else "false"
    if isinstance(value, str):
        return value
    if isinstance(value, float) and value.is_integer():
        return str(int(value))
    if isinstance(value, (int, float)):
        return repr(value)
    if isinstance(value, _dt.datetime):
        # reference: Template.date → Date.toISOString()
        return value.strftime("%Y-%m-%dT%H:%M:%S.") + f"{value.microsecond // 1000:03d}Z"
    if isinstance(value, Ref):
        return value.display
    if isinstance(value, (list, tuple)):
        partial = ", ".join(stringify(v, wrap_arrays) for v in value)
        return f"[{partial}]" if wrap_arrays else partial
    return str(value)


# --- rendering -----------------------------------------------------------

# Error rendering reads the merged validation prefs of one compile
# (``CompiledPlan.prefs``; with none, the reference's defaults,
# lib/common.js:27-32):
# - errors.language: messages()[lang][code] wins over flat
#   messages()[code] (lib/errors.js:121-135);
# - errors.wrap_arrays: array values stringify with/without [ ]
#   (lib/template.js:331);
# - errors.escape_html: single-brace (non-raw) substitutions HTML-escape
#   (lib/template.js:185; double-brace is the raw form);
# - messages: a message table over the schema's messages().

def _lang_lookup(table: dict | None, code: str, lang: str | None
                 ) -> str | None:
    if not table:
        return None
    if lang:
        sub = table.get(lang)
        if isinstance(sub, dict) and code in sub:
            return sub[code]
    v = table.get(code)
    return v if isinstance(v, str) else None


def _escape_html(s: str) -> str:
    # Hoek.escapeHtml's unsafe set incl. quote/backtick (so values
    # spliced into single-quoted attribute contexts stay inert)
    return (s.replace("&", "&amp;").replace("<", "&lt;")
             .replace(">", "&gt;").replace('"', "&quot;")
             .replace("'", "&#x27;").replace("`", "&#x60;"))


def _override(overrides: dict | None, code: str, prefs: dict | None
              ) -> str | None:
    """Language-aware override lookup — the table analogue of the
    reference's Report.toString precedence (lib/errors.js:68-70):
    prefs.messages beats the schema's messages() table (both beat
    the built-ins; rule-level message() bypasses this entirely and
    keeps top precedence)."""
    if overrides:
        rule_tmpl = overrides.get(("rule", code))
        if isinstance(rule_tmpl, str):
            return rule_tmpl
    prefs = prefs or {}
    lang = (prefs.get("errors") or {}).get("language")
    return (_lang_lookup(prefs.get("messages"), code, lang)
            or _lang_lookup(overrides, code, lang))


def render_static(code: str, ctx: dict[str, Any], *,
                  overrides: dict[str, str] | None = None,
                  prefs: dict | None = None) -> str | None:
    """Render a template whose placeholders are all schema-side.

    Returns None if the template needs the row value ({[.]}) — use
    :func:`render_column` for those.
    """
    template = _override(overrides, code, prefs) or MESSAGES[code]
    if "{[.]}" in template:
        return None
    return _interpolate(template, ctx, prefs)


def _interpolate(template: str, ctx: dict[str, Any],
                 prefs: dict | None) -> str:
    # The brace form controls ONLY html-escaping (reference:
    # template.js:68 raw = part[0] !== '{'; :185 Hoek.escapeHtml on
    # non-raw parts); array wrapping is governed by the errors.
    # wrapArrays preference for EVERY dynamic part, raw or not —
    # errors.js:76 passes prefs.errors as the options that
    # template.js:331 wraps on.  ONE combined pass over the pristine
    # template — substituted values are never rescanned, so runtime
    # strings (labels, valids, rename from/to) containing {...}
    # cannot be evaluated as formulas (round-2 advice).
    import re as _re
    err = (prefs or {}).get("errors") or {}
    wrap_pref = err.get("wrap_arrays", True)
    esc = _escape_html if err.get("escape_html") else (lambda s: s)

    def repl(m):
        if m.group(1) is not None:
            # double-brace: NON-raw — the form escapeHtml applies to
            return esc(stringify(ctx.get(m.group(1), ""),
                                 wrap_arrays=wrap_pref))
        if m.group(2) is not None:          # single-brace: raw
            return stringify(ctx.get(m.group(2), ""),
                             wrap_arrays=wrap_pref)
        try:
            # single-brace formula: raw, like any {x} part
            # '#name' context-variable prefix is not a python
            # identifier, and context keys carry no '#'
            value = evaluate(m.group(3).replace("#", ""),
                             lambda k: ctx[k] if k in ctx else CONSTANTS[k])
            return stringify(value, wrap_arrays=wrap_pref)
        except Exception:
            return m.group(0)   # non-evaluable braces pass through
    return _re.sub(
        r"\{\{#([\w.]+)\}\}|\{#([\w.]+)\}|\{([^{}]+)\}", repl, template)


def render_column(code: str, ctx: dict[str, Any], value_col: Column, *,
                  overrides: dict[str, str] | None = None,
                  prefs: dict | None = None) -> Column:
    """Render to a Column; value placeholder {[.]} splices the row value."""
    template = _override(overrides, code, prefs) or MESSAGES[code]
    static = render_static(code, ctx, overrides=overrides, prefs=prefs)
    if static is not None:
        return F.lit(static)
    parts = template.split("{[.]}")
    cols: list[Column] = []
    for i, part in enumerate(parts):
        if i:
            # {[.]} is a SINGLE-brace form → raw: never HTML-escaped,
            # even with escape_html on (reference: template.js:167,185
            # — only non-raw double-brace parts pass Hoek.escapeHtml)
            cols.append(F.coalesce(value_col.cast("string"),
                                   F.lit("null")))
        if part:
            cols.append(F.lit(_interpolate(part, ctx, prefs)))
    return F.concat(*cols)
