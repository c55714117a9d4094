"""Rule regexes in the Java dialect (used via ``Column.rlike``).

Each constant reproduces the semantics of a reference rule regex
(file:line cited per constant) rebuilt here from the public grammar it
encodes (RFC 3986 for uri/ip atoms, RFC 1123 hostnames, RFC 4648
base64, ISO 8601 dates/durations, RFC 4122 UUIDs).  JS→Java dialect
notes: Java regex supports the lookarounds and backreferences these
patterns use; ``\\w``/``\\d`` are ASCII in both; the only translation
needed is dropping JS ``/.../i`` flags in favor of inline ``(?i)``.
"""

from __future__ import annotations

# --- simple character-class rules ------------------------------------
# reference: lib/types/string/index.js:154-167, 627-640
ALPHANUM = r"^[a-zA-Z0-9]+$"
TOKEN = r"^\w+$"

# reference: lib/types/string/index.js:34 (hexRegex, case-insensitive)
HEX = r"(?i)^[a-f0-9]+$"

# numeric strings the number coerce parses — reference:
# lib/types/number.js:28-63 (numberRx, case-insensitive); group 1 is
# the number without JavaScript's \s, Unicode spaces included.  Java
# and RE2 (the DuckDB oracle) read it alike: code points as \x{...},
# and \z, as Java's $ also matches before a final line terminator.
_S = r"[\t\n\x0B\f\r \x{A0}\x{1680}\x{2000}-\x{200A}\x{2028}\x{2029}\x{202F}\x{205F}\x{3000}\x{FEFF}]"
NUMBER = rf"(?i)^{_S}*([+-]?(?:\d+(?:\.\d*)?|\.\d+)(?:e[+-]?\d+)?){_S}*\z"

# base64 variants keyed (padding_required, url_safe)
# reference: lib/types/string/index.js:14-25 (RFC 4648 §4/§5)
BASE64 = {
    (True, True): r"^(?:[\w\-]{2}[\w\-]{2})*(?:[\w\-]{2}==|[\w\-]{3}=)?$",
    (True, False): r"^(?:[A-Za-z0-9+/]{2}[A-Za-z0-9+/]{2})*(?:[A-Za-z0-9+/]{2}==|[A-Za-z0-9+/]{3}=)?$",
    (False, True): r"^(?:[\w\-]{2}[\w\-]{2})*(?:[\w\-]{2}(==)?|[\w\-]{3}=?)?$",
    (False, False): r"^(?:[A-Za-z0-9+/]{2}[A-Za-z0-9+/]{2})*(?:[A-Za-z0-9+/]{2}(==)?|[A-Za-z0-9+/]{3}=?)?$",
}

# data: URI outer format + base64 payload variants
# reference: lib/types/string/index.js:26-33
DATA_URI_FORMAT = r"^data:[\w+.-]+/[\w+.-]+;((charset=[\w-]+|base64),)?(.*)$"
DATA_URI_BASE64 = {
    True: r"^(?:[A-Za-z0-9+/]{4})*(?:[A-Za-z0-9+/]{2}==|[A-Za-z0-9+/]{3}=)?$",
    False: r"^(?:[A-Za-z0-9+/]{4})*(?:[A-Za-z0-9+/]{2}(==)?|[A-Za-z0-9+/]{3}=?)?$",
}

# RFC 1123 hostname — reference: lib/types/string/index.js:35
HOSTNAME = (
    r"^(([a-zA-Z0-9]|[a-zA-Z0-9][a-zA-Z0-9\-]*[a-zA-Z0-9])\.)*"
    r"([A-Za-z0-9]|[A-Za-z0-9][A-Za-z0-9\-]*[A-Za-z0-9])$"
)

# ISO 8601 calendar/week/ordinal date+time — reference: lib/common.js:13
# The reference's single time branch writes seconds as `\2ss` where
# group 2 is the OPTIONAL minutes separator.  JavaScript resolves a
# backreference to a group that never participated as the EMPTY
# string; Java (Spark rlike) and Python fail the branch instead —
# which silently rejected JS-valid forms like `14.2334,4` (hour +
# fraction reparsed into seconds with no minutes).  The time section
# below splits that one branch into explicit minutes-present /
# minutes-absent / 24:00 alternatives so both engines see the JS
# semantics; group numbering is preserved (group 2 = the minutes
# separator, still backreferenced within its own branch only).
ISO_DATE = (
    r"^(?:[-+]\d{2})?(?:\d{4}(?!\d{2}\b))"
    r"(?:(-?)(?:(?:0[1-9]|1[0-2])(?:\1(?:[12]\d|0[1-9]|3[01]))?"
    r"|W(?:[0-4]\d|5[0-2])(?:-?[1-7])?"
    r"|(?:00[1-9]|0[1-9]\d|[12]\d{2}|3(?:[0-5]\d|6[1-6])))"
    r"(?![T]$|[T][\d]+Z$)"
    r"(?:[T\s]"
    r"(?:(?:[01]\d|2[0-3])(:?)[0-5]\d(?:[.,]\d+(?!:))?"
    r"(?:\2[0-5]\d(?:[.,]\d+)?)?"
    r"|(?:[01]\d|2[0-3])(?!:?[0-5]\d)(?:[.,]\d+(?!:))?"
    r"(?:[0-5]\d(?:[.,]\d+)?)?"
    r"|24:?00(?:[.,]\d+(?!:))?(?:[0-5]\d(?:[.,]\d+)?)?)"
    r"(?:[Z]|(?:[+-])(?:[01]\d|2[0-3])(?::?[0-5]\d)?)?)?)?$"
)
# NOTE: the minutes-absent branch carries a (?!:?[0-5]\d) guard making
# it mutually exclusive with the minutes-present branch — it cuts the
# cross-branch backtracking that made the faithful split ~1.5x slower
# per rlike; two differential fuzz corpora vs the original JS regex
# (4,107 structured + 24,914 time-heavy candidates) show zero
# disagreements with and without the guard.

# ISO 8601 duration — reference: lib/types/string/index.js:38
ISO_DURATION = r"^P(?!$)(\d+Y)?(\d+M)?(\d+W)?(\d+D)?(T(?=\d)(\d+H)?(\d+M)?(\d+S)?)?$"

# practical email (local@domain, RFC 5321 shaped); the reference uses
# @hapi/address's full parser (lib/types/string/index.js:291-318) —
# this regex covers the practical subset; exact-parity parser is a
# documented divergence (see tests/test_messages.py).
# dot-atom local part (no leading/trailing/consecutive dots, <=64),
# registered-name domain (>=2 segments, alpha TLD), <=254 chars total —
# the @hapi/address practical-RFC subset (quoted locals and domain
# literals are rejected there too)
EMAIL = (
    r"^(?=.{1,254}$)(?!\.)(?!.*\.\.)"
    r"[A-Za-z0-9!#$%&'*+/=?^_`{|}~.-]{1,64}(?<!\.)@"
    r"(?:[a-zA-Z0-9](?:[a-zA-Z0-9-]{0,61}[a-zA-Z0-9])?\.)+"
    r"[a-zA-Z]{2,63}$"
)

# domain name with at least 2 segments and alpha TLD
# (reference: lib/types/string/index.js:271-289 via @hapi/address)
DOMAIN = (
    r"^(?=.{1,253}$)(?:[a-zA-Z0-9](?:[a-zA-Z0-9-]{0,61}[a-zA-Z0-9])?\.)+"
    r"[a-zA-Z]{2,63}$"
)


def guid_regex(versions: list[str] | None = None) -> str:
    """RFC 4122 UUID with optional surrounding brackets and version pins
    (reference: lib/types/string/index.js:320-366).  Bracket *matching*
    ({...} vs {...)) is a separate predicate built by the compiler."""
    version_numbers = ""
    table = {"uuidv1": "1", "uuidv2": "2", "uuidv3": "3", "uuidv4": "4",
             "uuidv5": "5"}
    for v in versions or []:
        n = table.get(v.lower())
        if not n:
            raise ValueError(f"unknown guid version {v!r}")
        version_numbers += n
    ver = version_numbers or "0-9A-F"
    variant = "89AB" if version_numbers else "0-9A-F"
    return (
        r"(?i)^([\[{\(]?)[0-9A-F]{8}([:-]?)[0-9A-F]{4}\2?"
        rf"[{ver}][0-9A-F]{{3}}\2?[{variant}][0-9A-F]{{3}}\2?[0-9A-F]{{12}}([\]}}\)]?)$"
    )


# --- RFC 3986 atoms (public grammar; same composition the reference
# builds in lib/types/string/uri.js:9-113) -----------------------------

_HEX = r"\dA-Fa-f"
_HEX_ONLY = f"[{_HEX}]"
_UNRESERVED = r"\w\-\.~"
_SUB_DELIMS = r"!\$&'\(\)\*\+,;="
_PCT = "%" + _HEX
_PCHAR = _UNRESERVED + _PCT + _SUB_DELIMS + ":@"
_DEC_OCTET = r"(?:0{0,2}\d|0?[1-9]\d|1\d\d|2[0-4]\d|25[0-5])"

IPV4_ADDRESS = rf"(?:{_DEC_OCTET}\.){{3}}{_DEC_OCTET}"

_H16 = _HEX_ONLY + "{1,4}"
_LS32 = rf"(?:{_H16}:{_H16}|{IPV4_ADDRESS})"
IPV6_ADDRESS = "(?:" + "|".join([
    rf"(?:{_H16}:){{6}}{_LS32}",
    rf"::(?:{_H16}:){{5}}{_LS32}",
    rf"(?:{_H16})?::(?:{_H16}:){{4}}{_LS32}",
    rf"(?:(?:{_H16}:){{0,1}}{_H16})?::(?:{_H16}:){{3}}{_LS32}",
    rf"(?:(?:{_H16}:){{0,2}}{_H16})?::(?:{_H16}:){{2}}{_LS32}",
    rf"(?:(?:{_H16}:){{0,3}}{_H16})?::{_H16}:{_LS32}",
    rf"(?:(?:{_H16}:){{0,4}}{_H16})?::{_LS32}",
    rf"(?:(?:{_H16}:){{0,5}}{_H16})?::{_H16}",
    rf"(?:(?:{_H16}:){{0,6}}{_H16})?::",
]) + ")"
IPVFUTURE = rf"v{_HEX_ONLY}+\.[{_UNRESERVED}{_SUB_DELIMS}:]+"

IPV4_CIDR = r"\d|[1-2]\d|3[0-2]"
IPV6_CIDR = r"(?:0{0,2}\d|0?[1-9]\d|1[01]\d|12[0-8])"

_IP_VERSIONS = {"ipv4": IPV4_ADDRESS, "ipv6": IPV6_ADDRESS,
                "ipvfuture": IPVFUTURE}
_IP_CIDRS = {
    "ipv4": {"required": rf"/(?:{IPV4_CIDR})",
             "optional": rf"(?:/(?:{IPV4_CIDR}))?", "forbidden": ""},
    "ipv6": {"required": rf"/{IPV6_CIDR}",
             "optional": rf"(?:/{IPV6_CIDR})?", "forbidden": ""},
    "ipvfuture": {"required": rf"/{IPV6_CIDR}",
                  "optional": rf"(?:/{IPV6_CIDR})?", "forbidden": ""},
}


def ip_regex(versions: list[str] | None = None, cidr: str = "optional") -> str:
    """IP-address regex generator (reference: lib/types/string/ip.js:35-39)."""
    versions = versions or ["ipv4", "ipv6", "ipvfuture"]
    if cidr not in ("required", "optional", "forbidden"):
        raise ValueError(f"invalid cidr mode {cidr!r}")
    parts = []
    for v in versions:
        if v not in _IP_VERSIONS:
            raise ValueError(f"unknown ip version {v!r}")
        parts.append(_IP_VERSIONS[v] + _IP_CIDRS[v][cidr])
    return "^(?:" + "|".join(parts) + ")$"


# URI composition (reference: lib/types/string/uri.js:56-113,173-185)
SCHEME = r"[a-zA-Z][a-zA-Z\d+\-\.]*"
_USERINFO = rf"[{_UNRESERVED}{_PCT}{_SUB_DELIMS}:]*"
_IP_LITERAL = rf"\[(?:{IPV6_ADDRESS}|{IPVFUTURE})\]"
_REG_NAME = rf"(?:[{_UNRESERVED}{_PCT}{_SUB_DELIMS}])*"
_HOST = rf"(?:{_IP_LITERAL}|{IPV4_ADDRESS}|{_REG_NAME})"
_PORT = r"\d*"
_AUTHORITY = rf"(?:{_USERINFO}@)?{_HOST}(?::{_PORT})?"
_SEGMENT = rf"[{_PCHAR}]*"
_SEGMENT_NZ = rf"[{_PCHAR}]+"
_SEGMENT_NZ_NC = rf"[{_UNRESERVED}{_PCT}{_SUB_DELIMS}@]+"
_PATH_ABEMPTY = rf"(?:/{_SEGMENT})*"
_PATH_ABSOLUTE = rf"/(?:{_SEGMENT_NZ}(?:/{_SEGMENT})*)?"
_PATH_ROOTLESS = rf"{_SEGMENT_NZ}(?:/{_SEGMENT})*"
_PATH_NOSCHEME = rf"{_SEGMENT_NZ_NC}(?:/{_SEGMENT})*"
_HIER_PART = (rf"(?://{_AUTHORITY}{_PATH_ABEMPTY}"
              rf"|{_PATH_ABSOLUTE}|{_PATH_ROOTLESS})?")
_RELATIVE_PART = (rf"(?://{_AUTHORITY}{_PATH_ABEMPTY}"
                  rf"|{_PATH_ABSOLUTE}|{_PATH_NOSCHEME})?")
_QUERY = rf"[{_PCHAR}/\?]*(?=#|$)"
_QUERY_WITH_SQ_BRACKETS = rf"[{_PCHAR}\[\]/\?]*(?=#|$)"
_FRAGMENT = rf"[{_PCHAR}/\?]*"


def uri_regex(scheme: str | list[str] | None = None, *,
              allow_relative: bool = False, relative_only: bool = False,
              allow_query_square_brackets: bool = False) -> str:
    """RFC 3986 URI regex generator
    (reference: lib/types/string/uri.js:173-185)."""
    if isinstance(scheme, str):
        scheme = [scheme]
    scheme_part = "|".join(scheme) if scheme else SCHEME
    query = _QUERY_WITH_SQ_BRACKETS if allow_query_square_brackets else _QUERY
    absolute = (rf"(?:{scheme_part}):{_HIER_PART}"
                rf"(?:\?{query})?(?:#{_FRAGMENT})?")
    relative = (rf"{_RELATIVE_PART}(?:\?{query})?(?:#{_FRAGMENT})?")
    if relative_only:
        return f"^{relative}$"
    if allow_relative:
        return f"^(?:{absolute}|{relative})$"
    return f"^{absolute}$"
