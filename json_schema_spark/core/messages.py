"""Reference-identical violation message rendering.

The reference renders human-readable error text via a per-kind
``MessageFormat`` catalog (``results/EErrorType.java:3-34``,
``results/ValidationError.java:27-33``: ``getError()`` returns the
kind's template with the compiler-supplied args substituted). This
module reproduces that text byte-for-byte so a violations DataFrame
from this engine matches what a reference user sees, including the
reference's own rendering quirks, all probe-verified:

* ``MAX_ITEMS`` passes the KEYWORD STRING as ``{0}`` and the limit as
  ``{1}`` (``MaxItemsCompiler.java:35``), so the "Actual size" slot
  renders the limit and the actual size arg is never shown.
* ``MAX_LENGTH``/``MIN_LENGTH`` templates have three placeholders but
  receive two args (``BaseLengthCompiler.java:49``) — Java
  ``MessageFormat`` leaves the unmatched ``{2}`` literal.
* ``MIN_LENGTH`` has a double space after "than" (EErrorType.java:31).
* Integer args go through ``MessageFormat``'s ``NumberFormat`` and get
  en-US grouping separators (a 10000 limit renders as "10,000").
* JsonNode args render as Jackson's ``toString()`` — compact JSON, so
  string instances carry their quotes ("Value \"x\" not conform to
  format email") and doubles use Java ``Double.toString`` shapes
  ("1.0E23", "0.001", "1.0E-4").
* ``contentMediaType`` renders the parsed ``MimeType``'s debug
  ``toString()`` (``MimeType.java:82-88``):
  ``MimeType{type='application', subType='json', params={}}``.
"""

from __future__ import annotations

import json
import re
from decimal import Decimal
from typing import Any

from .javadouble import java17_double_repr

__all__ = [
    "MESSAGE_TEMPLATES",
    "render_message",
    "jackson_to_string",
    "jackson_as_text",
    "java_double_str",
    "java_int",
    "mime_type_str",
]

# Exact template strings from results/EErrorType.java:5-34 (the double
# space in MIN_LENGTH is the reference's).
MESSAGE_TEMPLATES: dict[str, str] = {
    "CONST": "Value {0} not equals to const {1}",
    "CONTAINS_MIN": "The array must contains at least {0} valid items. Actual: {1}",
    "CONTAINS_MAX": "The array can contains no more than {0} valid items. Actual: {1}",
    "DEPENDENCIES": "The dependencies for [{0}] are not satisfied",
    "DEPENDENT_REQUIRED": "The required dependencies for [{0}] are not satisfied",
    "ENUM": "The value {0} not declared in enum {1}",
    "EXCLUSIVE_MAXIMUM": "Value {0} greater than {1}",
    "EXCLUSIVE_MINIMUM": "Value {0} less or equal than {1}",
    "FORMAT": "Value {0} not conform to format {1}",
    "MAXIMUM": "Value {0} greater than {1}",
    "MINIMUM": "Value {0} less than {1}",
    "MAX_ITEMS": "Required max array size {0}, Actual size: {1}",
    "MIN_ITEMS": "Required minimum items amount is {0}, Actual size: {1}",
    "MAX_PROPERTIES": "Maximum allowed properties count {0}. Actual: {1}",
    "MIN_PROPERTIES": "Require min properties count {0}. Actual: {1}",
    "MULTIPLE_OF": "The node value of {0} not conform to multipleOf value {1}",
    "NOT": "The subschema validation was successfully. Result will be inverter",
    "ONE_OF_EMPTY": "None of the results were successful.",
    "ONE_OF_MORE_THAN_ONE": "More than one successful results.",
    "ANY_OF": "None of the variants were successful.",
    "PATTERN": "The value {0} not conform to pattern: {1}",
    "REQUIRED": "Some required properties {0} are missing",
    "FALSE_SCHEMA": "Because schema is false",
    "TYPE": "The node value {0} not conform to type {1}",
    "UNIQUE_ITEMS": "At least one item {0} not unique",
    "MAX_LENGTH": "The length of {0} must be less than or equal to {1}. Actual: {2}",
    "MIN_LENGTH": "The length of {0} must be greater or equal than  {1}. Actual: {2}",
    "CONTENT_ENCODING": "Invalid content encoding {0}.",
    "CONTENT_TYPE": "Not conform to content type {0}",
    "CONTENT_SCHEMA": "Not conform to content schema",
}


_PLACEHOLDER = re.compile(r"\{(\d+)\}")


# ------------------------------------------------------------------
# Java rendering primitives
# ------------------------------------------------------------------

def java_double_str(d: float) -> str:
    """Java 17 ``Double.toString`` — the bytecode-faithful
    FloatingDecimal port (see :mod:`..core.javadouble`), because the
    pre-Ryū JDK the reference runs on does not always print the
    shortest round-trip form."""
    return java17_double_repr(d)


def _number_str(v: Any) -> str:
    """Jackson numeric node → its serialized token. Integer nodes print
    plain digits; float-literal nodes are DoubleNode (the kernel's
    double-canonical Decimal) and print via Double.toString."""
    if isinstance(v, int) and not isinstance(v, bool):
        return str(v)
    if isinstance(v, Decimal):
        return java_double_str(float(v))
    return java_double_str(float(v))


def _escape_json_string(s: str) -> str:
    # Python's serializer matches Jackson's default string escaping:
    # control chars as \b \t \n \f \r or \u00XX, quote and backslash
    # escaped, non-ASCII left raw.
    return json.dumps(s, ensure_ascii=False)


def jackson_to_string(v: Any) -> str:
    """Jackson ``JsonNode.toString()``: compact JSON with the number
    shapes above (object key order = parse/insertion order)."""
    if v is None:
        return "null"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, (int, float, Decimal)):
        return _number_str(v)
    if isinstance(v, str):
        return _escape_json_string(v)
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(jackson_to_string(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(
            f"{_escape_json_string(str(k))}:{jackson_to_string(x)}"
            for k, x in v.items()
        ) + "}"
    return str(v)


def jackson_as_text(v: Any) -> str:
    """Jackson ``JsonNode.asText()``: raw text for scalars, empty
    string for containers (ContainerNode.asText() == "")."""
    if v is None:
        return "null"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, str):
        return v
    if isinstance(v, (int, float, Decimal)):
        return _number_str(v)
    return ""


def java_string_hash(s: str) -> int:
    """``String.hashCode()``: ``31*h + unit`` over UTF-16 code units,
    32-bit wraparound (sign is irrelevant to the bucket spread). An
    unpaired surrogate (legal in a JSON ``\\u`` escape) is one code
    unit, as in a Java string."""
    h = 0
    b = s.encode("utf-16-be", "surrogatepass")
    for i in range(0, len(b), 2):
        h = (31 * h + (b[i] << 8 | b[i + 1])) & 0xFFFFFFFF
    return h


def java_hashset_order(names: list[str]) -> list[str]:
    """Iteration order of a ``HashSet<String>`` built by inserting
    ``names`` in order (``Collectors.toSet()``): buckets ascending at
    the final table capacity, insertion order within a bucket. Java 8+
    resize splits chains preserving relative order, so computing
    directly at the final capacity is exact. (Treeified buckets — ≥8
    same-bucket collisions — are not modeled; unreachable for real
    ``required`` lists.)"""
    cap = 16
    while len(names) > cap * 3 // 4:
        cap <<= 1
    buckets: list[list[str]] = [[] for _ in range(cap)]
    for name in names:
        h = java_string_hash(name)
        buckets[(h ^ (h >> 16)) & (cap - 1)].append(name)
    return [x for b in buckets for x in b]


def java_int(n: int) -> str:
    """MessageFormat routes Number args through NumberFormat — en-US
    grouping separators."""
    return f"{n:,}"


def mime_type_str(value: str) -> str:
    """The reference passes the parsed MimeType OBJECT as the
    CONTENT_TYPE arg, so MessageFormat renders its debug toString()
    (``MimeType.java:50-88``): lowercased/trimmed type + subType,
    params map in Java ``AbstractMap.toString`` form."""
    parts = value.split(";")
    mime = parts[0]
    if "/" in mime:
        typ, sub = mime.split("/", 1)
        typ, sub = typ.strip().lower(), sub.strip().lower()
    else:
        typ, sub = mime.strip().lower(), ""
    params: dict[str, str | None] = {}
    for part in parts[1:]:
        if "=" in part:
            k, val = part.split("=", 1)
            k, val = k.strip().lower(), val.strip().lower()
            if val.startswith('"') and val.endswith('"'):
                val = val[1:-1]
            params[k] = val
        else:
            params[part.strip().lower()] = None
    body = ", ".join(f"{k}={v if v is not None else 'null'}"
                     for k, v in params.items())
    return f"MimeType{{type='{typ}', subType='{sub}', params={{{body}}}}}"


def render_message(kind: str, *args: Any) -> str:
    """``ValidationError.getError()``: substitute ``{n}`` with the
    rendered arg; a placeholder with no matching arg stays literal
    (MessageFormat semantics — the MAX_LENGTH ``{2}`` quirk). Args are
    pre-rendered strings except plain ints, which get NumberFormat
    grouping."""
    rendered = [
        java_int(a) if isinstance(a, int) and not isinstance(a, bool)
        else str(a)
        for a in args
    ]

    def _sub(m: "re.Match[str]") -> str:
        i = int(m.group(1))
        return rendered[i] if i < len(rendered) else m.group(0)

    # substitution is template-driven (an arg containing "{0}" is not
    # re-substituted, matching MessageFormat)
    return _PLACEHOLDER.sub(_sub, MESSAGE_TEMPLATES[kind])
