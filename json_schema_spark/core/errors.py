"""Typed error model: a stable error-kind enum mirroring the
reference's 31 ``EErrorType`` values (``results/EErrorType.java:3-34``),
plus the mapping from this engine's violation ``keyword`` strings to
kinds — so downstream consumers can match errors programmatically
instead of parsing free text. Exposed both Python-side
(:func:`error_kind_of`) and as a Column expression
(:func:`error_kind_col`) for the violations DataFrame.
"""

from __future__ import annotations

from enum import Enum

from pyspark.sql import Column, functions as F

__all__ = ["ErrorKind", "error_kind_of", "error_kind_col", "KEYWORD_TO_KIND"]


class ErrorKind(str, Enum):
    CONST = "CONST"
    CONTAINS_MIN = "CONTAINS_MIN"
    CONTAINS_MAX = "CONTAINS_MAX"
    DEPENDENCIES = "DEPENDENCIES"
    DEPENDENT_REQUIRED = "DEPENDENT_REQUIRED"
    ENUM = "ENUM"
    EXCLUSIVE_MAXIMUM = "EXCLUSIVE_MAXIMUM"
    EXCLUSIVE_MINIMUM = "EXCLUSIVE_MINIMUM"
    FORMAT = "FORMAT"
    MAXIMUM = "MAXIMUM"
    MINIMUM = "MINIMUM"
    MAX_ITEMS = "MAX_ITEMS"
    MIN_ITEMS = "MIN_ITEMS"
    MAX_PROPERTIES = "MAX_PROPERTIES"
    MIN_PROPERTIES = "MIN_PROPERTIES"
    MULTIPLE_OF = "MULTIPLE_OF"
    NOT = "NOT"
    ONE_OF_EMPTY = "ONE_OF_EMPTY"
    ONE_OF_MORE_THAN_ONE = "ONE_OF_MORE_THAN_ONE"
    ANY_OF = "ANY_OF"
    PATTERN = "PATTERN"
    REQUIRED = "REQUIRED"
    FALSE_SCHEMA = "FALSE_SCHEMA"
    TYPE = "TYPE"
    UNIQUE_ITEMS = "UNIQUE_ITEMS"
    MAX_LENGTH = "MAX_LENGTH"
    MIN_LENGTH = "MIN_LENGTH"
    CONTENT_ENCODING = "CONTENT_ENCODING"
    CONTENT_TYPE = "CONTENT_TYPE"
    CONTENT_SCHEMA = "CONTENT_SCHEMA"
    # engine-specific kinds with no reference counterpart
    PARSE = "PARSE"                    # unparseable JSON document
    IF_THEN_ELSE = "IF_THEN_ELSE"      # fused conditional (expr path)
    PROPERTY_NAMES = "PROPERTY_NAMES"
    ADDITIONAL_PROPERTIES = "ADDITIONAL_PROPERTIES"
    ADDITIONAL_ITEMS = "ADDITIONAL_ITEMS"
    ITEMS = "ITEMS"
    UNEVALUATED_PROPERTIES = "UNEVALUATED_PROPERTIES"
    UNEVALUATED_ITEMS = "UNEVALUATED_ITEMS"
    REF = "REF"
    OTHER = "OTHER"


# violation-row ``keyword`` -> kind. Both engines (Column-expression and
# kernel) emit the JSON-Schema keyword name in the keyword column, so
# one table serves both.
KEYWORD_TO_KIND: dict[str, ErrorKind] = {
    "const": ErrorKind.CONST,
    "contains": ErrorKind.CONTAINS_MIN,
    "minContains": ErrorKind.CONTAINS_MIN,
    "maxContains": ErrorKind.CONTAINS_MAX,
    "dependencies": ErrorKind.DEPENDENCIES,
    "dependentRequired": ErrorKind.DEPENDENT_REQUIRED,
    "dependentSchemas": ErrorKind.DEPENDENCIES,
    "enum": ErrorKind.ENUM,
    "exclusiveMaximum": ErrorKind.EXCLUSIVE_MAXIMUM,
    "exclusiveMinimum": ErrorKind.EXCLUSIVE_MINIMUM,
    "format": ErrorKind.FORMAT,
    "maximum": ErrorKind.MAXIMUM,
    "minimum": ErrorKind.MINIMUM,
    "maxItems": ErrorKind.MAX_ITEMS,
    "minItems": ErrorKind.MIN_ITEMS,
    "maxProperties": ErrorKind.MAX_PROPERTIES,
    "minProperties": ErrorKind.MIN_PROPERTIES,
    "multipleOf": ErrorKind.MULTIPLE_OF,
    "not": ErrorKind.NOT,
    "oneOf": ErrorKind.ONE_OF_EMPTY,
    "anyOf": ErrorKind.ANY_OF,
    "pattern": ErrorKind.PATTERN,
    "required": ErrorKind.REQUIRED,
    "false": ErrorKind.FALSE_SCHEMA,
    "type": ErrorKind.TYPE,
    "uniqueItems": ErrorKind.UNIQUE_ITEMS,
    "maxLength": ErrorKind.MAX_LENGTH,
    "minLength": ErrorKind.MIN_LENGTH,
    "contentEncoding": ErrorKind.CONTENT_ENCODING,
    "contentMediaType": ErrorKind.CONTENT_TYPE,
    "contentSchema": ErrorKind.CONTENT_SCHEMA,
    "$parse": ErrorKind.PARSE,
    "if": ErrorKind.IF_THEN_ELSE,
    "then": ErrorKind.IF_THEN_ELSE,
    "else": ErrorKind.IF_THEN_ELSE,
    "propertyNames": ErrorKind.PROPERTY_NAMES,
    "additionalProperties": ErrorKind.ADDITIONAL_PROPERTIES,
    "additionalItems": ErrorKind.ADDITIONAL_ITEMS,
    "items": ErrorKind.ITEMS,
    "prefixItems": ErrorKind.ITEMS,
    "unevaluatedProperties": ErrorKind.UNEVALUATED_PROPERTIES,
    "unevaluatedItems": ErrorKind.UNEVALUATED_ITEMS,
    "$ref": ErrorKind.REF,
    "$recursiveRef": ErrorKind.REF,
    "$dynamicRef": ErrorKind.REF,
}


def error_kind_of(keyword: str, message: str = "") -> ErrorKind:
    if keyword == "oneOf" and message:
        # two reference kinds share the keyword: EErrorType
        # ONE_OF_EMPTY vs ONE_OF_MORE_THAN_ONE. The kernel now emits
        # the reference's exact getError() strings ("None of the
        # results were successful." / "More than one successful
        # results."); the Column path still prefixes the zero-match
        # message with the count. Accept both spellings.
        return (ErrorKind.ONE_OF_EMPTY
                if message.startswith("0 ") or message.startswith("None")
                else ErrorKind.ONE_OF_MORE_THAN_ONE)
    return KEYWORD_TO_KIND.get(keyword, ErrorKind.OTHER)


def error_kind_col(keyword: Column, message: Column = None) -> Column:
    """Column expression mapping a violation keyword to its kind — an
    O(1)-ish literal-map lookup (one hash probe per row) instead of a
    44-deep nested CASE chain, keeps generated code flat. No UDF.
    ``message`` (when given) disambiguates oneOf's two kinds."""
    pairs: list[Column] = []
    for kw, kind in KEYWORD_TO_KIND.items():
        pairs.append(F.lit(kw))
        pairs.append(F.lit(kind.value))
    lookup = F.create_map(*pairs)
    base = F.coalesce(F.element_at(lookup, keyword), F.lit(ErrorKind.OTHER.value))
    if message is None:
        return base
    return F.when(
        keyword == "oneOf",
        F.when(message.startswith("0 ") | message.startswith("None"),
               F.lit(ErrorKind.ONE_OF_EMPTY.value))
         .otherwise(F.lit(ErrorKind.ONE_OF_MORE_THAN_ONE.value)),
    ).otherwise(base)
