"""The reference's JSON number model, pinned by compiled-reference
probes (round 4): Jackson parses integer literals exactly
(Int/Long/BigInteger) but float literals to DOUBLE first — lossy
beyond ~17 significant digits, overflow to ±Infinity, underflow to
0.0 — and the exact-decimal arithmetic everywhere downstream runs on
``BigDecimal.valueOf(double)``, the double's shortest round-trip
decimal form (``double_canonical`` here, ``repr(float)``).

Deliberate divergence (SURVEY §4.3 #11): where a NON-FINITE value
reaches a BigDecimal conversion at validation time the reference
throws (NumberFormatException); this engine returns a deterministic
verdict instead — a 100 TB per-row validator must not crash on a
legal-JSON row. Compile-time conversions (schema args, enum members)
match the reference's compile error exactly.
"""

from __future__ import annotations

import json
import re
from fractions import Fraction

import pytest

from json_schema_spark.core.jsonvalue import double_canonical, parse_json
from json_schema_spark.core.validator import (
    CompileConfig,
    SchemaCompileError,
    compile_schema,
)


def _verdict(schema_json: str, doc_json: str, dialect: str = "2020-12") -> str:
    try:
        k = compile_schema(json.loads(schema_json),
                           config=CompileConfig(dialect=dialect))
        return "t" if k.is_valid_json(doc_json) else "f"
    except SchemaCompileError:
        return "c"


# (schema, instance, expected) — every "t"/"f"/"c" verified against the
# compiled reference; rows marked nofinite are the documented
# verdict-instead-of-crash divergences (reference: runtime exception).
REFERENCE_VERIFIED = [
    # double-first parsing: beyond-double-precision lexemes collapse
    ('{"const": 1.0000000000000000000000000001}',
     "1.0000000000000000000000000001", "t"),
    ('{"type": "integer"}', "1.0000000000000000000000000001", "t"),
    ('{"multipleOf": 1.0000000000000000000000000001}',
     "1.0000000000000000000000000001", "t"),
    ('{"const": 123456789.123456789123456789}',
     "123456789.123456789123456789", "t"),
    # underflow to 0.0
    ('{"const": 1e-330}', "1e-330", "t"),
    ('{"type": "integer"}', "1e-330", "t"),
    ('{"const": 0.0}', "1e-330", "t"),
    # overflow to Infinity: const equality works (DoubleNode equals)
    ('{"const": 1e309}', "1e309", "t"),
    ('{"const": -1e309}', "-1e309", "t"),
    # ... but schema-arg BigDecimal conversion is a compile error
    ('{"minimum": 1e309}', "1", "c"),
    ('{"minimum": -1e309}', "1", "c"),
    ('{"multipleOf": 1e309}', "1", "c"),
    ('{"enum": [1e309, "x"]}', '"x"', "c"),
    ('{"maxItems": 1e309}', "[]", "c"),
    # integers stay exact at any size
    ('{"const": 99999999999999999999999999999999999999}',
     "99999999999999999999999999999999999999", "t"),
    ('{"const": 99999999999999999999999999999999999999}',
     "99999999999999999999999999999999999998", "f"),
    ('{"minimum": 9223372036854775808}', "9223372036854775807", "f"),
    ('{"multipleOf": 18446744073709551616}', "18446744073709551616", "t"),
    # -0 == 0 in every numeric context
    ('{"const": -0.0}', "0", "t"),
    ('{"const": 0}', "-0.0", "t"),
    ('{"uniqueItems": true}', "[0, -0.0]", "t"),  # int vs float family
    # same family but DISTINCT: DoubleNode.hashCode (doubleToLongBits)
    # splits ±0.0 into different HashSet buckets — probe-verified
    # round 4, see NEGZERO_UNIQUE below
    ('{"uniqueItems": true}', "[0.0, -0.0]", "t"),
    # nested float const: same-lexeme floats are equal (was a real bug —
    # schema float vs instance decimal sat in different families)
    ('{"const": {"a": 1.5}}', '{"a": 1.5}', "t"),
    ('{"const": {"a": 1.5}}', '{"a": 1.50}', "t"),
    ('{"const": {"a": 1.5}}', '{"a": 15e-1}', "t"),
    ('{"const": [2.5]}', "[2.5]", "t"),
    # nested int-vs-float family strictness unchanged
    ('{"const": {"a": 1}}', '{"a": 1.0}', "f"),
    # double-value uniqueItems within the float family
    ('{"uniqueItems": true}', "[1.0, 1.00]", "f"),
    ('{"uniqueItems": true}', "[0.1, 1e-1]", "f"),
    ('{"uniqueItems": true}', "[1, 1.0]", "t"),  # family-strict
]

NONFINITE_VERDICTS = [
    # reference throws at validation time; engine verdict pinned here
    ('{"const": 1e309}', "0", "f"),
    ('{"type": "integer"}', "1e309", "f"),
    ('{"type": "integer"}', "-1e309", "f"),
    ('{"multipleOf": 1}', "-1e309", "f"),
    ('{"minimum": 1}', "1e309", "t"),  # Decimal(inf) >= 1
]


# multipleOf whose integer quotient needs more than 28 digits: each
# verdict checked against java.math.BigDecimal.divideAndRemainder (the
# call MultipleOfCompiler.java:36-43 makes), not the compiled reference
BIGDECIMAL_VERIFIED = [
    ('{"multipleOf": 0.5}', "12345678901234567890123456789", "t"),
    ('{"multipleOf": 3}', "1234567890123456789012345678901234567890", "t"),
    ('{"multipleOf": 0.01}', "123456789012345678901234567.89", "t"),
    ('{"multipleOf": 1e-30}', "1.5", "t"),
]


@pytest.mark.parametrize("schema,doc,want", REFERENCE_VERIFIED)
def test_reference_verified_number_semantics(schema, doc, want):
    assert _verdict(schema, doc) == want


@pytest.mark.parametrize("schema,doc,want", BIGDECIMAL_VERIFIED)
def test_multiple_of_exact_past_default_precision(schema, doc, want):
    assert _verdict(schema, doc) == want


# Exact-rational differential for the kernel's numeric keywords. Each
# lexeme becomes the value the reference computes on: an integer lexeme
# is exact (BigInteger), a float lexeme is BigDecimal.valueOf(double)
# (``double_canonical``, JVM-differential-tested on its own). The
# verdict then follows from exact rational arithmetic, which is what
# BigDecimal's unbounded remainder and compareTo give.
WIDE_INSTANCES = [
    "0", "-0.0", "1", "7", "1.5", "1.6", "-1.6", "0.7", "2.5e-29",
    "1e-300", "5e-324", "12345678901234567890123456789",
    "-12345678901234567890123456789",
    "1234567890123456789012345678901234567890",
    "1234567890123456789012345678901234567891",
    "123456789012345678901234567890123000000000",
    "123456789012345678901234567890123000000001",
    "99999999999999999999999999999999999999999999999999",
    "123456789012345678901234567.89", "4611686018427387904.0", "1e300",
    "1e308", "100000000000000000000", "99999999999999999999",
    "99999999999999999999.5",
]

MULTIPLE_OF_DIVISORS = [
    # integers, up to a 33-digit BigInteger
    "1", "3", "7", "9007199254740993", "18446744073709551616",
    "123456789012345678901234567890123",
    # short decimals and doubles with long expansions
    "0.5", "0.01", "0.1", "0.3", "2.5", "0.7", "1.0000000000000002",
    "0.000000000000000003", "1e-18", "1e-10",
    # tiny: the quotient of a wide instance needs hundreds of digits
    "1e-30", "3e-30", "1e-300", "2.2250738585072014e-308", "4.9e-324",
    # large doubles, including 2^62 whose Java 17 rendering is not the
    # shortest round-trip form
    "1e20", "1e22", "4611686018427387904.0", "1e300",
    "1.7976931348623157e308",
]

BOUNDS = [
    "0", "1", "-1", "1.5", "0.1", "5e-324", "99999999999999999999", "1e20",
    "12345678901234567890123456789", "-12345678901234567890123456789",
    "1234567890123456789012345678901234567890", "1e300",
]


def _exact(lexeme: str) -> Fraction:
    if re.fullmatch(r"-?[0-9]+", lexeme):
        return Fraction(int(lexeme))
    return Fraction(double_canonical(lexeme))


@pytest.mark.parametrize("divisor", MULTIPLE_OF_DIVISORS)
def test_multiple_of_matches_exact_rational(divisor):
    """Whatever the digit span of instance over divisor, the kernel's
    remainder is exact: its verdict equals ``instance / divisor`` being
    an integer in rational arithmetic."""
    m = _exact(divisor)
    got = {i: _verdict('{"multipleOf": %s}' % divisor, i)
           for i in WIDE_INSTANCES}
    want = {i: "t" if (_exact(i) / m).denominator == 1 else "f"
            for i in WIDE_INSTANCES}
    assert got == want


@pytest.mark.parametrize("bound", BOUNDS)
def test_bounds_match_exact_rational(bound):
    """minimum/maximum and their exclusive forms compare exactly at any
    width, on both sides of a bound that is itself wide."""
    b = _exact(bound)
    ops = {"minimum": lambda v: v >= b, "maximum": lambda v: v <= b,
           "exclusiveMinimum": lambda v: v > b,
           "exclusiveMaximum": lambda v: v < b}
    for kw, op in ops.items():
        got = {i: _verdict(json.dumps({kw: None}).replace("null", bound), i)
               for i in WIDE_INSTANCES}
        want = {i: "t" if op(_exact(i)) else "f" for i in WIDE_INSTANCES}
        assert got == want, kw


@pytest.mark.parametrize("schema,doc,want", NONFINITE_VERDICTS)
def test_nonfinite_instance_gets_verdict_not_crash(schema, doc, want):
    assert _verdict(schema, doc) == want


def test_double_canonical():
    from decimal import Decimal
    assert double_canonical("19.99") == Decimal("19.99")
    assert double_canonical("1e-330") == Decimal("0.0")
    assert double_canonical("1e309") == Decimal("Infinity")
    assert double_canonical("1.0000000000000000000000000001") == Decimal("1.0")
    assert double_canonical(0.1) == Decimal("0.1")


def test_jackson_rejects_nonstandard_tokens():
    for bad in ("Infinity", "-Infinity", "NaN", "[Infinity]"):
        with pytest.raises(ValueError):
            parse_json(bad)


# reference-probe verified (round 4): Jackson DoubleNode.hashCode is
# doubleToLongBits-based, so -0.0 and 0.0 land in DIFFERENT HashSet
# buckets and are never equals-compared — uniqueItems keeps them
# DISTINCT at every nesting depth, while const/enum (primitive ==
# equality) treat the two zeros as equal.
NEGZERO_UNIQUE = [
    ('[-0.0, 0.0]', True), ('[0.0, -0.0]', True), ('[-0.0, -0.0]', False),
    ('[0, -0.0]', True), ('[[-0.0], [0.0]]', True),
    ('[[-0.0], [-0.0]]', False), ('[{"a": -0.0}, {"a": 0.0}]', True),
    ('[-0e0, 0.0]', True), ('[-0e0, -0.0]', False), ('[1e0, 1.0]', False),
]


@pytest.mark.parametrize("doc,want", NEGZERO_UNIQUE)
def test_unique_items_negative_zero(doc, want):
    k = compile_schema({"uniqueItems": True},
                       config=CompileConfig(dialect="draft7"))
    assert k.validate_json(doc)[0] is want


@pytest.mark.parametrize("schema,doc", [
    ({"const": 0.0}, "-0.0"), ({"const": -0.0}, "0.0"),
    ({"enum": [-0.0]}, "0.0"),
])
def test_const_enum_zero_sign_insensitive(schema, doc):
    k = compile_schema(schema, config=CompileConfig(dialect="draft7"))
    assert k.validate_json(doc)[0] is True


def test_double_canonical_zero_sign_not_cache_poisoned():
    """±0.0 collide under lru_cache's ==/hash keying; the sign must
    survive regardless of which zero is seen first."""
    from decimal import Decimal
    assert str(double_canonical("-0.0")) == "-0.0"
    assert str(double_canonical("0.0")) == "0.0"
    assert double_canonical("-0.0").is_signed()
    assert not double_canonical("0.0").is_signed()
