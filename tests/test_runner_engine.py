"""The engine decision and kernel hand-off of ``SparkValidator``: the
fallback keeps every caller column and runs the kernel once per row,
and a verdict does not depend on the session's duplicate-key setting."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from json_schema_spark.core.validator import CompileConfig, compile_schema
from json_schema_spark.plans.compiler import ExprUnsupported
from json_schema_spark.plans.runner import SparkValidator, _utf8

_DUP_KEYS = "spark.sql.variant.allowDuplicateKeys"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _rows(df) -> list:
    return [(r["valid"], [tuple(v) for v in r["violations"]])
            for r in df.orderBy("i").collect()]


def test_fallback_keeps_caller_columns(spark):
    """A caller column named like the fallback's temp column survives,
    and the kernel UDF is one plan node (one call per row)."""
    v = SparkValidator({"required": ["a"]}, engine="udf")
    df = spark.createDataFrame([(0, '{"a":1}', 5, 6), (1, "{}", 7, 8)],
                               "i int, doc string, _res int, __JSS_RES int")
    out = v.apply_json(df, "doc")
    assert out.columns == ["i", "doc", "_res", "__JSS_RES", "valid", "violations"]
    assert _plan(out).count("ArrowEvalPython") == 1
    got = out.orderBy("i").collect()
    assert [(r["_res"], r["__JSS_RES"], r["valid"]) for r in got] == [
        (5, 6, True), (7, 8, False)]

    tdf = spark.createDataFrame([(0, 1, 5), (1, None, 7)], "i int, a int, _res int")
    tout = v.apply_table(tdf, columns=["a"])
    assert tout.columns == ["i", "a", "_res", "valid", "violations"]
    assert _plan(tout).count("ArrowEvalPython") == 1
    assert [(r["_res"], r["valid"]) for r in tout.orderBy("i").collect()] == [
        (5, True), (7, False)]


def test_duplicate_keys_same_verdict_on_every_path(spark):
    """``{"a":1,"a":"x"}`` and ``{"a":"x","a":1}``: last key wins on
    every path, whatever the session's duplicate-key setting. With it
    off, ``auto`` falls back to the kernel and ``expr`` refuses."""
    schema = {"properties": {"a": {"type": "string"}}}
    docs = ['{"a":1,"a":"x"}', '{"a":"x","a":1}']
    df = spark.createDataFrame(list(enumerate(docs)), "i int, doc string")
    auto = SparkValidator(schema)
    want = [auto.kernel.validate_json(d) for d in docs]
    assert [ok for ok, _ in want] == [True, False]
    before = spark.conf.get(_DUP_KEYS)
    try:
        for setting in ("true", "false"):
            spark.conf.set(_DUP_KEYS, setting)
            for v in (auto, SparkValidator(schema, engine="udf")):
                assert _rows(v.apply_json(df, "doc")) == want, (setting, v.engine)
            if setting == "false":
                assert "ArrowEvalPython" in _plan(auto.apply_json(df, "doc"))
                with pytest.raises(ExprUnsupported):
                    SparkValidator(schema, engine="expr").apply_json(df, "doc")
                with pytest.raises(ExprUnsupported):
                    auto.json_columns(F.col("doc"))
            else:
                assert "ArrowEvalPython" not in _plan(auto.apply_json(df, "doc"))
    finally:
        spark.conf.set(_DUP_KEYS, before)


def test_lone_surrogate_escape_same_result_on_every_path(spark):
    """A lone-surrogate ``\\u`` escape is legal JSON. The kernel's
    violation message carries the unpaired surrogate, which Arrow
    cannot encode; every path renders it as ``?``, as the JVM does, and
    no path fails the job."""
    schema = {"properties": {"a": {"const": 0}}}
    docs = [r'{"a":"\ud800"}', r'{"a":"\udc00x"}']
    df = spark.createDataFrame(list(enumerate(docs)), "i int, doc string")
    auto = SparkValidator(schema)
    got = [_rows(v.apply_json(df, "doc"))
           for v in (auto, SparkValidator(schema, engine="udf"))]
    valid, violations = auto.json_columns(F.col("doc"))
    got.append(_rows(df.select("i", valid.alias("valid"),
                               violations.alias("violations"))))
    assert got[0] == got[1] == got[2]
    assert [ok for ok, _ in got[0]] == [False, False]
    assert '"?x"' in got[0][1][1][0][2]


def test_wide_multiple_of_same_verdict_on_every_path(spark):
    """A 40-digit integer is a multiple of 0.5; the kernel's remainder
    stays exact past its default 28 digits, so ``udf`` agrees with the
    expression path."""
    schema = {"properties": {"a": {"type": "number", "maximum": 5,
                                   "multipleOf": 0.5}}}
    docs = ['{"a":-1234567890123456789012345678901234567890}',
            '{"a":-1234567890123456789012345678901234567890.25}']
    df = spark.createDataFrame(list(enumerate(docs)), "i int, doc string")
    auto, udf = (SparkValidator(schema, engine=e) for e in ("auto", "udf"))
    assert _rows(auto.apply_json(df, "doc")) == _rows(udf.apply_json(df, "doc"))
    assert [ok for ok, _ in _rows(udf.apply_json(df, "doc"))] == [True, True]


def test_lone_surrogate_key_same_result_on_every_path(spark):
    """A lone surrogate in an object KEY reaches the violation path, and
    one in a nested value the message; every path renders both as
    ``?``."""
    schema = {"patternProperties": {".": {"properties": {"b": {"const": 0}}}}}
    docs = [r'{"\ud800":{"b":"\udc00"}}', r'{"a\udc00":{"b":1},"c":{"b":0}}']
    df = spark.createDataFrame(list(enumerate(docs)), "i int, doc string")
    auto = SparkValidator(schema)
    got = [_rows(v.apply_json(df, "doc"))
           for v in (auto, SparkValidator(schema, engine="udf"))]
    valid, violations = auto.json_columns(F.col("doc"))
    got.append(_rows(df.select("i", valid.alias("valid"),
                               violations.alias("violations"))))
    assert got[0] == got[1] == got[2]
    assert [[v[0] for v in vs] for _, vs in got[0]] == [["/?/b"], ["/a?/b"]]
    assert '"?"' in got[0][0][1][0][2]


@pytest.mark.parametrize("s,want", [
    ("plain", "plain"),
    ("\u00e9\u20ac", "\u00e9\u20ac"),
    ("\U0001F600", "\U0001F600"),
    ("\ud800", "?"),
    ("\udc00x", "?x"),
    ("\udc00\ud800", "??"),
    ("x\udfff\U0001F600", "x?\U0001F600"),
], ids=["ascii", "bmp", "astral", "high", "low", "reversed-pair", "mixed"])
def test_utf8_replaces_only_unpaired_surrogates(s, want):
    assert _utf8(s) == want
    _utf8(s).encode("utf-8")


def test_java_string_hash_counts_unpaired_surrogate_as_one_unit():
    """``required`` names are ordered as a Java ``HashSet`` iterates
    them; a lone-surrogate name (legal JSON) hashes as one UTF-16 code
    unit. Values printed by ``String.hashCode`` and a ``HashSet`` on a
    JDK 17."""
    from json_schema_spark.core.messages import (
        java_hashset_order,
        java_string_hash,
    )

    assert [java_string_hash(s) for s in
            ("\ud800", "\udc00x", "\U0001F600", "a\ud800b")] == [
        55296, 1746040, 1772899, 1807491]
    assert java_hashset_order(
        ["b", "\ud800", "a", "\udc00x", "zz", "\U0001F600"]) == [
        "\ud800", "zz", "a", "b", "\udc00x", "\U0001F600"]


# (schema, document) pairs whose kernel violation carries an unpaired
# surrogate in its path or message, one per keyword that renders the
# instance, a key, or a schema name
_SURROGATE_VIOLATIONS = {
    "const": ({"properties": {"a": {"const": 0}}}, r'{"a":"\ud800"}'),
    "enum": ({"properties": {"a": {"enum": [0, 1]}}}, r'{"a":"\ud800"}'),
    "type": ({"properties": {"a": {"type": "integer"}}}, r'{"a":"\ud800"}'),
    "pattern": ({"properties": {"a": {"pattern": "^x$"}}}, r'{"a":"\udc00"}'),
    "format": ({"properties": {"a": {"format": "email"}}}, r'{"a":"\ud800"}'),
    "items": ({"items": {"type": "integer"}}, r'["\udc00x"]'),
    "propertyNames": ({"propertyNames": {"pattern": "^x$"}}, r'{"\ud800":1}'),
    "additionalProperties": ({"additionalProperties": False}, r'{"\ud800":1}'),
    "patternProperties": ({"patternProperties": {".": {"type": "string"}}},
                          r'{"\udc00":1}'),
    "properties": ({"properties": {"\ud800": {"minimum": 1}}}, r'{"\ud800":0}'),
    "required": ({"required": ["\ud800"]}, "{}"),
}


@pytest.mark.parametrize("keyword", sorted(_SURROGATE_VIOLATIONS))
def test_kernel_violation_text_utf8_after_replacement(keyword):
    """The kernel keeps an unpaired surrogate in its violation text (the
    hazard the kernel UDF's replacement removes); after ``_utf8`` every
    path and message is UTF-8, and the verdict-only kernel agrees."""
    schema, doc = _SURROGATE_VIOLATIONS[keyword]

    def kernel(collect):
        return compile_schema(schema, config=CompileConfig(
            dialect="2020-12", format_assertions=True, collect_errors=collect))

    ok, errs = kernel(True).validate_json(doc)
    assert not ok and errs
    assert kernel(False).validate_json(doc)[0] is False
    texts = [t for p, _, m in errs for t in (p, m)]

    def encodable(t):
        try:
            t.encode("utf-8")
        except UnicodeEncodeError:
            return False
        return True

    assert not all(encodable(t) for t in texts)
    for t in texts:
        assert encodable(_utf8(t))
        assert _utf8(t).count("?") - t.count("?") == sum(
            "\ud800" <= c <= "\udfff" for c in t)
