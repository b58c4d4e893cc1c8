"""The engine decision and kernel hand-off of ``SparkValidator``: the
fallback keeps every caller column and runs the kernel once per row,
and a verdict does not depend on the session's duplicate-key setting."""

from __future__ import annotations

import pandas as pd
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


# The fallback workload's shape: document fields that compile to
# Columns, and tags behind a recursive $ref (a tag is a string or a
# nested tag list), each checked against anyOf [string, $ref tagList].
_TAG_SCHEMA = {
    "$schema": "http://json-schema.org/draft-07/schema#",
    "type": "object",
    "required": ["repo", "path", "commit", "lang", "tokens", "tags"],
    "properties": {
        "repo": {"type": "string", "pattern": "^org[0-9]+/repo[0-9]+$"},
        "path": {"type": "string", "maxLength": 512},
        "commit": {"type": "string", "pattern": "^[0-9a-f]{40}$"},
        "lang": {"enum": ["python", "java", "go"]},
        "tokens": {"type": "integer", "minimum": 16, "maximum": 120},
        "tags": {"$ref": "#/definitions/tagList"},
    },
    "definitions": {
        "tagList": {"type": "array", "items": {"$ref": "#/definitions/tag"},
                    "uniqueItems": True},
        "tag": {"anyOf": [{"type": "string"}, {"$ref": "#/definitions/tagList"}]},
    },
}

_TAG_DOCS = [
    '{"repo":"org1/repo2","path":"a.py","commit":"%s","lang":"python",'
    '"tokens":%s,"tags":%s}' % ("0f" * 20, tokens, tags)
    for tokens, tags in [
        (40, '["io","net"]'),
        (121, '["io","net"]'),              # maximum
        (40, '["io","io"]'),                # uniqueItems
        (40, '["io",["net","db"]]'),        # nested tag list
        (40, '["io",["net","net"]]'),       # nested uniqueItems
        (40, '["io",7]'),                   # a tag neither string nor list
        (3, '[1,["x",{}]]'),
    ]
] + ['{"repo":"x","tags":["io"]}', '{"tags":"io"}']


@pytest.fixture
def render_count(monkeypatch):
    """Counts the kernel's ``render_message`` calls."""
    import json_schema_spark.core.validator as kernel_mod

    calls = []
    render = kernel_mod.render_message

    def counting(*args):
        calls.append(args[0])
        return render(*args)

    monkeypatch.setattr(kernel_mod, "render_message", counting)
    return calls


def test_verdict_only_kernel_renders_no_message(render_count):
    """``is_valid_json`` decides without rendering a message, in the
    verdict-only kernel the UDF uses and in the collecting one."""
    for collect in (False, True):
        kernel = compile_schema(_TAG_SCHEMA, config=CompileConfig(
            collect_errors=collect))
        verdicts = [kernel.is_valid_json(d) for d in _TAG_DOCS]
        assert verdicts == [True, False, False, True, False, False, False,
                            False, False]
    assert render_count == []


def test_kernel_renders_only_the_errors_it_returns(render_count):
    """``validate_json`` renders one message per returned error: the
    errors of anyOf branches that a passing branch discards are never
    rendered."""
    kernel = compile_schema(_TAG_SCHEMA)
    errors = [e for d in _TAG_DOCS for e in kernel.validate_json(d)[1]]
    assert len(errors) == 21
    assert len(render_count) == len(errors)


def test_string_tag_never_enters_the_tag_list_branch(monkeypatch):
    """anyOf stops at its first passing branch when no unevaluated*
    keyword reads annotations: a string tag passes ``type: string`` and
    the ``$ref tagList`` branch is never entered."""
    from json_schema_spark.core.validator import _Compiler

    entered = []
    build = _Compiler._build

    def counting_build(self, node):
        fn = build(self, node)
        if node != _TAG_SCHEMA["definitions"]["tagList"]:
            return fn

        def entry(inst, path, scope):
            if isinstance(inst, str) and len(path) > 1:  # a tag, not /tags
                entered.append(path)
            return fn(inst, path, scope)

        return entry

    monkeypatch.setattr(_Compiler, "_build", counting_build)
    for collect in (False, True):
        kernel = compile_schema(_TAG_SCHEMA, config=CompileConfig(
            collect_errors=collect))
        for d in _TAG_DOCS:
            kernel.is_valid_json(d)
            kernel.validate_json(d)
    assert entered == []


@pytest.mark.parametrize("doc", [
    '\ufeff{"a":1}',  # a leading BOM
    "NaN",
    '{"a":NaN}',
    "[" * 100_000 + "]" * 100_000,  # nested past the recursion limit
    '{"a":' * 100_000 + "1" + "}" * 100_000,
])
def test_unparseable_document_is_parse_invalid(doc):
    """The kernel's one shared JSON decoder rejects what Jackson
    rejects: the document is ``$parse``-invalid in both kernels."""
    for collect in (False, True):
        kernel = compile_schema({}, config=CompileConfig(collect_errors=collect))
        assert kernel.is_valid_json(doc) is False
        assert kernel.validate_json(doc) == (
            False, [("", "$parse", "not parseable JSON")])


def test_annotations_tracked_for_validators_compiled_before_unevaluated():
    """One compiler builds a subschema first and, later, a schema whose
    unevaluatedProperties reads that subschema's annotations (the
    typed compiler's propertyNames kernel compiles subschemas one by
    one like this): the earlier validator still reports them."""
    from json_schema_spark.core.registry import SchemaRegistry
    from json_schema_spark.core.validator import _Compiler

    props = {"properties": {"a": True}}
    strict = {"allOf": [props], "unevaluatedProperties": False}
    reg = SchemaRegistry(default_dialect="2020-12")
    reg.add({"$defs": {"p": props, "s": strict}}, "https://example.com/s.json")
    comp = _Compiler(reg, CompileConfig(dialect="2020-12"))
    assert comp.compile_node(props)({"a": 1}, (), ())[0] is True
    fn = comp.compile_node(strict)
    assert fn({"a": 1}, (), ())[0] is True
    assert fn({"b": 1}, (), ())[0] is False


def test_number_bounds_convert_each_instance_once(monkeypatch):
    """``minimum``/``maximum``/``exclusiveMinimum``/``exclusiveMaximum``
    of one subschema convert a number instance once, report their
    errors in keyword order, and a verdict-only kernel still decides."""
    import json_schema_spark.core.validator as kernel_mod

    schema = {"minimum": 5, "maximum": 3, "exclusiveMinimum": 4,
              "exclusiveMaximum": 10}
    collecting, verdict_only = (
        compile_schema(schema, config=CompileConfig(collect_errors=c))
        for c in (True, False))
    tags = compile_schema(_TAG_SCHEMA)
    calls = []
    to_decimal = kernel_mod.to_decimal

    def counting(v):
        calls.append(v)
        return to_decimal(v)

    monkeypatch.setattr(kernel_mod, "to_decimal", counting)
    ok, errors = collecting.validate_json("4")
    assert not ok
    assert [kw for _, kw, _ in errors] == ["minimum", "maximum", "exclusiveMinimum"]
    assert verdict_only.is_valid_json("4") is False
    assert verdict_only.is_valid_json('"4"') is True
    assert calls == [4, 4]
    del calls[:]
    assert [tags.is_valid_json(d) for d in _TAG_DOCS[:2]] == [True, False]
    assert calls == [40, 121]  # tokens: one conversion for both bounds


def test_kernel_worker_does_not_reread_unchanged_zips(spark):
    """A Python worker that has run the kernel does not re-parse Spark's
    zip archives before its next task. A probe UDF in the kernel's
    projection (one ArrowEvalPython node, so one worker per task)
    counts the ``zipimport._read_directory`` calls that
    ``importlib.invalidate_caches()`` makes, the call PySpark's worker
    makes before every task. Idle workers are taken in turn, so the
    action repeats until a worker that ran the kernel comes back."""

    def probe(docs: pd.Series) -> pd.DataFrame:
        import importlib
        import os
        import zipimport

        read, reads = zipimport._read_directory, []

        def counting(path):
            reads.append(path)
            return read(path)

        zipimport._read_directory = counting
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = read
        return pd.DataFrame({"pid": [os.getpid()] * len(docs),
                             "reads": [len(reads)] * len(docs)})

    v = SparkValidator(_TAG_SCHEMA, engine="udf")
    # a JVM-only source: createDataFrame(list) runs Python tasks itself
    df = spark.range(1).select(F.explode(F.array(
        *[F.lit(d) for d in _TAG_DOCS[:3]])).alias("doc")).coalesce(1)
    out = v.apply_json(df, "doc", with_violations=False).withColumn(
        "probe", F.pandas_udf(probe, "struct<pid:int,reads:int>")("doc"))
    assert _plan(out).count("ArrowEvalPython") == 1
    ran_kernel, repeats = set(), []
    for _ in range(12):
        rows = out.select("valid", "probe.*").collect()
        assert [r["valid"] for r in rows] == [True, False, False]
        repeats += [r["reads"] for r in rows if r["pid"] in ran_kernel]
        if repeats:
            break
        ran_kernel |= {r["pid"] for r in rows}
    assert repeats and set(repeats) == {0}, repeats
