"""User-registered format predicates (reference:
``SchemaBuilder.java:306-323`` / ReadmeGistsTest custom formats) —
driver-side kernel and the executor UDF path (predicates ride in the
pandas-UDF closure)."""

import json

from json_schema_spark.core.validator import CompileConfig, compile_schema
from json_schema_spark.plans.runner import SparkValidator

SCHEMA = {"type": "object", "properties": {"sku": {"format": "sku"}}}


def _is_sku(s: str) -> bool:
    return s.startswith("SKU-") and s[4:].isdigit()


def test_kernel_custom_format():
    cfg = CompileConfig(dialect="draft7", custom_formats={"sku": _is_sku})
    cs = compile_schema(SCHEMA, config=cfg)
    assert cs.is_valid({"sku": "SKU-123"}) is True
    assert cs.is_valid({"sku": "BAD-1"}) is False
    assert cs.is_valid({"sku": 7}) is True  # formats only apply to strings
    # without registration the unknown format is annotation-only
    cs2 = compile_schema(SCHEMA, config=CompileConfig(dialect="draft7"))
    assert cs2.is_valid({"sku": "BAD-1"}) is True


def test_spark_udf_custom_format(spark):
    v = SparkValidator(SCHEMA, dialect="draft7", engine="udf",
                       custom_formats={"sku": _is_sku})
    rows = [(0, json.dumps({"sku": "SKU-99"})), (1, json.dumps({"sku": "nope"}))]
    df = spark.createDataFrame(rows, "i int, doc string")
    got = {r["i"]: r["valid"] for r in v.apply_json(df, "doc").collect()}
    assert got == {0: True, 1: False}


def _is_sku_lax(s: str) -> bool:
    return s.startswith("SKU-")


def test_executor_kernel_cache_keyed_by_content(spark):
    """Same schema, different predicates: each validator keeps its own
    verdicts in one session. Identical hooks share one cached kernel."""
    from json_schema_spark.plans import runner

    strict = SparkValidator(SCHEMA, engine="udf", custom_formats={"sku": _is_sku})
    lax = SparkValidator(SCHEMA, engine="udf", custom_formats={"sku": _is_sku_lax})
    rows = [(0, json.dumps({"sku": "SKU-99"})), (1, json.dumps({"sku": "SKU-x"}))]
    df = spark.createDataFrame(rows, "i int, doc string")
    for v, want in ((strict, {0: True, 1: False}), (lax, {0: True, 1: True}),
                    (strict, {0: True, 1: False})):
        assert {r["i"]: r["valid"] for r in v.apply_json(df, "doc").collect()} == want

    twin = SparkValidator(SCHEMA, engine="udf", custom_formats={"sku": _is_sku})
    assert twin._spec_key == strict._spec_key != lax._spec_key
    k = runner._executor_kernel(strict._spec_key, strict._spec, True)
    assert runner._executor_kernel(twin._spec_key, twin._spec, True) is k
    assert [key for key in runner._KERNEL_CACHE
            if key[0] == strict._spec_key] == [(strict._spec_key, True)]
    assert k.is_valid({"sku": "SKU-x"}) is False
