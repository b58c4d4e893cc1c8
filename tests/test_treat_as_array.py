"""Experimental treat-as-array mode (``SchemaBuilder.setTryCastToArray``,
``SchemaBuilder.java:159-166`` / ``ObjectTreatAsArrayTest.java:12-31``):
``type: "array"`` accepts any node and 2020-12 ``items`` validates
non-arrays as single-element arrays."""

from __future__ import annotations

import json

from json_schema_spark.core.validator import CompileConfig, compile_schema
from json_schema_spark.plans.runner import SparkValidator


def _compile(schema, taa=True):
    return compile_schema(
        schema, config=CompileConfig(dialect="2020-12", treat_as_array=taa)
    )


def test_type_array_accepts_object():
    # the reference's ObjectTreatAsArrayTest scenario verbatim
    assert _compile({"type": "array"}).is_valid({"some": True})
    assert not _compile({"type": "array"}, taa=False).is_valid({"some": True})


def test_items_wraps_scalar():
    s = {"items": {"type": "integer"}}
    assert _compile(s).is_valid(3)          # wrapped to [3]
    assert not _compile(s).is_valid("x")    # wrapped to ["x"] -> items fails
    assert _compile(s, taa=False).is_valid("x")  # off: non-array no-ops


def test_spark_validator_treat_as_array(spark):
    v = SparkValidator(
        {"type": "array", "items": {"type": "integer"}},
        dialect="2020-12", treat_as_array=True,
    )
    df = spark.createDataFrame(
        [(0, json.dumps(5)), (1, json.dumps([1, 2])), (2, json.dumps("x"))],
        "i int, doc string",
    )
    out = v.apply_json(df, "doc", with_violations=False).orderBy("i")
    assert [r["valid"] for r in out.collect()] == [True, True, False]


def test_apply_table_treat_as_array_matches_kernel(spark):
    """The typed path honors treat_as_array too: under ``auto`` a scalar
    where the schema wants an array is wrapped, as on the kernel."""
    schema = {"properties": {"t": {"type": "array", "items": {"type": "string"}}}}
    auto = SparkValidator(schema, treat_as_array=True)
    udf = SparkValidator(schema, treat_as_array=True, engine="udf")
    for rows, ddl in ([("x",), (None,)], "t string"), ([(5,)], "t int"):
        df = spark.createDataFrame(rows, ddl)
        got = [(r["valid"], [tuple(v) for v in r["violations"]])
               for r in auto.apply_table(df).collect()]
        assert got == [(r["valid"], [tuple(v) for v in r["violations"]])
                       for r in udf.apply_table(df).collect()]
        assert got == [auto.kernel.validate_json(json.dumps(
            {} if r[0] is None else {"t": r[0]})) for r in rows]
