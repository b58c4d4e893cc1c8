"""The engine decision and kernel hand-off of ``SparkValidator``: the
fallback keeps every caller column and runs the kernel once per row,
and a verdict does not depend on the session's duplicate-key setting."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from json_schema_spark.plans.compiler import ExprUnsupported
from json_schema_spark.plans.runner import SparkValidator

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
