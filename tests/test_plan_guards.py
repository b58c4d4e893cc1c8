"""Physical-plan regression guards: the scale-critical plan properties
documented in PLANS.md, asserted on the real executed plans so a
refactor cannot silently reintroduce a Python node, a corpus shuffle,
or a lost pushdown.
"""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

from json_schema_spark.flagship import FLAGSHIP_SCHEMA, validate_source_table
from json_schema_spark.operators.ledger import partition_ledger
from json_schema_spark.plans.runner import SparkValidator
from json_schema_spark.sources.synth import source_code_table


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture(scope="module")
def src(spark):
    return source_code_table(spark, 2000, partitions=4)


def test_flagship_plan_python_free_no_shuffle(spark, src):
    out = validate_source_table(src, with_sha=True)
    plan = _plan(out)
    assert "Python" not in plan          # zero UDFs on the typed-row path
    assert "Exchange" not in plan        # pure projection over the scan


_PROJECT = re.compile(r"^[ +\-:]*(\*\(\d+\) )?Project \[", re.M)


def _run_plan(df) -> str:
    """The plan ``df`` executed with, read after running it: under AQE
    the plan read before execution shows no codegen stages."""
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    return plan.split("== Initial Plan ==")[0]


def _interpreted_projects(plan: str) -> list[str]:
    found = list(_PROJECT.finditer(plan))
    assert found, plan
    return [m.group(0) for m in found if m.group(1) is None]


@pytest.fixture(scope="module")
def scanned(spark, src, tmp_path_factory):
    """``src`` read back from parquet: the generator's own projection
    is not codegen'd, a file scan is."""
    p = str(tmp_path_factory.mktemp("codegen") / "src")
    src.write.parquet(p)
    return spark.read.parquet(p)


def test_flagship_validation_is_whole_stage_codegen(spark, scanned):
    """A CodegenFallback expression (a higher-order function such as
    ``filter``/``transform``) in the violations array would drop the
    validation Project out of whole-stage codegen."""
    v = SparkValidator(FLAGSHIP_SCHEMA, dialect="draft7")
    out = v.apply_table(scanned, columns=["repo", "path", "commit", "lang", "content"],
                        with_violations=True)
    assert _interpreted_projects(_run_plan(out)) == []


@pytest.mark.parametrize("observed", [False, True])
def test_flagship_ledger_rows_are_whole_stage_codegen(spark, scanned, observed):
    """The north-rule job, with and without an ``observe`` between
    validation and ledger (without one, Catalyst may collapse the two
    projections into one): every Project below the ledger's Exchange is
    codegen'd, so neither the violations array nor the ledger's per-row
    projection holds a CodegenFallback expression."""
    validated = validate_source_table(scanned)
    if observed:
        validated = validated.observe("rows", F.count(F.lit(1)).alias("n"))
    plan = _run_plan(partition_ledger(validated))
    below = plan[plan.index("Exchange"):]
    assert _interpreted_projects(below) == []


def test_flagship_column_pruning_reaches_scan(spark, src, tmp_path):
    p = str(tmp_path / "files")
    src.write.parquet(p)
    df = spark.read.parquet(p)
    v = SparkValidator(FLAGSHIP_SCHEMA, dialect="draft7")
    out = v.apply_table(df, columns=["repo", "commit", "lang"],
                        with_violations=False).select("valid")
    plan = _plan(out)
    scan = plan[plan.index("ReadSchema"):].splitlines()[0]
    assert "content" not in scan, f"unreferenced column scanned: {scan}"


def test_column_stats_exact_spreads_expand(spark):
    """Exact-distinct column_stats Expands each row N+1 ways; on a
    narrow local scan (1 partition) that multiplied work must be
    repartitioned up to session parallelism, not pinned to one core.
    At cluster scale the input already has >= parallelism splits and
    no round-robin Exchange is inserted."""
    from json_schema_spark.operators.checks import column_stats

    one_part = spark.range(1000).select(
        F.col("id"), (F.col("id") % 7).alias("a")).coalesce(1)
    plan = _plan(column_stats(one_part, exact_distinct=True))
    assert "Expand" in plan
    assert "RoundRobinPartitioning" in plan, (
        "exact-mode Expand left on a single input partition")
    # already-parallel input: no round-robin shuffle inserted
    wide = spark.range(1000).repartition(
        spark.sparkContext.defaultParallelism).select(
        F.col("id"), (F.col("id") % 7).alias("a"))
    plan2 = _plan(column_stats(wide, exact_distinct=True))
    assert "RoundRobinPartitioning" not in plan2.split("Expand")[0]


# six properties shaped like the JSON workload's documents: strings with
# pattern/maxLength/enum, a bounded integer, an array with items and
# uniqueItems
_DOC_SCHEMA = {
    "type": "object",
    "required": ["repo", "path", "commit", "lang", "tokens", "tags"],
    "properties": {
        "repo": {"type": "string", "pattern": "^org[0-9]+/repo[0-9]+$"},
        "path": {"type": "string", "maxLength": 512},
        "commit": {"type": "string", "pattern": "^[0-9a-f]{40}$"},
        "lang": {"enum": ["python", "java", "sql"]},
        "tokens": {"type": "integer", "minimum": 16, "maximum": 120},
        "tags": {"type": "array", "items": {"type": "string"},
                 "uniqueItems": True},
    },
}


def _call_args(plan: str, call: str) -> list[str]:
    """The argument text of every ``call(...)`` in ``plan``."""
    out, i = [], plan.find(call)
    while i >= 0:
        start = i + len(call)
        depth = 1
        j = start
        while depth:
            depth += {"(": 1, ")": -1}.get(plan[j], 0)
            j += 1
        out.append(plan[start:j - 1])
        i = plan.find(call, start)
    return out


def test_apply_json_extracts_each_variant_path_once(spark):
    """The hoisted plan navigates each property once and type-tags each
    row-level value once; every check reads the slot columns. Inline,
    ``$.tokens`` alone was navigated 183 times."""
    df = spark.createDataFrame([(1, '{"tokens": 3}')], "id long, doc string")
    out = SparkValidator(_DOC_SCHEMA).apply_json(df, "doc")
    key = "spark.sql.debug.maxToStringFields"  # no "... more fields"
    old = spark.conf.get(key)
    spark.conf.set(key, "1000000")
    try:
        plan = out._jdf.queryExecution().optimizedPlan().toString()
    finally:
        spark.conf.set(key, old)
    for name in _DOC_SCHEMA["properties"]:
        assert plan.count(f"$.{name},") == 1, name
    # type tags of row-level values; those of lambda-variable values
    # (array elements) stay inline by design (lambda scope)
    tags = [a for a in _call_args(plan, "schemaOfVariant(") if "lambda " not in a]
    assert len(tags) <= len(_DOC_SCHEMA["properties"]) + 1, tags


def test_apply_json_keeps_caller_columns_named_like_temps(spark):
    df = spark.createDataFrame(
        [(1, '{"tokens": 200}', "mine", 7)],
        "id long, doc string, __jss_variant string, __JSS_S1 int")
    out = SparkValidator(_DOC_SCHEMA).apply_json(df, "doc")
    assert out.columns == df.columns + ["valid", "violations"]
    r = out.collect()[0]
    assert (r["__jss_variant"], r["__JSS_S1"], r["valid"]) == ("mine", 7, False)
