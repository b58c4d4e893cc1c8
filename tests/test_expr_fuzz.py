"""Generated-schema fuzz of the SPARK expression path: random schemas
(same generator as the jsonschema differential) compiled to Column
expressions, evaluated over random instances in ONE Spark job per
draft (every expressible schema becomes one boolean column of a single
DataFrame), and compared verdict-for-verdict against the Python kernel
— which the jsonschema-library differential independently pins to the
spec. Closes the loop: generator ↔ kernel ↔ library, kernel ↔ Spark
plan.
"""

from __future__ import annotations

import json
import random
from functools import reduce

import pytest
from pyspark.sql import DataFrame, functions as F

from json_schema_spark.plans.compiler import ExprUnsupported
from json_schema_spark.plans.runner import SparkValidator
from tests import differential_gen as G

N_SCHEMAS = 100
N_INSTANCES = 30
HOISTED_STRIDE = 4


@pytest.mark.parametrize("dialect", ["draft7", "2019-09", "2020-12"])
def test_expr_path_fuzz(spark, dialect):
    rng = random.Random(f"expr-fuzz-{dialect}")
    instances = [G.value(rng) for _ in range(N_INSTANCES)]
    docs = [json.dumps(v) for v in instances]
    df = spark.createDataFrame([(i, d) for i, d in enumerate(docs)], "i int, doc string")

    validators, cols = [], []
    tried = expressible = 0
    while len(validators) < N_SCHEMAS and tried < N_SCHEMAS * 4:
        tried += 1
        schema = G.schema(rng, dialect, depth=3, top=True)
        try:
            v = SparkValidator(schema, dialect=dialect)
            valid_col, _ = v.json_columns(F.col("doc"))
        except ExprUnsupported:
            continue
        except Exception:
            continue  # generator artifact the compiler rejects outright
        expressible += 1
        validators.append(v)
        cols.append(valid_col.alias(f"v{len(cols)}"))

    assert expressible >= N_SCHEMAS * 0.6  # the fast path carries most schemas

    # the hoisted plan (apply_json's slot projections) rides along on
    # every HOISTED_STRIDE-th schema, one union branch each (building a
    # second plan per schema doubles the driver-side cost)
    one = df.coalesce(1)
    hoisted = reduce(DataFrame.unionAll, [
        v.apply_json(one, "doc", with_violations=False)
         .select("i", F.lit(k).alias("k"), "valid")
        for k, v in enumerate(validators) if k % HOISTED_STRIDE == 0])
    av = {(r["k"], r["i"]): r["valid"] for r in hoisted.collect()}

    out = df.select("i", *cols).orderBy("i").collect()
    for row in out:
        i = row["i"]
        for k, v in enumerate(validators):
            got = row[f"v{k}"]
            assert av.get((k, i), got) is got, (
                f"dialect={dialect} schema#{k} instance#{i} "
                f"apply_json={av[k, i]} json_columns={got}")
            want = v.kernel.is_valid_json(docs[i])
            assert got is want, (
                f"dialect={dialect} schema#{k} instance#{i}\n"
                f"schema={json.dumps(v.schema)}\ninstance={docs[i]}\n"
                f"spark-expr={got} kernel={want}"
            )
