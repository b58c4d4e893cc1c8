"""Typed error model (core/errors.py — EErrorType.java parity)."""

from __future__ import annotations

import re

from json_schema_spark.core.errors import ErrorKind, KEYWORD_TO_KIND, error_kind_of


def test_reference_kinds_all_present():
    """Every one of the reference's 31 EErrorType values has a
    counterpart (results/EErrorType.java:3-34)."""
    ref = {
        "CONST", "CONTAINS_MIN", "CONTAINS_MAX", "DEPENDENCIES",
        "DEPENDENT_REQUIRED", "ENUM", "EXCLUSIVE_MAXIMUM",
        "EXCLUSIVE_MINIMUM", "FORMAT", "MAXIMUM", "MINIMUM", "MAX_ITEMS",
        "MIN_ITEMS", "MAX_PROPERTIES", "MIN_PROPERTIES", "MULTIPLE_OF",
        "NOT", "ONE_OF_EMPTY", "ONE_OF_MORE_THAN_ONE", "ANY_OF",
        "PATTERN", "REQUIRED", "FALSE_SCHEMA", "TYPE", "UNIQUE_ITEMS",
        "MAX_LENGTH", "MIN_LENGTH", "CONTENT_ENCODING", "CONTENT_TYPE",
        "CONTENT_SCHEMA",
    }
    have = {k.value for k in ErrorKind}
    assert ref <= have


def test_every_emitted_keyword_maps():
    """Every keyword string either engine emits in violation rows must
    map to a non-OTHER kind — grep both engines for _err/Check keyword
    literals, and the kernel's direct ``errors.append((path, "<kw>",``
    calls, and check the table covers them."""
    import pathlib

    src = pathlib.Path("json_schema_spark")
    kernel = (src / "core" / "validator.py").read_text()
    emitted = set(re.findall(r'self\._err\(errors, [^,]+, "([^"]+)"', kernel))
    appended = set(re.findall(r'errors\.append\(\([^,]+, "([^"]+)"', kernel))
    assert {"$recursiveRef", "$dynamicRef"} <= appended
    emitted |= appended
    expr = (src / "plans" / "compiler.py").read_text()
    emitted |= set(re.findall(r'Check\([^)]*?, "([^"]+)",', expr))
    emitted |= {"$parse"}
    unmapped = {kw for kw in emitted if error_kind_of(kw) is ErrorKind.OTHER}
    assert not unmapped, f"keywords without an ErrorKind: {sorted(unmapped)}"


def test_kind_col_matches_python_mapping(spark):
    from pyspark.sql import functions as F

    from json_schema_spark.core.errors import error_kind_col

    kws = sorted(KEYWORD_TO_KIND) + ["something-unknown"]
    df = spark.createDataFrame([(k,) for k in kws], "kw string")
    got = {r["kw"]: r["kind"]
           for r in df.select("kw", error_kind_col(F.col("kw")).alias("kind")).collect()}
    for k in kws:
        assert got[k] == error_kind_of(k).value
