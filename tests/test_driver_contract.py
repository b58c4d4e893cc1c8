"""The driver contract of ``__spark_entry__.py``, without starting
Spark: every query has an oracle and every oracle a query, every oracle
is one DuckDB statement over the tables ``scripts/check_oracles.py``
registers, and every query ``bench.py`` times exists."""

import functools
import importlib.util
import pathlib

import duckdb
import pytest
from pyspark import SparkContext

import __spark_entry__ as E

_ROOT = pathlib.Path(__file__).resolve().parent.parent


@functools.lru_cache(maxsize=None)
def _registered_tables() -> frozenset[str]:
    spec = importlib.util.spec_from_file_location(
        "check_oracles", _ROOT / "scripts" / "check_oracles.py")
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return frozenset(mod.TABLES)


def test_every_query_has_an_oracle():
    assert sorted(E.queries()) == sorted(E.oracle_sql())
    assert len(E.queries()) == 23


def test_bench_headline_names_queries():
    before = SparkContext._active_spark_context
    import bench

    assert SparkContext._active_spark_context is before  # no session started
    assert set(bench.HEADLINE) <= set(E.queries())


@pytest.mark.parametrize("name", sorted(E.oracle_sql()))
def test_oracle_is_one_statement_over_registered_tables(name):
    sql = E.oracle_sql()[name]
    assert len(duckdb.extract_statements(sql)) == 1
    tables = duckdb.get_table_names(sql)
    assert tables and tables <= _registered_tables()
