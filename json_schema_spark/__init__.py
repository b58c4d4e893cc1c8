"""json_schema_spark — PySpark-native schema + constraint validation engine.

A from-scratch re-expression of the capabilities of
georgeakulov/json-schema (JSON Schema drafts 7 / 2019-09 / 2020-12)
as an idiomatic Spark engine:

* :mod:`json_schema_spark.core` — driver-side schema registry and the
  compile-once / apply-many validator kernel;
* :mod:`json_schema_spark.plans` — schema → Spark SQL ``Column``
  expression compiler (whole-stage-codegen fast path) with a vectorized
  pandas-UDF fallback;
* :mod:`json_schema_spark.operators` — table-level checks (column
  stats, uniqueness, referential integrity, distribution drift,
  snapshot reconciliation, incremental re-validation, per-partition
  ledger and resumable checkpointed runs);
* :mod:`json_schema_spark.sources` — deterministic synthetic
  source-code-repository table generator and schema loaders;
* :mod:`json_schema_spark.streaming` — Structured Streaming validation
  sink.
"""

from .core.registry import SchemaRegistry
from .core.validator import CompileConfig, CompiledSchema, SchemaCompileError, compile_schema

__all__ = [
    "SchemaRegistry",
    "CompileConfig",
    "CompiledSchema",
    "SchemaCompileError",
    "compile_schema",
]

__version__ = "0.1.0"
