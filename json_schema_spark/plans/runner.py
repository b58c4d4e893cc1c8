"""SparkValidator — apply a compiled schema to DataFrames.

``engine='auto'`` tries the Column-expression fast path
(:mod:`json_schema_spark.plans.compiler`) and falls back to the
Arrow-batched pandas-UDF kernel for schemas the expression compiler
cannot express — the Spark analogue of the reference's single
``Schema.apply`` entry point (``Schema.java:30-86``), with laziness
supplied by the DataFrame plan instead of a cold reactive pipeline.
That choice is made in one place (:meth:`SparkValidator._apply`, with
:meth:`SparkValidator._expr_gate`) for ``json_columns``, ``apply_json``
and ``apply_table``.

The UDF fallback ships one kernel spec to executors: the validator's
own (schema, registry docs, :class:`CompileConfig`), cloudpickled once
and keyed by its sha256. Each worker compiles the Python kernel from it
**once** via a module-level cache — compile-once / apply-many across
Arrow batches.
"""

from __future__ import annotations

import hashlib
import json
from dataclasses import replace
from typing import Any, Callable, Iterable, Optional

import pandas as pd
from pyspark import cloudpickle
from pyspark.sql import Column, DataFrame, SparkSession, functions as F

from ..core.registry import SchemaRegistry
from ..core.validator import (CompileConfig, CompiledSchema,
                              SchemaCompileError, compile_schema)
from ..session import install_zip_cache_check
from .compiler import (
    Check,
    ExprUnsupported,
    SlotSink,
    TypedRowCompiler,
    VariantCompiler,
    ok_of,
    violations_array,
)

__all__ = ["SparkValidator", "VIOLATION_SCHEMA"]

VIOLATION_SCHEMA = "array<struct<path:string,keyword:string,message:string>>"
_RESULT_SCHEMA = f"struct<valid:boolean,violations:{VIOLATION_SCHEMA}>"

# try_parse_json rejects a duplicate key unless this is on; the kernel
# keeps the last one, as Jackson does
_DUPLICATE_KEYS = "spark.sql.variant.allowDuplicateKeys"

# executor-side kernel cache: one compile per (spec sha256, collect) per worker
_KERNEL_CACHE: dict[tuple[str, bool], CompiledSchema] = {}


def _executor_kernel(key: str, spec: bytes, collect: bool) -> CompiledSchema:
    k = _KERNEL_CACHE.get((key, collect))
    if k is None:
        install_zip_cache_check()  # this worker's later tasks start sooner
        schema, docs, config = cloudpickle.loads(spec)
        reg = SchemaRegistry(default_dialect=config.dialect)
        for uri, doc in docs.items():
            reg.add(doc, uri)
        k = _KERNEL_CACHE[(key, collect)] = compile_schema(
            schema, registry=reg, config=replace(config, collect_errors=collect))
    return k


def _utf8(s: str) -> str:
    """``s`` with each unpaired surrogate (legal in a JSON ``\\u``
    escape) replaced by ``?``, as the JVM's UTF-8 encoder does; Arrow
    cannot carry the surrogate itself."""
    return s.encode("utf-8", "replace").decode("utf-8")


class SparkValidator:
    """Compile once on the driver; apply to any number of DataFrames.

    Parameters mirror the reference's ``SchemaBuilder``
    (``SchemaBuilder.java:356-388``): dialect default, format-assertion
    switch, content mode, external schema registry.
    """

    def __init__(
        self,
        schema: Any,
        dialect: Optional[str] = None,
        format_assertions: bool = False,
        content_mode: str = "default",
        registry: Optional[SchemaRegistry] = None,
        engine: str = "auto",  # auto | expr | udf
        custom_formats: Optional[dict] = None,  # name -> Callable[[str], bool]
        treat_as_array: bool = False,  # experimental setTryCastToArray analogue
        regex_factory=None,  # pattern -> search predicate (RegexFactory hook)
        content_encodings: Optional[dict] = None,  # name -> str -> bytes|None
        content_media_types: Optional[dict] = None,  # name -> str -> parsed|None
        embedded_spec_enabled: bool = True,  # allowEmbedOriginalSpec analogue
    ):
        if isinstance(schema, str):
            schema = json.loads(schema)
        self.schema = schema
        self.engine = engine
        # custom format predicates / regex dialect / content codecs ride
        # to executors inside the kernel spec (cloudpickled) —
        # mirrors SchemaBuilder.java:306-323 (formats),
        # SchemaBuilder.setRegexFactory (RegexFactory.java:19-22) and
        # SimpleContentValidationRegistry (CHANGES 1.2.0)
        self.custom_formats = dict(custom_formats or {})
        self.regex_factory = regex_factory
        self.content_encodings = {k.lower(): v for k, v in (content_encodings or {}).items()}
        self.content_media_types = {k.lower(): v for k, v in (content_media_types or {}).items()}
        self.config = CompileConfig(
            dialect=dialect or "draft7",
            format_assertions=format_assertions,
            content_mode=content_mode,
            custom_formats=self.custom_formats,
            treat_as_array=treat_as_array,
            regex_factory=self.regex_factory,
            content_encodings=self.content_encodings,
            content_media_types=self.content_media_types,
        )
        self.registry = registry or SchemaRegistry(
            default_dialect=self.config.dialect,
            embedded_spec_enabled=embedded_spec_enabled)
        self.root_uri = self.registry.add(schema)
        self.dialect = self.registry.dialect_of_node(schema) if isinstance(schema, dict) else self.config.dialect
        self.config.dialect = self.dialect
        # a custom meta-schema declaring the format-assertion vocabulary
        # turns assertions on engine-wide (covers the expression path;
        # the kernel additionally honors it per node)
        if isinstance(schema, dict) and self.registry.format_assertion_of(schema):
            self.config.format_assertions = True
        # driver-side kernel (differential oracle + local validation).
        # Schemas the reference REJECTS still fail here, eagerly; but a
        # pattern using a Java-only regex construct (class
        # intersection, \G, ...) is valid in the reference and on the
        # rlike expression path, so that one failure is deferred to
        # first kernel use instead of blocking construction.
        self._kernel = None
        self._kernel_error: Exception | None = None
        try:
            self._kernel = compile_schema(
                schema, registry=self.registry, config=self.config)
        except SchemaCompileError as e:
            from ..functions.java_regex import JavaOnlyRegex

            if isinstance(e.__cause__, JavaOnlyRegex):
                self._kernel_error = e
            else:
                raise
        # the executor kernel's spec, taken after the driver compile so
        # remote $refs it loaded ride along (anonymous docs are re-added
        # by compile_schema). Keyed by CONTENT, not instance identity:
        # id() can be reused after GC (stale-entry hazard), and identical
        # validators then share one executor kernel.
        docs = {u: d for u, d in self.registry.docs.items()
                if not u.startswith("urn:json-schema-spark:anon:")}
        self._spec = cloudpickle.dumps((schema, docs, self.config))
        self._spec_key = hashlib.sha256(self._spec).hexdigest()

    @property
    def kernel(self):
        if self._kernel is None:
            raise self._kernel_error
        return self._kernel

    # ------------------------------------------------------ JSON mode

    def _content_asserts(self) -> bool:
        from ..functions import content as content_mod

        return self.config.content_mode in (content_mod.ENCODING,
                                            content_mod.ENCODING_AND_SCHEMA)

    def _variant_checks(self, doc: Column,
                        slots: Optional[SlotSink] = None) -> list[Check]:
        """The checks of a JSON-string ``doc`` column, parse check first.
        With ``slots`` the parsed document and every extraction from it
        are slot columns (see :class:`SlotSink`); without, inline."""
        comp = VariantCompiler(
            self.registry,
            dialect=self.dialect,
            format_assertions=self.config.format_assertions,
            content_asserts=self._content_asserts(),
            regex_factory=self.regex_factory,
            slots=slots,
        )
        v = F.try_parse_json(doc)
        if slots is not None:
            v = slots.root(v)
        checks = comp.compile(self.schema, v, ())
        # unparseable document = invalid instance (Schema.apply parses first)
        parse_fail = Check(doc.isNotNull() & v.isNull(), "", "$parse", "not parseable JSON")
        return [parse_fail] + checks

    def json_columns(self, doc: Column) -> tuple[Column, Column]:
        """(valid, violations) Columns for a JSON-string doc column.

        Raises ExprUnsupported when the schema needs the UDF kernel.
        """
        self._expr_gate(SparkSession.active())
        checks = self._variant_checks(doc)
        return ok_of(checks), violations_array(checks)

    def apply_json(self, df: DataFrame, doc_col: str = "doc",
                   with_violations: bool = True) -> DataFrame:
        """Adds ``valid: boolean`` (and ``violations``) columns.

        The expression path evaluates no per-row extraction twice. The
        parse and every extraction from the parsed document (property
        navigation, type tags, typed casts) are named slot columns, added
        by one ``withColumns`` projection per nesting depth; one more
        projection computes each check's ``fail`` bit, which ``valid``
        and ``violations`` then share. The slots are dropped after the
        ``valid``/``violations`` projection. Inline,
        each check would re-derive its own copies: whole-stage codegen
        does not reach the validation projection (its higher-order
        functions are ``CodegenFallback``) and subexpression elimination
        does not reach into ``CASE WHEN``/``coalesce`` branches. Two
        invariants hold (see :class:`VariantCompiler`): nothing built
        from a higher-order lambda variable is hoisted, and only total
        expressions are, since a slot runs on every row. Slot names
        avoid every column of ``df``.
        """
        doc = F.col(doc_col)
        return self._apply(
            df, doc, lambda slots: slots.hoist_fails(self._variant_checks(doc, slots)),
            with_violations, variant=True)

    # ----------------------------------------------------- typed mode

    def table_checks(self, df: DataFrame, columns: Optional[Iterable[str]] = None) -> list[Check]:
        comp = TypedRowCompiler(
            self.registry,
            dialect=self.dialect,
            format_assertions=self.config.format_assertions,
            content_asserts=self._content_asserts(),
            regex_factory=self.regex_factory,
        )
        names = list(columns) if columns is not None else df.columns
        dtypes = dict(zip(df.schema.names, [f.dataType for f in df.schema.fields]))
        fields = {n: (F.col(n), dtypes[n]) for n in names}
        return comp.compile(self.schema, (None, None, fields), ())

    def apply_table(self, df: DataFrame, columns: Optional[Iterable[str]] = None,
                    with_violations: bool = True) -> DataFrame:
        """Validate typed rows (one row = one document; columns =
        top-level properties). Pure Column expressions — this is the
        flagship 100 TB path.

        Schemas the typed compiler cannot express (recursive $ref,
        dynamic unevaluated*, content keywords, …) fall back to the
        Arrow kernel over ``to_json(struct(columns))`` — Spark's JSON
        generator drops NULL fields by default, which is exactly the
        typed-mode NULL = absent convention. ``engine='expr'`` raises
        instead of falling back."""
        names = list(columns) if columns is not None else df.columns
        doc = F.to_json(F.struct(*[F.col(n) for n in names]))
        return self._apply(df, doc, lambda _: self.table_checks(df, names),
                           with_violations, variant=False)

    # ---------------------------------------------------- engine choice

    def _expr_gate(self, variant_session: Optional[SparkSession]) -> None:
        """Raises ExprUnsupported when no schema could take the
        expression path: the engine is forced to ``udf``,
        ``treat_as_array`` is on (the kernel's alone), or — for a
        variant path run in ``variant_session`` — ``try_parse_json``
        would reject duplicate keys the kernel accepts."""
        if self.engine == "udf":
            raise ExprUnsupported("engine forced to udf")
        if self.config.treat_as_array:
            raise ExprUnsupported("treat_as_array needs the UDF kernel")
        if (variant_session is not None
                and variant_session.conf.get(_DUPLICATE_KEYS, "false").lower() != "true"):
            raise ExprUnsupported(f"{_DUPLICATE_KEYS} is off: try_parse_json "
                                  "would reject documents with duplicate keys")

    def _apply(self, df: DataFrame, doc: Column,
               checks_of: Callable[[SlotSink], list[Check]],
               with_violations: bool, variant: bool) -> DataFrame:
        """``df`` plus ``valid`` (and ``violations``): the expression
        path's ``checks_of(slots)`` where it applies, else one kernel UDF
        call per row over the JSON-string ``doc``. ``engine='expr'``
        raises instead of falling back. On the variant path a NULL
        ``doc`` gets a NULL verdict, as the kernel gives it."""
        slots = SlotSink(df.columns)
        try:
            self._expr_gate(df.sparkSession if variant else None)
            checks = checks_of(slots)
        except ExprUnsupported:
            if self.engine == "expr":
                raise
            res = self._kernel_udf(with_violations)(doc)
            if not with_violations:
                return df.withColumn("valid", res)
            tmp = slots.fresh("__jss_res")
            return (df.withColumn(tmp, res)
                      .withColumns({"valid": F.col(f"{tmp}.valid"),
                                    "violations": F.col(f"{tmp}.violations")})
                      .drop(tmp))
        out = {"valid": ok_of(checks)}
        if with_violations:
            out["violations"] = violations_array(checks)
        if variant:
            out = {c: F.when(doc.isNull(), F.lit(None)).otherwise(e) for c, e in out.items()}
        return slots.project(df).withColumns(out).drop(*slots.names)

    def _kernel_udf(self, collect: bool):
        """The kernel as a pandas UDF over JSON-string docs: the
        ``valid``/``violations`` struct, or with ``collect=False`` the
        verdict alone (no error is collected). NULL doc → NULL."""
        self.kernel  # fail fast driver-side (Java-only regex schemas)
        key, spec = self._spec_key, self._spec

        # either hint makes a scalar pandas UDF; the result shape is the
        # one the return type names
        def batch(docs: pd.Series) -> pd.DataFrame:
            kernel = _executor_kernel(key, spec, collect)
            if not collect:
                f = kernel.is_valid_json
                return docs.map(lambda d: None if d is None else f(d))
            valids, viols = [], []
            for doc in docs:
                if doc is None:
                    valids.append(None)
                    viols.append(None)
                    continue
                ok, errs = kernel.validate_json(doc)
                valids.append(ok)
                viols.append([
                    {"path": _utf8(p), "keyword": kw, "message": _utf8(m)}
                    for p, kw, m in errs
                ])
            return pd.DataFrame({"valid": valids, "violations": viols})

        return F.pandas_udf(batch, _RESULT_SCHEMA if collect else "boolean")

    # ------------------------------------------------------- results

    @staticmethod
    def violations_df(validated: DataFrame, id_cols: Iterable[str] = (),
                      with_kinds: bool = False) -> DataFrame:
        """Explode per-row violations into a violations DataFrame
        (result-tree sink analogue — ValidationResultFactory.java:240-262).

        ``with_kinds=True`` adds an ``error_kind`` column with the typed
        error enum (``results/EErrorType.java:3-34`` parity) for
        programmatic error matching — a codegen'd CASE chain, no UDF."""
        cols = [F.col(c) for c in id_cols]
        out = (
            validated.filter(~F.col("valid"))
            .select(*cols, F.explode("violations").alias("v"))
            .select(*cols, F.col("v.path").alias("json_path"),
                    F.col("v.keyword").alias("keyword"),
                    F.col("v.message").alias("message"))
        )
        if with_kinds:
            from ..core.errors import error_kind_col

            out = out.withColumn(
                "error_kind", error_kind_col(F.col("keyword"), F.col("message")))
        return out
