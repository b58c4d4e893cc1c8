"""The benchmark workloads, one per engine path.

Every workload builds its input from
``sources.synth.source_code_table(seed=...)`` and writes it to parquet
(set-up), then runs timed passes that each read the parquet back. Each
pass carries its own known-answer check: the program's verdicts are
summarised by an ``Observation`` riding on the timed job and compared
with an answer computed in plain Python, independent of the engine.
"""

from __future__ import annotations

import copy
import json
import os
import re
import shutil
from dataclasses import dataclass

from pyspark.sql import DataFrame, Observation, SparkSession, functions as F

from json_schema_spark.core.validator import CompiledSchema, compile_schema
from json_schema_spark.flagship import FLAGSHIP_SCHEMA, flagship_validator, validate_source_table
from json_schema_spark.operators.checkpoint import ResumableRun
from json_schema_spark.operators.ledger import partition_ledger
from json_schema_spark.plans.compiler import VariantCompiler
from json_schema_spark.plans.runner import SparkValidator
from json_schema_spark.sources.synth import LANGS, source_code_table

from probes import Tracer, dir_bytes

__all__ = ["WORKLOADS", "Context", "PassResult", "planted_invalid",
           "json_verdict", "JSON_SCHEMA", "RECURSIVE_JSON_SCHEMA"]

TABLE_COLS = ["repo", "path", "commit", "lang", "content"]

# Row-id rules of the planted violations in sources/synth.py that the
# flagship schema rejects: repo NULL, content NULL (required), commit
# not hex40 (pattern), lang 'golang' (enum), path > 512 (maxLength).
# The uniqueness plant (row_id % 1013) is not a schema violation.
PLANTED_MODULI = (997, 1009, 499, 503, 991)

# Draft-07 schema over the JSON documents synth.py writes into ~30% of
# `content`: {repo, path, commit, lang, tokens, tags}. tokens runs
# 16..135 and tags holds two words of a 70-word list, so `maximum` and
# `uniqueItems` reject a known share of documents; the other keywords
# are evaluated on every document and pass.
JSON_SCHEMA = {
    "$schema": "http://json-schema.org/draft-07/schema#",
    "type": "object",
    "required": ["repo", "path", "commit", "lang", "tokens", "tags"],
    "properties": {
        "repo": {"type": "string", "pattern": "^org[0-9]+/repo[0-9]+$"},
        "path": {"type": "string", "maxLength": 512},
        "commit": {"type": "string", "pattern": "^[0-9a-f]{40}$"},
        "lang": {"enum": LANGS},
        "tokens": {"type": "integer", "minimum": 16, "maximum": 120},
        "tags": {"type": "array", "items": {"type": "string"}, "uniqueItems": True},
    },
}

# Same verdicts, but `tags` goes through a recursive $ref (a tag is a
# string or a nested tag list). The expression compiler raises
# ExprUnsupported on the cycle, so the auto engine falls back to the
# Arrow pandas-UDF kernel.
RECURSIVE_JSON_SCHEMA = copy.deepcopy(JSON_SCHEMA)
RECURSIVE_JSON_SCHEMA["definitions"] = {
    "tagList": {"type": "array", "items": {"$ref": "#/definitions/tag"},
                "uniqueItems": True},
    "tag": {"anyOf": [{"type": "string"}, {"$ref": "#/definitions/tagList"}]},
}
RECURSIVE_JSON_SCHEMA["properties"]["tags"] = {"$ref": "#/definitions/tagList"}

_REPO = re.compile(r"org[0-9]+/repo[0-9]+")
_COMMIT = re.compile(r"[0-9a-f]{40}")


def planted_invalid(row_id: int) -> bool:
    return any(row_id % m == 0 for m in PLANTED_MODULI)


def json_verdict(doc: str) -> tuple[bool, int]:
    """JSON_SCHEMA restated in plain Python: (valid, violated keywords)."""
    d = json.loads(doc)
    bad = 0
    bad += any(k not in d for k in JSON_SCHEMA["required"])
    repo, path, commit = d.get("repo"), d.get("path"), d.get("commit")
    bad += not isinstance(repo, str) or not _REPO.fullmatch(repo)
    bad += not isinstance(path, str) or len(path) > 512
    bad += not isinstance(commit, str) or not _COMMIT.fullmatch(commit)
    bad += d.get("lang") not in LANGS
    tokens = d.get("tokens")
    if not isinstance(tokens, int):
        bad += 1
    else:
        bad += tokens < 16
        bad += tokens > 120
    tags = d.get("tags")
    if not isinstance(tags, list):
        bad += 1
    else:
        bad += not all(isinstance(t, str) for t in tags)
        bad += len(set(map(json.dumps, tags))) < len(tags)
    return bad == 0, bad


@dataclass
class Context:
    spark: SparkSession
    work: str
    seed: int
    tracer: Tracer


@dataclass
class PassResult:
    docs: int
    problems: list[str]


def _noop(df: DataFrame) -> None:
    df.write.format("noop").mode("overwrite").save()


def _compare(observed: dict, expected: dict) -> list[str]:
    return [f"{k}: got {observed.get(k)}, expected {v}"
            for k, v in expected.items() if observed.get(k) != v]


class Workload:
    name = ""
    why = ""
    rows = 0  # table rows
    schema: dict = {}
    uses_ledger = False
    uses_checkpoint = False
    # whether the engine path runs a Python UDF on executors, which the
    # executed plan shows as an ArrowEvalPython node
    python_udf = False

    def resized(self, rows: int) -> "Workload":
        """A fresh workload of the same kind over ``rows`` table rows."""
        w = type(self)()
        w.rows = rows
        return w

    # --- set-up (timed as part of setup_s) -----------------------------
    def write_input(self, ctx: Context) -> None:
        raise NotImplementedError

    # --- untimed: the independent answer and the kernel sample ----------
    def prepare(self, ctx: Context) -> None:
        raise NotImplementedError

    def input_path(self, ctx: Context) -> str:
        return os.path.join(ctx.work, f"{self.name}-input.parquet")

    def input_columns(self) -> list[str]:
        return TABLE_COLS

    def read(self, ctx: Context) -> DataFrame:
        return ctx.spark.read.parquet(self.input_path(ctx))

    # --- the timed pass -------------------------------------------------
    def run_pass(self, ctx: Context) -> PassResult:
        raise NotImplementedError

    # --- per-layer handles ----------------------------------------------
    # set by prepare(): the driver-side kernel, and the fixed sample as
    # (document, expected (valid, violations)) pairs, violations None
    # where only validity is known
    kernel: CompiledSchema
    sample: list[tuple[str, tuple[bool, int | None]]]

    def build_checks(self, ctx: Context) -> list:
        raise NotImplementedError

    def validated(self, ctx: Context) -> DataFrame:
        raise NotImplementedError

    def job(self, ctx: Context) -> DataFrame:
        """The validated DataFrame a pass executes. The cold pass builds
        it (schema → Columns, analysis); later passes of the same session
        re-execute it, as the batches of one long job would, so the
        per-job build cost is in ``cold_pass_s``, not ``docs_per_s``."""
        if getattr(self, "_job_session", None) is not ctx.spark:
            self._job = self.validated(ctx)
            self._job_session = ctx.spark
        return self._job


class TypedFlagship(Workload):
    """The typed (repo, path, commit, lang, content) table."""

    name = "typed_flagship"
    why = ("north-rule job: typed Column compiler, content sha256 and the "
           "ledger aggregation, no Python on executors; bypasses the kernel")
    rows = 140_000
    uses_ledger = True
    uses_checkpoint = True
    buckets = 4
    SAMPLE_ROWS = 400
    schema = FLAGSHIP_SCHEMA

    def write_input(self, ctx: Context) -> None:
        source_code_table(ctx.spark, self.rows, seed=ctx.seed, partitions=8) \
            .write.mode("overwrite").parquet(self.input_path(ctx))

    def prepare(self, ctx: Context) -> None:
        n = self.rows
        bad = [i for i in range(n) if planted_invalid(i)]
        self.expected_invalid = len(bad)
        self.expected_invalid_ids = sum(bad)
        self.expected_null_content = sum(1 for i in range(n) if i % 1009 == 0)
        rows = (self.read(ctx).filter(F.col("row_id") < self.SAMPLE_ROWS)
                .select("row_id", F.to_json(F.struct(*TABLE_COLS)).alias("doc"))
                .collect())
        # typed mode reads NULL as absent, exactly what to_json writes
        self.sample = [(r["doc"], (not planted_invalid(r["row_id"]), None))
                       for r in sorted(rows, key=lambda r: r["row_id"])]
        self.kernel = compile_schema(self.schema)

    def build_checks(self, ctx: Context) -> list:
        with ctx.tracer.span("SparkValidator.table_checks"):
            return flagship_validator().table_checks(self.read(ctx), TABLE_COLS)

    def validated(self, ctx: Context) -> DataFrame:
        with ctx.tracer.span("SparkValidator.apply_table"):
            return validate_source_table(self.read(ctx))

    def run_pass(self, ctx: Context) -> PassResult:
        n = self.rows
        verdicts = Observation("verdicts")
        validated = self.job(ctx).observe(
            verdicts,
            F.count(F.lit(1)).alias("rows"),
            F.count("content_sha256").alias("sha_rows"),
            F.sum(F.when(F.col("valid"), 0).otherwise(1)).alias("invalid"),
            F.sum(F.when(F.col("valid"), 0).otherwise(F.col("row_id"))).alias("invalid_ids"),
        )
        with ctx.tracer.span("partition_ledger"):
            ledger = partition_ledger(validated)
        totals = Observation("ledger")
        with ctx.tracer.span("action"):
            _noop(ledger.observe(
                totals,
                F.sum("rows_scanned").alias("ledger_rows"),
                F.sum("violation_rows").alias("ledger_invalid"),
            ))
        got = {**verdicts.get, **totals.get}
        return PassResult(n, _compare(got, {
            "rows": n,
            "sha_rows": n - self.expected_null_content,
            "invalid": self.expected_invalid,
            "invalid_ids": self.expected_invalid_ids,
            "ledger_rows": n,
            "ledger_invalid": self.expected_invalid,
        }))

    def checkpoint_pass(self, ctx: Context, run_group: str) -> PassResult:
        """The write path over the same input: ``ResumableRun`` stops
        after half the buckets, resumes, then audits with
        ``reconcile()``. The two ``run()`` calls, and only they, run in
        the job group ``run_group``. Sets ``bytes_written`` (verdicts +
        manifest)."""
        n = self.rows
        run_dir = os.path.join(ctx.work, "checkpoint-run")
        run = ResumableRun(run_dir, n_buckets=self.buckets)
        src = self.read(ctx)
        sc = ctx.spark.sparkContext
        sc.setJobGroup(run_group, "ResumableRun.run")
        with ctx.tracer.span("ResumableRun.run"):
            first = run.run(src, validate_source_table, max_buckets=self.buckets // 2)
        with ctx.tracer.span("ResumableRun.run"):
            rest = run.run(src, validate_source_table)
        sc.setJobGroup("perfbench.checkpoint-audit", "reconcile and manifest check")
        with ctx.tracer.span("ResumableRun.reconcile"):
            mismatched = run.reconcile(ctx.spark).count()
        man = run.manifest(ctx.spark).agg(
            F.count(F.lit(1)).alias("manifest_buckets"),
            F.sum("rows").alias("manifest_rows"),
            F.sum("violation_rows").alias("manifest_invalid"),
        ).first().asDict()
        self.bytes_written = dir_bytes(run_dir)
        shutil.rmtree(run_dir)
        got = {**man, "first_run_buckets": len(first),
               "resumed_buckets": len(rest), "reconcile_rows": mismatched}
        return PassResult(n, _compare(got, {
            "first_run_buckets": self.buckets // 2,
            "resumed_buckets": self.buckets - self.buckets // 2,
            "reconcile_rows": 0,
            "manifest_buckets": self.buckets,
            "manifest_rows": n,
            "manifest_invalid": self.expected_invalid,
        }))


class _JsonWorkload(Workload):
    """The JSON documents of the source table, validated through
    ``SparkValidator.apply_json`` with violations."""

    rows = 48_000  # table rows; about 30% of them are JSON documents
    schema = JSON_SCHEMA
    SAMPLE_DOCS = 400

    def input_columns(self) -> list[str]:
        return ["row_id", "doc"]

    def write_input(self, ctx: Context) -> None:
        (source_code_table(ctx.spark, self.rows, seed=ctx.seed, partitions=8)
         .filter(F.col("content").startswith("{"))
         .select("row_id", F.col("content").alias("doc"))
         .write.mode("overwrite").parquet(self.input_path(ctx)))

    def prepare(self, ctx: Context) -> None:
        docs = sorted((r["row_id"], r["doc"]) for r in self.read(ctx).collect())
        verdicts = [(rid, *json_verdict(doc)) for rid, doc in docs]
        self.n_docs = len(docs)
        self.expected = {
            "rows": len(docs),
            "invalid": sum(1 for _, ok, _ in verdicts if not ok),
            "violations": sum(n for _, _, n in verdicts),
            "invalid_ids": sum(rid for rid, ok, _ in verdicts if not ok),
            "violation_ids": sum(rid * n for rid, _, n in verdicts),
        }
        self.sample = [(doc, (ok, n)) for (_, doc), (_, ok, n)
                        in zip(docs[:self.SAMPLE_DOCS], verdicts[:self.SAMPLE_DOCS])]
        self._validator = SparkValidator(self.schema)
        self.kernel = compile_schema(self.schema)

    def build_checks(self, ctx: Context) -> list:
        v = self._validator
        with ctx.tracer.span("VariantCompiler.compile"):
            return VariantCompiler(v.registry, dialect=v.dialect).compile(
                v.schema, F.col("doc"), ())

    def validated(self, ctx: Context) -> DataFrame:
        with ctx.tracer.span("SparkValidator.apply_json"):
            return self._validator.apply_json(self.read(ctx), doc_col="doc")

    def run_pass(self, ctx: Context) -> PassResult:
        obs = Observation("verdicts")
        nviol = F.size("violations")
        out = self.job(ctx).observe(
            obs,
            F.count(F.lit(1)).alias("rows"),
            F.sum(F.when(F.col("valid"), 0).otherwise(1)).alias("invalid"),
            F.sum(nviol).alias("violations"),
            F.sum(F.when(F.col("valid"), 0).otherwise(F.col("row_id"))).alias("invalid_ids"),
            F.sum(F.col("row_id") * nviol).alias("violation_ids"),
        )
        with ctx.tracer.span("action"):
            _noop(out)
        return PassResult(self.n_docs, _compare(obs.get, self.expected))


class JsonVariant(_JsonWorkload):
    name = "json_variant"
    why = ("expression path: try_parse_json + VariantCompiler, dominated by "
           "variant parse and extraction; bypasses the kernel and the ledger")


class KernelFallback(_JsonWorkload):
    name = "kernel_fallback"
    why = ("same documents, tags behind a recursive $ref: falls back to the "
           "Arrow pandas-UDF kernel; bypasses the expression compiler")
    schema = RECURSIVE_JSON_SCHEMA
    python_udf = True


WORKLOADS: dict[str, Workload] = {
    w.name: w for w in (TypedFlagship(), JsonVariant(), KernelFallback())
}
