#!/usr/bin/env python3
"""Validation-engine benchmark: one workload per engine path.

    python3 perfbench/run.py --workload typed_flagship --seed 1 --seconds 6 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 6 --trace 1

Works from any working directory. Builds the workload's input from
``source_code_table(seed=...)``, runs a cold pass and untimed warm-up
passes, then timed passes for ``--seconds`` seconds, checks every pass
against an independent answer, prints a human-readable report and, as
the last line of stdout,
one JSON object ``{"correct", "attempted", "failed", "metrics"}``.
``--trace 0`` reports the end-to-end metrics; ``--trace 1`` reports the
per-layer metrics, read from driver-side spans and from Spark's REST API
(enabled only in that run). See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

END_TO_END = {
    "docs_per_s": "docs/s",
    "setup_s": "s",
}
# printed with the end-to-end metrics, but reported per layer: their
# run-to-run spread is too wide to gate a change on
UNGATED = {
    "cold_pass_s": "s",
    "peak_rss_mb": "MB",
}
PER_LAYER = {
    "session.start_s": "s",
    "sources.gen_s": "s",
    "sources.scan_s": "s",
    "sources.input_bytes": "bytes",
    "core.compile_ms": "ms",
    "compiler.build_ms": "ms",
    "compiler.plan_ms": "ms",
    "compiler.checks": "count",
    "compiler.expr_nodes": "count",
    "core.kernel_docs_per_s": "docs/s",
    "runner.python_s": "s",
    "runner.arrow_bytes_per_doc": "bytes/doc",
    "ledger.agg_s": "s",
    "ledger.shuffle_bytes": "bytes",
    "checkpoint.jobs": "count",
    "checkpoint.scan_amplification": "ratio",
    "checkpoint.bytes_written": "bytes",
    "checkpoint.stored_bytes_per_input_byte": "ratio",
    "checkpoint.reconcile_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.gc_s": "s",
    "spark.tasks": "count",
    "spark.task_max_over_median": "ratio",
    "pass.fixed_s": "s",
    "pass.fixed_share": "ratio",
    **UNGATED,
    "trace.docs_per_s": "docs/s",
    "trace.overhead_share": "ratio",
}
SETUP_REPEATS = 3
WARMUP_PASSES = 2
MIN_PASSES = 3
# the fixed cost per pass is read off a second input this many times smaller
FIXED_COST_DIVISOR = 4
TRACED_GROUP = "perfbench.traced"
CHECKPOINT_GROUP = "perfbench.checkpoint"


def fit_environment(work: str) -> dict:
    """Fit the Spark session to this host and keep every file the run
    writes inside ``work``. Returns the settings for the report."""
    # one CPU stays free for the driver's Python, py4j, JIT and GC
    # threads: with every CPU running tasks, docs_per_s spread 14-20%
    # between runs of typed_flagship on a 4-CPU host, with one free 5-9%
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(max(1, len(os.sched_getaffinity(0)) - 1)))
    # the session's 24g default does not fit small hosts
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    # Python workers import json_schema_spark from any working directory
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(dict.fromkeys(paths))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tempfile.tempdir = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(filter(None, [
        os.environ.get("JAVA_TOOL_OPTIONS"), f"-Djava.io.tmpdir={tmp}", "-XX:-UsePerfData"]))
    return {
        "cores": int(os.environ["SPARK_GRAFT_CPUS"]),
        "driver_mem": os.environ["SPARK_GRAFT_DRIVER_MEM"],
        "console_progress": False,
        "pythonpath": os.environ["PYTHONPATH"],
    }


class Session:
    """One driver JVM for the whole run. ``get(ui)`` restarts the
    SparkContext inside that JVM when the UI setting changes."""

    def __init__(self):
        self.spark = None
        self.ui = None
        self.start_s = None

    def get(self, ui: bool):
        if self.spark is not None and self.ui == ui:
            return self.spark
        from json_schema_spark.session import get_spark

        if self.spark is not None:
            self.spark.stop()
        extra = {
            "spark.ui.showConsoleProgress": "false",
            # the heap starts at its full size, so it does not grow to a
            # different size, with a different GC load, in each run
            "spark.driver.defaultJavaOptions": f"-Xms{os.environ['SPARK_GRAFT_DRIVER_MEM']}",
        }
        if ui:
            extra["spark.ui.port"] = "0"  # any free port
        t0 = time.perf_counter()
        self.spark = get_spark(app="perfbench", ui=ui, extra=extra)
        if self.start_s is None:
            self.start_s = time.perf_counter() - t0
        self.ui = ui
        return self.spark

    def close(self) -> None:
        """Stop Spark and wait for the driver JVM (and with it the
        Python workers) to exit."""
        if self.spark is None:
            return
        from pyspark import SparkContext

        self.spark.stop()
        proc = getattr(SparkContext._gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()  # the gateway exits when its stdin closes
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        self.spark = None


class Tally:
    """Pass accounting: every pass is attempted; it fails when it raises
    or its known-answer check reports a problem."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []

    def record(self, label: str, problems: list[str]) -> bool:
        self.attempted += 1
        if problems:
            self.failed += 1
            self.problems.extend(f"{label}: {p}" for p in problems)
        return not problems

    def note(self, label: str, problems: list[str]) -> None:
        """A check that is not a pass: it makes the run incorrect
        without counting as an attempted pass."""
        self.problems.extend(f"{label}: {p}" for p in problems)


def _timed_pass(wl, ctx, tally: Tally, label: str) -> tuple[float, int] | None:
    """(seconds, docs) of one correct pass, else None."""
    t0 = time.perf_counter()
    try:
        with ctx.tracer.span("pass"):
            res = wl.run_pass(ctx)
    except Exception:  # a pass that raises is counted, not fatal
        traceback.print_exc()
        tally.record(label, ["raised"])
        return None
    dt = time.perf_counter() - t0
    return (dt, res.docs) if tally.record(label, res.problems) else None


def _passes(wl, ctx, tally: Tally, seconds: float, label: str) -> list[tuple[float, int]]:
    """WARMUP_PASSES checked but untimed passes, then timed passes for
    ``seconds`` (at least MIN_PASSES). Warming up by work rather than by
    time leaves the JIT in the same state whatever CPU time other
    tenants of the host take. Returns (seconds, docs) of each correct
    timed pass."""
    for n in range(WARMUP_PASSES):
        _timed_pass(wl, ctx, tally, f"{label} warm-up {n + 1}")
    timed = []
    t_start = time.perf_counter()
    n = 0
    while n < MIN_PASSES or time.perf_counter() - t_start < seconds:
        n += 1
        got = _timed_pass(wl, ctx, tally, f"{label} {n}")
        if got is not None:
            timed.append(got)
    return timed


def _rate(passes: list[tuple[float, int]]) -> float:
    return _median([docs / secs for secs, docs in passes])


def _median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def _engine_check(wl, ctx) -> list[str]:
    """The job runs on the engine path the workload is named for: a
    Python UDF on executors exactly when the workload expects one."""
    plan = wl.job(ctx)._jdf.queryExecution().executedPlan().toString()
    if ("ArrowEvalPython" in plan) == wl.python_udf:
        return []
    return [f"executed plan {'lacks' if wl.python_udf else 'has'} an ArrowEvalPython "
            "node, so the job left the engine path it measures"]


def _fixed_cost(wl, ctx, tally: Tally, seconds: float,
                passes: list[tuple[float, int]]) -> tuple[float, float]:
    """(seconds, share of a pass) that a pass of ``wl`` costs whatever its
    size: the intercept of the line through the median time of
    ``passes`` and that of checked passes over an input
    FIXED_COST_DIVISOR times smaller, made in the same session."""
    from workloads import Context

    small = wl.resized(wl.rows // FIXED_COST_DIVISOR)
    sctx = Context(ctx.spark, os.path.join(ctx.work, "smaller"), ctx.seed, ctx.tracer)
    os.makedirs(sctx.work)
    small.write_input(sctx)
    small.prepare(sctx)
    _timed_pass(small, sctx, tally, "smaller cold pass")
    smaller = _passes(small, sctx, tally, seconds, "smaller pass")
    if not passes or not smaller:
        return 0.0, 0.0
    t1, n1 = _median([s for s, _ in passes]), passes[0][1]
    t2, n2 = _median([s for s, _ in smaller]), smaller[0][1]
    fixed = (t2 * n1 - t1 * n2) / (n1 - n2)
    return fixed, fixed / t1


def _kernel_check(wl) -> list[str]:
    kernel = wl.kernel
    bad = []
    for doc, (ok, nviol) in wl.sample:
        got_ok, errs = kernel.validate_json(doc)
        if got_ok != ok or (nviol is not None and len(errs) != nviol):
            bad.append(f"kernel says ({got_ok}, {len(errs)}) for {doc[:80]}")
    return bad[:5]


def _kernel_docs_per_s(wl) -> float:
    kernel, docs = wl.kernel, [d for d, _ in wl.sample]
    n, t0 = 0, time.perf_counter()
    while n == 0 or time.perf_counter() - t0 < 0.3:
        for d in docs:
            kernel.validate_json(d)
        n += len(docs)
    return n / (time.perf_counter() - t0)


def _repeat_ms(fn, times: int = 3) -> tuple[float, object]:
    out, ds = None, []
    for _ in range(times):
        t0 = time.perf_counter()
        out = fn()
        ds.append((time.perf_counter() - t0) * 1e3)
    return statistics.median(ds), out


def _layer_metrics(wl, ctx, session: Session, tally: Tally, gen: list[float],
                   n_traced: int, docs: int) -> dict:
    """Per-layer metrics; job-, stage- and node-level ones are divided
    by ``n_traced``, the passes run in the traced job group."""
    from json_schema_spark.core.validator import compile_schema
    from json_schema_spark.plans.compiler import ExprUnsupported
    from probes import SparkRest, count_expr_nodes, dir_bytes

    spark = ctx.spark
    rest = SparkRest(spark)
    stages, nodes = rest.group_stats(TRACED_GROUP)[1:]

    def node_sum(node_part: str, metric: str, of=None) -> float:
        return sum(v for n, k, v in (of or nodes) if node_part in n and k == metric)

    input_bytes = dir_bytes(wl.input_path(ctx))
    m = {
        "session.start_s": session.start_s,
        "sources.gen_s": _median(gen),
        "sources.input_bytes": input_bytes,
        "spark.executor_cpu_s": sum(s["executorCpuTime"] for s in stages) / 1e9 / n_traced,
        "spark.gc_s": sum(s["jvmGcTime"] for s in stages) / 1e3 / n_traced,
        "spark.tasks": sum(s["numTasks"] for s in stages) / n_traced,
        "spark.task_max_over_median": (
            rest.task_max_over_median(max(stages, key=lambda s: s["executorRunTime"]))
            if stages else 0.0),
        "runner.python_s": node_sum("ArrowEvalPython", "time to run Python workers") / n_traced,
        "runner.arrow_bytes_per_doc": (
            node_sum("ArrowEvalPython", "data sent to Python workers")
            + node_sum("ArrowEvalPython", "data returned from Python workers")) / n_traced / docs,
        "ledger.agg_s": 0.0, "ledger.shuffle_bytes": 0.0,
        "checkpoint.jobs": 0.0, "checkpoint.scan_amplification": 0.0,
        "checkpoint.bytes_written": 0.0, "checkpoint.stored_bytes_per_input_byte": 0.0,
        "checkpoint.reconcile_s": 0.0,
    }
    if wl.uses_ledger:
        m["ledger.agg_s"] = node_sum("Aggregate", "time in aggregation build") / n_traced
        m["ledger.shuffle_bytes"] = node_sum("Exchange", "shuffle bytes written") / n_traced
    if wl.uses_checkpoint:
        spark.sparkContext.setJobGroup(CHECKPOINT_GROUP, "checkpointed run")
        with ctx.tracer.span("checkpoint pass"):
            tally.note("checkpointed run", wl.checkpoint_pass(ctx, CHECKPOINT_GROUP).problems)
        # the run() jobs also read the manifest; count the input scans only
        jobs, _, ck_nodes = rest.group_stats(CHECKPOINT_GROUP, scans_only=wl.input_path(ctx))
        m["checkpoint.jobs"] = len(jobs)
        m["checkpoint.scan_amplification"] = (
            node_sum("Scan parquet", "size of files read", ck_nodes) / input_bytes)
        m["checkpoint.bytes_written"] = wl.bytes_written
        m["checkpoint.stored_bytes_per_input_byte"] = wl.bytes_written / input_bytes
        m["checkpoint.reconcile_s"] = ctx.tracer.median("ResumableRun.reconcile")
    spark.sparkContext.setJobGroup("perfbench.probes", "per-layer probes")

    def scan():
        with ctx.tracer.span("sources.scan"):
            wl.read(ctx).select(*wl.input_columns()).write.format("noop") \
                .mode("overwrite").save()

    m["sources.scan_s"] = _repeat_ms(scan)[0] / 1e3

    def compile_kernel():
        with ctx.tracer.span("core.compile_schema"):
            return compile_schema(wl.schema)

    m["core.compile_ms"] = _repeat_ms(compile_kernel, 5)[0]

    def build():
        try:
            return wl.build_checks(ctx)
        except ExprUnsupported:
            return []

    m["compiler.build_ms"], checks = _repeat_ms(build)
    m["compiler.checks"] = len(checks)

    def plan_ms() -> float:
        """Optimizing and planning a freshly built (already analyzed) job."""
        qe = wl.validated(ctx)._jdf.queryExecution()
        t0 = time.perf_counter()
        with ctx.tracer.span("queryExecution.executedPlan"):
            qe.executedPlan()
        return (time.perf_counter() - t0) * 1e3

    m["compiler.plan_ms"] = statistics.median(plan_ms() for _ in range(3))
    m["compiler.expr_nodes"] = count_expr_nodes(wl.validated(ctx))
    m["core.kernel_docs_per_s"] = _kernel_docs_per_s(wl)
    return m


def run_workload(wl, session: Session, work: str, seed: int, seconds: float,
                 trace: bool, out_dir: str) -> tuple[Tally, dict, dict]:
    """Set up, run and check one workload. Returns the tally, the
    end-to-end metrics and (when tracing) the per-layer metrics."""
    from probes import Tracer
    from workloads import Context

    tracer = Tracer(enabled=trace)
    with tracer.span("session.get_spark"):
        spark = session.get(ui=False)
    ctx = Context(spark, os.path.join(work, wl.name), seed, tracer)
    os.makedirs(ctx.work)

    gen = []
    for _ in range(SETUP_REPEATS):
        t0 = time.perf_counter()
        with tracer.span("sources.source_code_table"):
            wl.write_input(ctx)
        gen.append(time.perf_counter() - t0)
    t0 = time.perf_counter()
    wl.prepare(ctx)
    tally = Tally()
    tally.note("kernel sample", _kernel_check(wl))
    t_prepare = time.perf_counter() - t0
    cold = _timed_pass(wl, ctx, tally, "cold pass")
    tally.note("engine path", _engine_check(wl, ctx))
    t0 = time.perf_counter()
    untraced = _passes(wl, ctx, tally, seconds / 2 if trace else seconds, "pass")
    print(f"[{wl.name}] wall clock: set-up {sum(gen):.1f} s, answers {t_prepare:.1f} s, "
          f"cold pass {cold[0] if cold else 0:.1f} s, warm passes {time.perf_counter() - t0:.1f} s, "
          f"timed: {' '.join(f'{p[0]:.2f}' for p in untraced)}")
    e2e = {
        "docs_per_s": _rate(untraced),
        "cold_pass_s": cold[0] if cold else 0.0,
        "setup_s": session.start_s + _median(gen),
    }
    layers = {}
    if trace:
        ctx.spark = session.get(ui=True)
        ctx.spark.sparkContext.setJobGroup(TRACED_GROUP, "traced passes")
        before = tally.attempted
        traced = _passes(wl, ctx, tally, seconds / 2, "traced pass")
        # job-group totals cover every traced pass, warm-up ones included
        n_group = tally.attempted - before
        docs = traced[0][1] if traced else 1
        layers = _layer_metrics(wl, ctx, session, tally, gen, n_group, docs)
        layers["pass.fixed_s"], layers["pass.fixed_share"] = _fixed_cost(
            wl, ctx, tally, seconds / 2, traced)
        layers["trace.docs_per_s"] = _rate(traced)
        layers["trace.overhead_share"] = (
            1.0 - layers["trace.docs_per_s"] / e2e["docs_per_s"] if e2e["docs_per_s"] else 0.0)
        path = os.path.join(out_dir, f"spans-{wl.name}-seed{seed}.json")
        tracer.write(path, f"{wl.name}-seed{seed}-{os.getpid()}")
        print(f"[{wl.name}] spans written to {os.path.relpath(path, ROOT)}")
        print(f"[{wl.name}] span self times (count, total s, self s):")
        for name, (cnt, total, own) in sorted(tracer.self_times().items()):
            print(f"    {name:36s} {cnt:4d} {total:9.3f} {own:9.3f}")
    return tally, e2e, layers


def _fmt(v: float) -> str:
    return f"{v:.6g}"


def main(argv: list[str] | None = None) -> int:
    if not os.path.isdir(os.path.join(ROOT, "json_schema_spark")):
        print(f"perfbench: no json_schema_spark package next to {HERE}; "
              "run from a checkout of the repository", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=[*WORKLOADS, "all"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=6.0,
                    help=f"timed passes per workload, after {WARMUP_PASSES} untimed ones "
                         "(split in two such windows when tracing)")
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)

    from probes import RssSampler

    # a terminated run still stops Spark and removes its files
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    names = list(WORKLOADS) if args.workload == "all" else [args.workload]
    base = os.path.join(ROOT, ".perfbench_work")
    work = os.path.join(base, f"run-{os.getpid()}")
    os.makedirs(work)
    out_dir = os.path.join(ROOT, ".perfbench_out")
    session = Session()
    sampler = RssSampler().start()
    try:
        settings = fit_environment(work)
        settings.update(seed=args.seed, seconds=args.seconds,
                        trace=bool(args.trace), workloads=names)
        print("perfbench settings: " + json.dumps(settings, sort_keys=True), flush=True)
        tallies, metrics = [], {}
        for name in names:
            wl = WORKLOADS[name]
            sampler.peak = 0
            tally, e2e, layers = run_workload(wl, session, work, args.seed, args.seconds,
                                              bool(args.trace), out_dir)
            layers["peak_rss_mb"] = sampler.peak_mb
            layers["cold_pass_s"] = e2e["cold_pass_s"]
            tallies.append(tally)
            share = tally.failed / tally.attempted
            print(f"[{name}] {wl.why}")
            for k, unit in {**END_TO_END, **UNGATED}.items():
                print(f"[{name}] {k:28s} {_fmt({**e2e, **layers}[k]):>12s} {unit}")
            print(f"[{name}] {'failed_share':28s} {_fmt(share):>12s} "
                  f"({tally.failed}/{tally.attempted} passes)")
            for k in (PER_LAYER if args.trace else ()):
                print(f"[{name}] {k:38s} {_fmt(layers[k]):>12s} {PER_LAYER[k]}")
            for p in tally.problems:
                print(f"[{name}] CHECK FAILED {p}")
            chosen = (layers, PER_LAYER) if args.trace else (e2e, END_TO_END)
            prefix = f"{name}." if args.workload == "all" else ""
            for k, unit in chosen[1].items():
                metrics[prefix + k] = {"value": chosen[0][k], "unit": unit}
            sys.stdout.flush()
    finally:
        sampler.stop()
        session.close()
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(base)
        except OSError:
            pass
    result = {
        "correct": all(not t.problems for t in tallies),
        "attempted": sum(t.attempted for t in tallies),
        "failed": sum(t.failed for t in tallies),
        "metrics": metrics,
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
