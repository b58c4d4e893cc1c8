"""Measurement helpers kept outside the program under test.

* :class:`Tracer` — driver-side spans around the benchmark's own calls
  into each layer. Spans stay in memory and are written out once, when
  the run ends.
* :class:`RssSampler` — high-water mark of resident memory (PSS) summed
  over this process's tree (Python driver, driver JVM, Python workers).
* :class:`SparkRest` — stage, job and SQL-node metrics from Spark's own
  REST API, which is enabled only in the traced run.
"""

from __future__ import annotations

import json
import os
import re
import statistics
import threading
import time
import urllib.request
from contextlib import contextmanager
from dataclasses import dataclass, field

__all__ = ["Tracer", "RssSampler", "SparkRest", "parse_ui_value", "dir_bytes",
           "count_expr_nodes"]


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    start: float
    end: float = 0.0


@dataclass
class Tracer:
    """Nested wall-clock spans; a disabled tracer records nothing."""

    enabled: bool = False
    spans: list[Span] = field(default_factory=list)
    _stack: list[int] = field(default_factory=list)

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        s = Span(len(self.spans), name, self._stack[-1] if self._stack else None,
                 time.perf_counter())
        self.spans.append(s)
        self._stack.append(s.id)
        try:
            yield
        finally:
            self._stack.pop()
            s.end = time.perf_counter()

    def durations(self, name: str) -> list[float]:
        return [s.end - s.start for s in self.spans if s.name == name]

    def median(self, name: str) -> float:
        d = self.durations(name)
        return statistics.median(d) if d else 0.0

    def self_times(self) -> dict[str, tuple[int, float, float]]:
        """name -> (count, total seconds, self seconds). Self time is a
        span's duration minus the time its direct children cover."""
        child: dict[int, float] = {}
        for s in self.spans:
            if s.parent is not None:
                child[s.parent] = child.get(s.parent, 0.0) + (s.end - s.start)
        out: dict[str, list] = {}
        for s in self.spans:
            row = out.setdefault(s.name, [0, 0.0, 0.0])
            row[0] += 1
            row[1] += s.end - s.start
            row[2] += s.end - s.start - child.get(s.id, 0.0)
        return {k: tuple(v) for k, v in out.items()}

    def write(self, path: str, trace_id: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump([{"trace": trace_id, "id": s.id, "name": s.name,
                        "parent": s.parent, "start": s.start, "end": s.end}
                       for s in self.spans], f)


def _pss_bytes(pid: int) -> int:
    """Proportional set size: resident pages, each shared page split
    among the processes mapping it. A JVM that forks a helper, or the
    forked Python workers, are not double counted as with RSS."""
    with open(f"/proc/{pid}/smaps_rollup") as f:
        for line in f:
            if line.startswith("Pss:"):
                return int(line.split()[1]) * 1024
    return 0


def _tree(root: int) -> set[int]:
    """``root`` and every process descending from it."""
    parent: dict[int, int] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # field 4 (ppid) follows the parenthesised command name
        parent[int(d)] = int(stat.rsplit(")", 1)[1].split()[1])
    members = {root}
    grew = True
    while grew:
        grew = False
        for pid, ppid in parent.items():
            if ppid in members and pid not in members:
                members.add(pid)
                grew = True
    return members


def _tree_pss_bytes(root: int) -> int:
    total = 0
    for pid in _tree(root):
        try:
            total += _pss_bytes(pid)
        except OSError:
            continue
    return total


class RssSampler:
    """Samples the summed resident memory (PSS) of this process tree
    every ``interval`` seconds on a daemon thread; ``peak_mb`` is the
    largest sum seen."""

    def __init__(self, interval: float = 0.1):
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, name="rss-sampler",
                                        daemon=True)

    def _loop(self) -> None:
        root = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, _tree_pss_bytes(root))
            self._stop.wait(self.interval)

    def start(self) -> "RssSampler":
        self._thread.start()
        return self

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    @property
    def peak_mb(self) -> float:
        return self.peak / 2**20


_UNITS = {"": 1.0, "ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
          "B": 1.0, "KiB": 2.0**10, "MiB": 2.0**20, "GiB": 2.0**30,
          "TiB": 2.0**40, "PiB": 2.0**50}
_VALUE = re.compile(r"^(-?[0-9][0-9,]*(?:\.[0-9]+)?)\s*([A-Za-z]*)")
# the paths a file scan reads, as a plan description prints them
_LOCATION = re.compile(r"Location: \w+ \[([^\]]*)\]")


def parse_ui_value(text: str) -> float:
    """A SQL-node metric as the UI renders it — ``"59,932"``, ``"785
    ms"``, ``"4.8 MiB"``, or ``"total (min, med, max ...)\\n2.3 s (...)"``
    — to a number in seconds or bytes."""
    line = text.strip().split("\n")[-1]
    m = _VALUE.match(line)
    if not m:
        raise ValueError(f"unparseable metric value {text!r}")
    return float(m.group(1).replace(",", "")) * _UNITS[m.group(2)]


def dir_bytes(path: str) -> int:
    total = 0
    for base, _, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(base, f))
    return total


def _tree_size(node) -> int:
    """Nodes of a Catalyst tree: one line of ``treeString`` per node."""
    return node.treeString().count("\n")


def count_expr_nodes(df) -> int:
    """Catalyst expression nodes in ``df``'s optimized logical plan."""
    total = 0
    todo = [df._jdf.queryExecution().optimizedPlan()]
    while todo:
        plan = todo.pop()
        exprs = plan.expressions()
        for i in range(exprs.size()):
            total += _tree_size(exprs.apply(i))
        kids = plan.children()
        todo.extend(kids.apply(i) for i in range(kids.size()))
    return total


class SparkRest:
    """Read-only client for the driver's ``/api/v1`` endpoints."""

    def __init__(self, spark):
        sc = spark.sparkContext
        if not sc.uiWebUrl:
            raise RuntimeError("the Spark UI is off; start the session with ui=True")
        self._sc = sc
        self.base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"

    def get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=30) as r:
            return json.load(r)

    def settle(self) -> None:
        """Wait until the listener bus has delivered every event, so the
        status store holds the final metrics of finished jobs."""
        self._sc._jsc.sc().listenerBus().waitUntilEmpty()

    def group_stats(self, group: str, scans_only: str | None = None,
                    ) -> tuple[list[dict], list[dict], list]:
        """(jobs, completed stages, SQL-node metrics) of a job group,
        once the listener bus has delivered every event."""
        self.settle()
        jobs = [j for j in self.get("/jobs") if j.get("jobGroup") == group]
        stages = self.stages({s for j in jobs for s in j["stageIds"]})
        return jobs, stages, self.sql_node_metrics({j["jobId"] for j in jobs}, scans_only)

    def stages(self, stage_ids: set[int]) -> list[dict]:
        return [s for s in self.get("/stages")
                if s["stageId"] in stage_ids and s["status"] == "COMPLETE"]

    def task_max_over_median(self, stage: dict) -> float:
        q = self.get(f"/stages/{stage['stageId']}/{stage['attemptId']}"
                     "/taskSummary?quantiles=0.5,1.0")
        med, mx = q["executorRunTime"]
        return mx / med if med > 0 else 1.0

    def sql_node_metrics(self, job_ids: set[int], scans_only: str | None = None,
                         ) -> list[tuple[str, str, float]]:
        """(node name, metric name, value) for every SQL node of the
        executions that ran any of ``job_ids``; with ``scans_only``, of
        those whose every file scan reads that path alone."""
        out = []
        plans = "true" if scans_only else "false"
        for e in self.get(f"/sql?details=true&planDescription={plans}&offset=0&length=10000"):
            if not job_ids.intersection(e.get("successJobIds", [])):
                continue
            if scans_only:
                locations = _LOCATION.findall(e["planDescription"])
                if not locations or any(loc.split(":", 1)[-1] != scans_only
                                        for loc in locations):
                    continue
            for n in e["nodes"]:
                for m in n["metrics"]:
                    try:
                        out.append((n["nodeName"], m["name"], parse_ui_value(m["value"])))
                    except ValueError:
                        continue
        return out
