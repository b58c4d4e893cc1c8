"""The benchmark's own tests: run with ``python3 -m pytest perfbench -q``.

Each test runs the benchmark in a subprocess over tiny inputs, so every
Spark session starts and stops in its own process.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from run import END_TO_END, PER_LAYER  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

TINY = ["--seed", "7", "--seconds", "1"]
# runs the benchmark with every workload shrunk to 2000 table rows, after
# the lines a test adds in {patch}
TINY_RUN = (
    "import sys; sys.path.insert(0, {here!r})\n"
    "import run, workloads\n"
    "for w in workloads.WORKLOADS.values():\n"
    "    w.rows = 2000\n"
    "{patch}"
    "sys.exit(run.main([*{args!r}, *{tiny!r}]))\n"
)


def _run(args: list[str], patch: str = "") -> tuple[dict, str]:
    code = TINY_RUN.format(here=HERE, patch=patch, args=args, tiny=TINY)
    p = subprocess.run([sys.executable, "-c", code], cwd=ROOT, capture_output=True,
                       text=True, timeout=900)
    assert p.returncode == 0, p.stderr[-4000:]
    return json.loads(p.stdout.strip().splitlines()[-1]), p.stdout


@pytest.mark.parametrize("trace,names", [(0, END_TO_END), (1, PER_LAYER)])
def test_tiny_run_prints_every_metric(trace, names):
    result, stdout = _run(["--workload", "all", "--trace", str(trace)])
    assert result["correct"] and result["failed"] == 0 and result["attempted"] > 0
    expected = {f"{w}.{m}" for w in WORKLOADS for m in names}
    assert set(result["metrics"]) == expected
    for key, m in result["metrics"].items():
        assert m["unit"] == names[key.split(".", 1)[1]]
        assert isinstance(m["value"], (int, float))
    for w in WORKLOADS:  # the human report names every end-to-end metric too
        for m in [*END_TO_END, "failed_share"]:
            assert f"[{w}] {m} " in stdout


def test_corrupted_verdict_count_is_reported_as_failure():
    off_by_one = (
        "prepare = workloads.TypedFlagship.prepare\n"
        "def off_by_one(self, ctx):\n"
        "    prepare(self, ctx)\n"
        "    self.expected_invalid += 1\n"
        "workloads.TypedFlagship.prepare = off_by_one\n"
    )
    result, stdout = _run(["--workload", "typed_flagship", "--trace", "0"], off_by_one)
    assert result["correct"] is False
    assert result["attempted"] > 0 and result["failed"] == result["attempted"]
    assert "CHECK FAILED" in stdout and "invalid: got" in stdout


def test_benchmark_json_names_what_the_run_reports():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert [w["name"] for w in spec["workloads"]] == list(WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == PER_LAYER


def test_wrong_engine_path_is_reported_as_failure():
    # without the recursive $ref, kernel_fallback stays on the expression
    # path: its verdicts still match, only the engine-path check can tell
    variant_schema = "workloads.KernelFallback.schema = workloads.JSON_SCHEMA\n"
    result, stdout = _run(["--workload", "kernel_fallback", "--trace", "0"], variant_schema)
    assert result["correct"] is False and result["failed"] == 0
    assert "CHECK FAILED engine path: executed plan lacks an ArrowEvalPython node" in stdout
