"""Self-test of the benchmark at its tiny ``smoke`` scale: every metric
``BENCHMARK.json`` names prints with its unit, every output check
passes, and the benchmark refuses to run without the engine.

It starts five Spark runs (about 5 minutes), so it only runs when asked:

    PERFBENCH_SMOKE=1 python3 -m pytest perfbench/test_smoke.py -q
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import tempfile

import pytest

pytestmark = pytest.mark.skipif(
    os.environ.get("PERFBENCH_SMOKE") != "1",
    reason="benchmark self-test; set PERFBENCH_SMOKE=1 to run it",
)

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)


def run_bench(cwd: str, workload: str, trace: int) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "7",
         "--seconds", "1", "--trace", str(trace), "--scale", "smoke"],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_every_metric_prints_and_every_check_passes(workload, trace):
    proc = run_bench(ROOT, workload, trace)
    assert proc.returncode == 0, proc.stderr[-3000:]
    lines = proc.stdout.strip().splitlines()
    result = json.loads(lines[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0, proc.stderr[-3000:]
    assert result["attempted"] >= 1
    wanted = SPEC["per_layer" if trace else "end_to_end"]
    assert {k: v["unit"] for k, v in result["metrics"].items()} == {
        m["name"]: m["unit"] for m in wanted
    }
    human = "\n".join(lines[:-1])
    for m in wanted:
        assert f"  {m['name']} " in human
    values = {k: v["value"] for k, v in result["metrics"].items()}
    if trace:
        assert values["spark.jobs"] > 0 and values["spark.tasks"] > 0
        if workload == "traversal":
            assert values["spark.to_python_mb"] > 0
    else:
        assert all(v > 0 for v in values.values())
    assert "failed_ops_frac" in human


def test_refuses_without_the_engine():
    scratch = os.path.join(ROOT, ".perfbench")
    os.makedirs(scratch, exist_ok=True)
    with tempfile.TemporaryDirectory(dir=scratch) as bare:
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                        ignore=shutil.ignore_patterns("__pycache__"))
        proc = run_bench(bare, SPEC["workloads"][0]["name"], 0)
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""
