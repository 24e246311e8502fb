"""Tiny-corpus runs of every workload print every metric of BENCHMARK.json."""

import json
import shutil
import subprocess
import sys
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parents[2]
SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())


def _run(cwd: Path, *args: str) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "crawlbench/run.py", *args],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )


# the benchmark's own steps, on a 300-page corpus instead of the workload size
_TINY = """
import json, shutil, sys
sys.path.insert(0, ".")
from crawlbench import run as entry
work = entry.WORK / "smoke-{workload}-{trace}"
entry._confine(work)
from crawlbench.bench import run
try:
    out = run("{workload}", 7, 1, {trace}, 300, work)
finally:
    shutil.rmtree(work, ignore_errors=True)
print(json.dumps(out))
"""


@pytest.mark.parametrize("trace", [False, True])
@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_tiny_run_prints_every_metric(workload, trace):
    proc = subprocess.run(
        [sys.executable, "-c", _TINY.format(workload=workload, trace=trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    out = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] and out["failed"] == 0 and out["attempted"] >= 1
    spec = SPEC["per_layer" if trace else "end_to_end"]
    assert {k: v["unit"] for k, v in out["metrics"].items()} == {
        m["name"]: m["unit"] for m in spec
    }


def test_fails_without_the_engine(tmp_path):
    shutil.copy(ROOT / "BENCHMARK.json", tmp_path)
    shutil.copytree(ROOT / "crawlbench", tmp_path / "crawlbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    proc = _run(tmp_path, "--workload", "bulk_drain", "--seed", "1",
                "--seconds", "1", "--trace", "0")
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""
