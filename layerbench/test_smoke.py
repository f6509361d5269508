"""The benchmark's own tests, at smoke size:

    python3 -m pytest layerbench/test_smoke.py -q

Each workload must end with a correct JSON line whose metric names and
units are the ones BENCHMARK.json declares, and must run its reuse
check; the launcher must refuse to run without the package beside it.
About a minute per workload (each run starts its own Spark session)."""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

from layerbench.common import tail

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    SPEC = json.load(_f)


def _run(cwd: str, *args: str) -> subprocess.CompletedProcess:
    return subprocess.run([sys.executable, "layerbench/run.py", *args], cwd=cwd,
                          capture_output=True, text=True, timeout=600)


@pytest.mark.parametrize("workload,trace", [("scan", 0), ("ingest", 1), ("lookup", 0)])
def test_smoke_run(workload, trace):
    p = _run(ROOT, "--workload", workload, "--seed", "3", "--seconds", "1",
             "--trace", str(trace), "--smoke")
    assert p.returncode == 0, p.stderr[-3000:]
    lines = p.stdout.strip().splitlines()
    res = json.loads(lines[-1])
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1
    want = SPEC["per_layer" if trace else "end_to_end"]
    got = {name: m["unit"] for name, m in res["metrics"].items()}
    assert got == {m["name"]: m["unit"] for m in want}
    detail = next(ln.split("detail: ", 1)[1] for ln in lines if "detail: " in ln)
    with open(os.path.join(ROOT, detail)) as f:
        record = json.load(f)
    assert [r["name"] for r in record["reuse_check"]] == [
        "reuse_check.filter_then_count", "reuse_check.sql_count_after_filter",
        "reuse_check.count_after_merge"]


def test_refuses_without_the_package(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "layerbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    p = _run(str(tmp_path), "--workload", "scan", "--seed", "1", "--seconds", "1",
             "--trace", "0")
    assert p.returncode != 0
    assert "correct" not in p.stdout


def test_tail_reports_a_point_above_the_median():
    assert tail([float(i) for i in range(1, 6)]) == (4.0, 80.0, 5)
    assert tail([float(i) for i in range(1, 101)]) == (90.0, 90.0, 100)
