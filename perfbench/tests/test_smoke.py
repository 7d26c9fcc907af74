"""The benchmark end to end at a tiny size, and its refusal to run
without the engine it measures."""

from __future__ import annotations

import glob
import json
import math
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def _run(cwd: str, workload: str, trace: int, timeout: float = 600) -> subprocess.CompletedProcess:
    cmd = [*_spec()["command"], "--workload", workload, "--seed", "5", "--seconds", "1",
           "--trace", str(trace), "--scale", "0.02"]
    cmd[0] = sys.executable if cmd[0] == "python3" else cmd[0]
    return subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=timeout)


def test_benchmark_json_matches_the_code():
    from layers import LAYERS
    from run import END_TO_END
    from workloads import WORKLOADS

    spec = _spec()
    assert [w["name"] for w in spec["workloads"]] == list(WORKLOADS)
    assert [(m["name"], m["unit"]) for m in spec["end_to_end"]] == [(n, u) for n, u, _ in END_TO_END]
    assert [(m["name"], m["unit"], m["better"]) for m in spec["per_layer"]] == [
        (n, u, b) for n, u, b, _ in LAYERS
    ]


def test_a_run_without_samples_reports_nan_and_fails():
    from run import end_to_end
    from workloads import Results

    class W:
        res = Results(attempted=1, failed=1)

        def storage_amplification(self):
            return 1.0

    w = W()
    e2e = end_to_end(w, 1.0, 1.0, 1.0)
    assert math.isnan(e2e["ingest_p50_s"]) and math.isnan(e2e["measure_p50_ms"])
    assert w.res.failed == 3


@pytest.mark.parametrize("workload,trace", [("delta_dashboard", 0), ("stream_ingest", 1)])
def test_tiny_run_is_correct_and_complete(workload, trace):
    out = _run(ROOT, workload, trace)
    assert out.returncode == 0, out.stderr[-3000:]
    result = json.loads(out.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0 and result["attempted"] >= 1
    spec = _spec()["end_to_end" if trace == 0 else "per_layer"]
    assert list(result["metrics"]) == [m["name"] for m in spec]
    for m in spec:
        got = result["metrics"][m["name"]]
        assert got["unit"] == m["unit"] and isinstance(got["value"], (int, float))
    if trace == 0:
        assert all(v["value"] > 0 for v in result["metrics"].values())
    assert not glob.glob(os.path.join(ROOT, ".bench_work", f"{workload}-5-*")), "work left behind"


def test_refuses_to_run_without_the_engine(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(BENCH, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    out = _run(str(tmp_path), "delta_dashboard", 0, timeout=170)
    assert out.returncode != 0
    assert '"metrics"' not in out.stdout
