"""Self-check of the benchmark's output contract on a tiny input.

    python3 -m pytest perfbench/test_run.py -q

Runs ``perfbench/run.py`` on a few hundred documents for one round of
each workload, untraced and traced, and checks the last stdout line
against BENCHMARK.json: exactly the listed metrics, each with its unit,
end-to-end values above 0, and the attempted/failed counts. Also checks
that the command fails, printing no result, without the engine beside
it. Each Spark run takes about a minute.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    BENCH = json.load(f)


def run_bench(cwd: str, workload: str, trace: int, docs: int = 300) -> subprocess.CompletedProcess:
    cmd = BENCH["command"] + [
        "--workload", workload, "--seed", "3", "--seconds", "1",
        "--trace", str(trace), "--docs", str(docs),
    ]
    return subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=400)


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", [w["name"] for w in BENCH["workloads"]])
def test_result_line(workload: str, trace: int) -> None:
    proc = run_bench(ROOT, workload, trace)
    assert proc.returncode == 0, proc.stderr[-3000:]
    lines = proc.stdout.strip().splitlines()
    assert len(lines) == 1, "stdout carries only the result line"
    result = json.loads(lines[0])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True
    assert isinstance(result["attempted"], int) and result["attempted"] >= 1
    assert result["failed"] == 0
    listed = BENCH["per_layer"] if trace else BENCH["end_to_end"]
    assert set(result["metrics"]) == {m["name"] for m in listed}
    for m in listed:
        got = result["metrics"][m["name"]]
        assert got["unit"] == m["unit"], m["name"]
        assert isinstance(got["value"], float), m["name"]
        if not trace:
            assert got["value"] > 0, m["name"]


def test_fails_without_engine(tmp_path) -> None:
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    for path in BENCH["paths"]:
        shutil.copytree(os.path.join(ROOT, path), tmp_path / path)
    proc = run_bench(str(tmp_path), "search", 0)
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""


if __name__ == "__main__":
    sys.exit(pytest.main([__file__, "-q"]))
