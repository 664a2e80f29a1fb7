"""Benchmark self-test at the smallest size.

Every workload must print every metric of BENCHMARK.json with its
unit, traced and untraced, and its own per-layer timings above 0; a
wrong expected answer must be counted as a failure; and without the
program the runner must fail without a result line.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)
from perfbench.run import own_layers  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
    BENCH = json.load(fh)
WORKLOADS = [w["name"] for w in BENCH["workloads"]]


def run(*args, cwd=ROOT, timeout=300):
    return subprocess.run(
        [sys.executable, "perfbench/run.py", "--seed", "7", "--seconds", "8",
         "--tiny", *args],
        cwd=cwd, capture_output=True, text=True, timeout=timeout)


def result(proc) -> dict:
    assert proc.returncode == 0, proc.stderr[-3000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


def fails(proc) -> list[dict]:
    return [json.loads(line[len("# FAIL "):]) for line in proc.stdout.splitlines()
            if line.startswith("# FAIL ")]


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", WORKLOADS)
def test_every_metric_is_printed_with_its_unit(workload, trace):
    proc = run("--workload", workload, "--trace", str(trace))
    res = result(proc)
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] is True and res["failed"] == 0, fails(proc)
    assert res["attempted"] >= 1
    spec = BENCH["per_layer" if trace else "end_to_end"]
    assert list(res["metrics"]) == [m["name"] for m in spec]
    for m in spec:
        got = res["metrics"][m["name"]]
        assert got["unit"] == m["unit"]
        assert isinstance(got["value"], float)
    if not trace:
        assert all(v["value"] > 0 for v in res["metrics"].values())
        return
    own = own_layers(workload, tiny=True)
    timings = [m["name"] for m in spec if m["name"] in own and m["unit"] in ("ms", "s")]
    assert timings
    assert [n for n in timings if res["metrics"][n]["value"] <= 0] == []


# one corrupted oracle answer per checked part of the workload
INJECTED = {"sql_interactive": 1, "curation_ingest": 2}


@pytest.mark.parametrize("workload", WORKLOADS)
def test_wrong_expected_answer_counts_as_failure(workload):
    proc = run("--workload", workload, "--trace", "0", "--inject-wrong")
    res = result(proc)
    assert res["correct"] is False
    assert res["failed"] == INJECTED[workload]
    got = fails(proc)
    assert len(got) == INJECTED[workload] and all(f["reason"] for f in got)


def test_fails_without_the_program(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("_work", "__pycache__"))
    proc = run("--workload", "sql_interactive", "--trace", "0", cwd=tmp_path,
               timeout=120)
    assert proc.returncode != 0
    assert not proc.stdout.strip()
