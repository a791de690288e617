"""The benchmark's own tests, on tiny inputs.  Run from the repository root:

    python3 -m pytest perfbench/test_smoke.py -q

Each case starts one benchmark process (one Spark JVM), so the file takes
a few minutes.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)
WORKLOADS = [w["name"] for w in SPEC["workloads"]]


def bench(*args, cwd=ROOT):
    return subprocess.run(
        [sys.executable, "perfbench/run.py", "--seed", "1", "--seconds", "1", "--smoke", *args],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )


def result(*args) -> dict:
    p = bench(*args)
    assert p.returncode == 0, p.stderr[-3000:]
    return json.loads(p.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", WORKLOADS)
def test_every_metric_prints_with_its_unit(workload, trace):
    res = result("--workload", workload, "--trace", str(trace))
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1
    want = SPEC["per_layer" if trace else "end_to_end"]
    assert {k: v["unit"] for k, v in res["metrics"].items()} == {
        m["name"]: m["unit"] for m in want
    }
    if not trace:
        assert all(v["value"] > 0 for v in res["metrics"].values())


def test_corrupted_output_counts_as_failed():
    res = result("--workload", "warehouse_etl", "--trace", "0", "--corrupt")
    assert not res["correct"]
    assert res["failed"] >= 1


def test_refuses_to_run_without_the_engine(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    p = bench("--workload", WORKLOADS[0], "--trace", "0", cwd=tmp_path)
    assert p.returncode != 0
    assert '"correct"' not in p.stdout


def test_inputs_follow_the_seed():
    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    import gen

    a, b, c = (gen.make_table("lineitem", s, 0.01) for s in (1, 1, 2))
    assert a.equals(b)
    assert not a.equals(c)
