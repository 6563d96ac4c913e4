"""The benchmark's own tests: a tiny run of each workload prints every
named metric with its unit, and a corrupted output counts as a failed
op. Each case runs ``perfbench/run.py`` as the benchmark driver would:

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(os.path.dirname(HERE))
sys.path.insert(0, ROOT)

from perfbench.run import END_TO_END, PER_LAYER, WORKLOAD_NAMES  # noqa: E402

TINY = ["--seconds", "1", "--scale", "0.05"]


def bench(*args: str) -> dict:
    proc = subprocess.run(
        [sys.executable, os.path.join("perfbench", "run.py"), *args],
        cwd=ROOT, capture_output=True, text=True, timeout=600)
    assert proc.returncode == 0, proc.stderr[-3000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


def check_result(res: dict, names: dict) -> None:
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["attempted"] >= 1
    assert set(res["metrics"]) == set(names)
    for name, unit in names.items():
        m = res["metrics"][name]
        assert m["unit"] == unit, name
        assert isinstance(m["value"], (int, float)), name


def test_benchmark_json_matches_the_metric_tables():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert [w["name"] for w in spec["workloads"]] == list(WORKLOAD_NAMES)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == PER_LAYER


@pytest.mark.parametrize("workload", WORKLOAD_NAMES)
@pytest.mark.parametrize("trace", [0, 1])
def test_tiny_run_prints_every_metric(workload, trace):
    res = bench("--workload", workload, "--seed", "5", "--trace", str(trace),
                *TINY)
    assert res["correct"] and res["failed"] == 0, res
    check_result(res, PER_LAYER if trace else END_TO_END)
    values = {k: v["value"] for k, v in res["metrics"].items()}
    if trace:
        assert values["datagen.turns"] > 0
        assert values["ops_failed_frac"] == 0
    else:
        assert all(v > 0 for v in values.values()), values


@pytest.mark.parametrize("workload", WORKLOAD_NAMES)
def test_corrupted_output_counts_as_failed_op(workload):
    from perfbench.workloads import WORKLOADS

    first = WORKLOADS[workload].warmup_ops
    res = bench("--workload", workload, "--seed", "6", "--trace", "0",
                "--corrupt-op", str(first), *TINY)
    assert res["failed"] == 1 and not res["correct"], res
    check_result(res, END_TO_END)


def test_missing_engine_exits_nonzero_without_a_result(tmp_path):
    """A tree holding only the benchmark cannot run it: exit non-zero
    and print no result line."""
    import shutil

    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", WORKLOAD_NAMES[0],
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=180)
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""
