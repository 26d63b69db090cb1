"""Toy-size smoke runs of every benchmark workload, plus the runner's
contract: result line shape, metric names against BENCHMARK.json, seeded
inputs, and a clean failure outside a checkout.

    python -m pytest -q perfbench/smoke_check.py

(The file name keeps it out of the repository's default test collection:
the toy crawl round alone takes a minute or more on 4 cores.)
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
sys.path.insert(0, HERE)
sys.path.insert(0, ROOT)

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    BENCH = json.load(f)


def _run(cwd, *args, timeout=600):
    return subprocess.run(
        [sys.executable, "perfbench/run.py", *args], cwd=cwd, capture_output=True,
        text=True, timeout=timeout,
    )


# extract_archive is runnable but not in BENCHMARK.json (see README.md)
@pytest.mark.parametrize(
    "workload", [w["name"] for w in BENCH["workloads"]] + ["extract_archive"]
)
def test_toy_workload(workload):
    p = _run(ROOT, "--workload", workload, "--seed", "3", "--seconds", "1",
             "--trace", "0", "--size", "toy")
    assert p.returncode == 0, p.stderr[-3000:]
    lines = p.stdout.strip().splitlines()
    result = json.loads(lines[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True, json.loads(lines[-2])["report"]["failures"]
    assert result["failed"] == 0 and result["attempted"] >= 1
    want = {m["name"]: m["unit"] for m in BENCH["end_to_end"]}
    assert {k: v["unit"] for k, v in result["metrics"].items()} == want
    assert all(v["value"] > 0 for v in result["metrics"].values())


def test_traced_run_prints_every_layer_metric():
    p = _run(ROOT, "--workload", "operator_suite", "--seed", "3", "--seconds", "1",
             "--trace", "1", "--size", "toy")
    assert p.returncode == 0, p.stderr[-3000:]
    result = json.loads(p.stdout.strip().splitlines()[-1])
    want = {m["name"]: m["unit"] for m in BENCH["per_layer"]}
    assert {k: v["unit"] for k, v in result["metrics"].items()} == want
    assert result["metrics"]["plan.jobs_per_op"]["value"] > 0


def test_per_layer_names_match_the_tracer():
    import layers

    assert [(m["name"], m["unit"], m["better"]) for m in BENCH["per_layer"]] == [
        (k, u, b) for k, (u, b, _) in layers.PER_LAYER.items()
    ]


def test_inputs_are_a_function_of_the_seed():
    import inputs

    assert inputs.crawl_state(5, 500, 50, 20) == inputs.crawl_state(5, 500, 50, 20)
    assert inputs.crawl_state(5, 500, 50, 20) != inputs.crawl_state(6, 500, 50, 20)
    a, b = inputs.query_tables(5), inputs.query_tables(5)
    assert all(a[t].equals(b[t]) for t in inputs.TABLES)
    assert not a["lineitem"].equals(inputs.query_tables(6)["lineitem"])


def test_fails_cleanly_without_the_program(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    p = _run(tmp_path, "--workload", "operator_suite", "--seed", "1", "--seconds", "1",
             "--trace", "0", timeout=180)
    assert p.returncode != 0
    assert p.stdout.strip() == ""
