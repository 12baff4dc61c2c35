"""Self-test of the benchmark: tiny runs of every workload.

    python3 -m pytest perfbench/tests -q

Each run is a real ``run.py`` invocation with a small op count, so the test
also checks the format of the last stdout line. About six minutes on a
4-core host.
"""

from __future__ import annotations

import json
import os
import random
import re
import shutil
import statistics
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import run  # noqa: E402

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def bench(*args: str, cwd: str = ROOT) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, os.path.join(cwd, "perfbench", "run.py"), *args],
        cwd=cwd, capture_output=True, text=True, timeout=300, check=False,
    )


def last_two(p: subprocess.CompletedProcess) -> tuple[dict, dict]:
    assert p.returncode == 0, p.stderr[-3000:]
    lines = p.stdout.strip().splitlines()
    return json.loads(lines[-2]), json.loads(lines[-1])


def check_result(result: dict, expected: dict) -> None:
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert isinstance(result["attempted"], int) and result["attempted"] >= 1
    assert isinstance(result["failed"], int)
    assert set(result["metrics"]) == set(expected)
    for name, m in result["metrics"].items():
        assert NAME.match(name), name
        assert UNIT.match(m["unit"]) and m["unit"] == expected[name], (name, m)
        assert isinstance(m["value"], (int, float))


def test_benchmark_json_matches_run():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {w["name"] for w in spec["workloads"]} <= set(run.workloads.WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER


def test_tail_is_never_below_the_median():
    rng = random.Random(7)
    for n in range(1, 80):
        samples = [rng.lognormvariate(0, 0.5) for _ in range(n)]
        t = run.tail(samples)
        if n < 2 * run.TAIL_BEYOND + 1:
            assert t is None
            continue
        assert t["s"] >= statistics.median(samples)
        assert t["beyond"] == sum(s > t["s"] for s in samples) >= run.TAIL_BEYOND
        assert t["n"] == n


@pytest.mark.parametrize("workload", sorted(run.workloads.WORKLOADS))
def test_tiny_run_is_correct(workload):
    record, result = last_two(
        bench("--workload", workload, "--seed", "5", "--seconds", "1", "--ops", "2")
    )
    check_result(result, run.END_TO_END)
    assert result["correct"] and result["failed"] == 0 and result["attempted"] == 2
    assert len(record["op_samples_s"]) == 2 and len(record["setup_samples_s"]) == run.SETUP_REPS
    for m in result["metrics"].values():
        assert m["value"] > 0


def test_tail_and_median_come_from_the_same_samples():
    record, result = last_two(
        bench("--workload", "c360_daily", "--seed", "6", "--seconds", "1", "--ops", "21")
    )
    samples = record["op_samples_s"]
    assert len(samples) == 21 and record["op_tail"]["n"] == 21
    assert record["op_tail"]["beyond"] >= run.TAIL_BEYOND
    assert result["metrics"]["op_p50_s"]["value"] == statistics.median(samples)
    assert result["metrics"]["op_p50_s"]["value"] <= record["op_tail"]["s"]


def test_injected_failure_is_counted():
    # the last op, since on c360_daily a day that failed to land also makes
    # every later 30-day profile wrong, and the check counts those too
    record, result = last_two(
        bench("--workload", "c360_daily", "--seed", "5", "--seconds", "1", "--ops", "3",
              "--inject-failure", "2")
    )
    assert result["attempted"] == 3 and result["failed"] == 1
    assert not result["correct"]
    assert list(record["failures"]) == ["2"]


def test_trace_run_reports_every_layer():
    record, result = last_two(
        bench("--workload", "corpus_curation", "--seed", "5", "--seconds", "1", "--ops", "1",
              "--trace", "1")
    )
    check_result(result, run.PER_LAYER)
    assert result["correct"]
    layer = {k: v["value"] for k, v in result["metrics"].items()}
    assert layer["build.jobs"] > 0 and layer["exec.jobs"] > 0
    assert layer["sources.sink_mb"] > 0 and layer["enrich.classify_s"] > 0


def test_fails_without_the_library(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(BENCH, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__", ".pytest_cache"))
    p = bench("--workload", "c360_daily", "--seed", "1", "--seconds", "1", cwd=str(tmp_path))
    assert p.returncode != 0
    assert '"correct"' not in p.stdout
