"""Self-test of the benchmark at smoke sizes (a few minutes):

    python3 -m pytest perfbench/test_perfbench.py -q

Every metric named in BENCHMARK.json must print by name with its unit, and
a Bloom with one word zeroed must make the failed-operation count non-zero.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)


def run(*args: str) -> tuple[list[str], dict]:
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--smoke", "--seconds", "1", *args],
        cwd=ROOT, capture_output=True, text=True, timeout=600)
    assert proc.returncode == 0, proc.stderr[-4000:]
    lines = proc.stdout.splitlines()
    return lines, json.loads(lines[-1])


def printed_units(lines: list[str], prefix: str) -> dict[str, str]:
    """{name: unit} of the ``<prefix> <name> <value> <unit> ...`` lines."""
    return {p[1]: p[3] for p in (line.split() for line in lines) if p and p[0] == prefix}


@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_end_to_end_metrics_print_with_units(workload):
    lines, result = run("--workload", workload, "--seed", "3", "--trace", "0")
    want = {m["name"]: m["unit"] for m in SPEC["end_to_end"]}
    assert printed_units(lines, "metric") == want
    assert {k: v["unit"] for k, v in result["metrics"].items()} == want
    assert result["correct"] and result["failed"] == 0 and result["attempted"] > 0


def test_per_layer_metrics_print_with_units():
    lines, result = run("--workload", SPEC["workloads"][0]["name"], "--seed", "3", "--trace", "1")
    want = {m["name"]: m["unit"] for m in SPEC["per_layer"]}
    assert printed_units(lines, "layer") == want
    assert {k: v["unit"] for k, v in result["metrics"].items()} == want
    assert result["correct"] and result["failed"] == 0


def test_zeroed_bloom_word_counts_as_failed():
    _, result = run("--workload", SPEC["workloads"][0]["name"], "--seed", "3", "--trace", "0",
                    "--fault", "zero-bloom-word")
    assert result["failed"] > 0 and not result["correct"]
