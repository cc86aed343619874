"""Tiny-scale self-test of the benchmark (sf0.001 tables, ~10^3-cell
corpus, one operation per workload).

    python3 -m pytest perfbench/tests -q

Each case starts its own JVM; the module takes a few minutes.
"""

from __future__ import annotations

import json
import shutil
import subprocess
import sys
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parents[2]
SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())


def _run(*args: str, cwd: Path = ROOT) -> tuple[int, str]:
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--scale", "tiny", "--seconds", "1", *args],
        cwd=cwd,
        capture_output=True,
        text=True,
        timeout=900,
    )
    return proc.returncode, proc.stdout


def _last_json(stdout: str) -> dict:
    return json.loads(stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("trace,section", [(0, "end_to_end"), (1, "per_layer")])
def test_every_metric_is_emitted_with_its_unit(trace, section):
    rc, out = _run("--workload", "all", "--trace", str(trace))
    result = _last_json(out)
    assert rc == 0, out
    assert result["correct"] is True and result["failed"] == 0
    assert result["attempted"] >= len(SPEC["workloads"])
    for w in SPEC["workloads"]:
        for m in SPEC[section]:
            got = result["metrics"][f"{w['name']}/{m['name']}"]
            assert got["unit"] == m["unit"], m["name"]
            assert isinstance(got["value"], (int, float))
    if section == "end_to_end":
        assert all(v["value"] > 0 for v in result["metrics"].values())


def test_corrupted_expected_result_is_a_failure():
    rc, out = _run("--workload", "all", "--corrupt-expected")
    result = _last_json(out)
    assert rc == 1
    assert result["correct"] is False
    assert result["failed"] >= len(SPEC["workloads"])  # every workload's check caught it


def test_without_the_package_it_exits_nonzero_and_prints_nothing(tmp_path):
    shutil.copy(ROOT / "BENCHMARK.json", tmp_path)
    shutil.copytree(ROOT / "perfbench", tmp_path / "perfbench")
    rc, out = _run("--workload", "operator_mix", cwd=tmp_path)
    assert rc != 0
    assert out.strip() == ""
