"""The benchmark's own tests: every workload passes its checks at a tiny
scale, a corrupted replica is caught, the printed metrics match
BENCHMARK.json, and a checkout without the program is refused.

    python3 -m pytest perfbench/ -q        (from the repository root; ~4 min)
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SPEC = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))


def bench(*args, cwd=ROOT):
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", *args],
        cwd=cwd, capture_output=True, text=True, timeout=300)
    lines = proc.stdout.strip().splitlines()
    result = json.loads(lines[-1]) if lines and lines[-1].startswith("{") else None
    return proc, result


def units(metrics: dict) -> dict:
    return {name: m["unit"] for name, m in metrics.items()}


@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_smoke_every_workload_passes_its_checks(workload):
    proc, result = bench("--workload", workload, "--seed", "7", "--seconds", "3",
                         "--trace", "0", "--scale", "0.001")
    assert proc.returncode == 0, proc.stdout[-2000:] + proc.stderr[-2000:]
    assert result["correct"] is True, proc.stdout[-3000:]
    assert result["failed"] == 0 and result["attempted"] >= 1
    assert units(result["metrics"]) == {m["name"]: m["unit"] for m in SPEC["end_to_end"]}
    assert all(m["value"] > 0 for m in result["metrics"].values()), result["metrics"]


def test_truncated_replica_file_is_a_failure():
    proc, result = bench("--workload", "geo_replicate", "--seed", "7", "--seconds", "6",
                         "--trace", "0", "--scale", "0.001", "--fault", "truncate-replica")
    assert proc.returncode == 0, proc.stderr[-2000:]
    assert "fault: truncated" in proc.stdout
    assert result["correct"] is False
    assert result["failed"] >= 1


def test_traced_run_prints_every_per_layer_metric(tmp_path):
    out = tmp_path / "spans.jsonl"
    proc, result = bench("--workload", "lake_ingest", "--seed", "7", "--seconds", "4",
                         "--trace", "1", "--scale", "0.001", "--trace-out", str(out))
    assert proc.returncode == 0, proc.stderr[-2000:]
    assert result["correct"] is True, proc.stdout[-3000:]
    assert units(result["metrics"]) == {m["name"]: m["unit"] for m in SPEC["per_layer"]}
    spans = [json.loads(line) for line in out.read_text().splitlines()]
    names = {s["name"] for s in spans}
    # traced and untraced cycles interleave, so only what every traced
    # cycle touches, and the set-up, is certain to appear
    assert {"op.commit", "op.read", "lake.table.append", "lake.table.snapshots",
            "spark.job", "session.get_spark", "sources.load_table"} <= names


def test_refuses_a_checkout_without_the_program(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    for path in SPEC["paths"]:
        shutil.copytree(os.path.join(ROOT, path), tmp_path / path,
                        ignore=shutil.ignore_patterns("__pycache__"))
    proc, result = bench(*["--workload", SPEC["workloads"][0]["name"], "--seed", "1",
                           "--seconds", "1", "--trace", "0"], cwd=tmp_path)
    assert proc.returncode != 0
    assert result is None
