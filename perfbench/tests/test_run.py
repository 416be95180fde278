"""The benchmark end to end: contract shape, smoke runs, refusal without the program."""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import uuid

import pytest

from perfbench import gen, run

SCALE = "0.01"


def _zombies() -> set[int]:
    found = set()
    for entry in os.listdir("/proc"):
        try:
            with open(f"/proc/{entry}/stat") as f:
                if f.read().rsplit(")", 1)[1].split()[0] == "Z":
                    found.add(int(entry))
        except (OSError, ValueError):
            continue
    return found


def _carrying(marker: str) -> list[int]:
    """Live processes whose environment carries ``marker`` (children
    inherit the environment)."""
    found = []
    for entry in os.listdir("/proc"):
        try:
            with open(f"/proc/{entry}/environ", "rb") as f:
                if marker.encode() in f.read():
                    found.append(int(entry))
        except (OSError, ValueError):
            continue
    return found


def _bench(*args: str, cwd: str = run.ROOT) -> subprocess.CompletedProcess:
    """Run the benchmark and check that it stopped every process it started."""
    marker = f"PERFBENCH_TEST_RUN={uuid.uuid4().hex}"
    key, value = marker.split("=")
    zombies = _zombies()
    done = subprocess.run(
        [sys.executable, "perfbench/run.py", *args], cwd=cwd, capture_output=True,
        text=True, timeout=400, env={**os.environ, key: value},
    )
    assert _carrying(marker) == [], "the run left processes running"
    # a process that ends after its parent is reaped by init, which may never do it
    assert _zombies() - zombies == set(), "the run left processes unreaped"
    return done


def test_benchmark_json_lists_what_the_runner_prints():
    with open(os.path.join(run.ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {m["name"]: (m["unit"], m["better"]) for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: (m["unit"], m["better"]) for m in spec["per_layer"]} == run.PER_LAYER
    assert {w["name"] for w in spec["workloads"]} <= set(gen.WORKLOADS)
    setup = next(m for m in spec["end_to_end"] if m["name"] == "setup_s")
    assert setup["bound"] == max(m["bound"] for m in spec["end_to_end"])


@pytest.mark.parametrize("workload", sorted(gen.WORKLOADS))
def test_smoke_run_is_correct(workload):
    done = _bench("--workload", workload, "--seed", "1", "--seconds", "0",
                  "--trace", "0", "--scale", SCALE)
    assert done.returncode == 0, done.stderr[-3000:]
    result = json.loads(done.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 2
    assert set(result["metrics"]) == set(run.END_TO_END)
    assert all(m["value"] > 0 for m in result["metrics"].values())


def test_traced_smoke_run_reports_every_layer():
    done = _bench("--workload", "week_store", "--seed", "1", "--seconds", "0",
                  "--trace", "1", "--scale", SCALE)
    assert done.returncode == 0, done.stderr[-3000:]
    result = json.loads(done.stdout.strip().splitlines()[-1])
    assert result["correct"]
    assert set(result["metrics"]) == set(run.PER_LAYER)
    metrics = {k: v["value"] for k, v in result["metrics"].items()}
    assert metrics["spark.exchanges"] == 3
    assert 0 < metrics["linker.traces_linked_ratio"] < 0.5      # one day of seven


def test_refuses_without_the_program(tmp_path):
    shutil.copy(os.path.join(run.ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(run.ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns(".work", "__pycache__"))
    done = _bench("--workload", "flat_day", "--seed", "1", "--seconds", "1",
                  "--trace", "0", cwd=str(tmp_path))
    assert done.returncode != 0
    assert done.stdout.strip() == ""
