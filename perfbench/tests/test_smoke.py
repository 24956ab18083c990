"""Tiny-size runs of every workload through the benchmark's command line."""

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
REPO = os.path.dirname(BENCH)

with open(os.path.join(REPO, "BENCHMARK.json")) as fh:
    SPEC = json.load(fh)


def run(cwd, *args, timeout=300):
    return subprocess.run(
        [sys.executable, "perfbench/run.py", *args],
        cwd=cwd, capture_output=True, text=True, timeout=timeout,
    )


@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_tiny_run_is_correct(workload):
    p = run(REPO, "--workload", workload, "--seed", "3", "--seconds", "0",
            "--trace", "0", "--size", "tiny")
    assert p.returncode == 0, p.stderr[-2000:]
    *_, report, last = p.stdout.strip().splitlines()
    result = json.loads(last)
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 2
    assert set(result["metrics"]) == {m["name"] for m in SPEC["end_to_end"]}
    assert all(m["value"] > 0 for m in result["metrics"].values())
    prov = json.loads(report)["provenance"]
    assert prov["input"]["seed"] == 3 and prov["cpu_probe_s"] > 0


def test_traced_run_reports_every_layer():
    p = run(REPO, "--workload", "cdm", "--seed", "3", "--seconds", "0",
            "--trace", "1", "--size", "tiny")
    assert p.returncode == 0, p.stderr[-2000:]
    result = json.loads(p.stdout.strip().splitlines()[-1])
    assert result["correct"], result
    metrics = result["metrics"]
    assert set(metrics) == {m["name"] for m in SPEC["per_layer"]}
    for name in ("plans.migrate.first_s", "plans.migrate.resume_s", "plans.validate.s",
                 "plans.guardrail.s", "plans.migrate.rows_written", "exec.jobs",
                 "exec.output_bytes",
                 "exec.run_s", "sources.input_rows", "trace.overhead"):
        assert metrics[name]["value"] > 0, name
    assert abs(metrics["trace.coverage"]["value"] - 1.0) <= 0.05


def test_fails_without_the_engine(tmp_path):
    shutil.copy(os.path.join(REPO, "BENCHMARK.json"), tmp_path)
    shutil.copytree(BENCH, tmp_path / "perfbench", ignore=shutil.ignore_patterns(".work"))
    p = run(tmp_path, "--workload", "cdm", "--seed", "1", "--seconds", "1",
            "--trace", "0", timeout=60)
    assert p.returncode != 0
    assert p.stdout.strip() == ""
