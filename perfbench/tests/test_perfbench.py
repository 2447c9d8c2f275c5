"""Tests of the benchmark itself, at the tiny input scale.

Each test runs ``perfbench/run.py`` as a subprocess from the checkout
root, as the benchmark is run. Run with::

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

BENCH_DIR = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(BENCH_DIR)
sys.path.insert(0, BENCH_DIR)

import metrics as M  # noqa: E402


def run(workload, seed=1, trace=0, bench_dir=BENCH_DIR):
    p = subprocess.run(
        [sys.executable, os.path.join(bench_dir, "run.py"),
         "--workload", workload, "--seed", str(seed), "--seconds", "1",
         "--trace", str(trace), "--scale", "tiny"],
        cwd=ROOT, capture_output=True, text=True, timeout=600)
    lines = p.stdout.strip().splitlines()
    return p, (json.loads(lines[-1]) if lines else None)


def test_catalogue_matches_benchmark_json():
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as f:
        doc = json.load(f)
    assert [w["name"] for w in doc["workloads"]] == list(M.WORKLOADS)
    assert {m["name"]: (m["unit"], m["better"])
            for m in doc["end_to_end"]} == M.END_TO_END
    assert {m["name"]: (m["unit"], m["better"])
            for m in doc["per_layer"]} == {
        k: v[:2] for k, v in M.PER_LAYER.items()}
    setup = next(m for m in doc["end_to_end"] if m["name"] == "setup_s")
    assert setup["bound"] == max(m["bound"] for m in doc["end_to_end"])


@pytest.mark.parametrize("workload", M.WORKLOADS)
def test_untraced_run_prints_every_end_to_end_metric(workload):
    p, out = run(workload)
    assert p.returncode == 0, p.stderr[-2000:]
    assert out["correct"] and out["failed"] == 0 and out["attempted"] >= 1
    assert set(out["metrics"]) == set(M.END_TO_END)
    for name, (unit, _) in M.END_TO_END.items():
        assert out["metrics"][name]["unit"] == unit
        assert out["metrics"][name]["value"] > 0


def traced(workload):
    p, out = run(workload, trace=1)
    assert p.returncode == 0, p.stderr[-2000:]
    assert out["correct"] and out["failed"] == 0, p.stderr[-2000:]
    assert set(out["metrics"]) == set(M.PER_LAYER)
    for name, spec in M.PER_LAYER.items():
        assert out["metrics"][name]["unit"] == spec[0]
    return {k: v["value"] for k, v in out["metrics"].items()}


def test_traced_snapshot_run_reconciles_runner_phases():
    m = traced("snapshot_validate")
    assert m["runner.run_s"] > 0 and m["spark.jobs"] > 0
    assert m["engine.equality_digest_s"] > 0
    phases = sum(m[f"runner.{p}_s"] for p in (
        "discover", "evaluate_call", "results_write", "violations_write",
        "readback", "unattributed"))
    assert phases == pytest.approx(m["runner.run_s"], rel=0.25)


def test_traced_stream_run_resumes_to_pinned_fingerprint():
    """The traced stream run also crashes a two-wave suite run on its
    second manifest commit and resumes it; the resumed output must equal
    both an uninterrupted run's output and the pin for this seed."""
    with open(os.path.join(BENCH_DIR, "pins.json"), encoding="utf-8") as f:
        assert "stream_fold/resume/n=1000/seed=1" in json.load(f)
    m = traced("stream_fold")
    assert m["runner.partitions_skipped"] > 0
    assert m["checkpoint.refagg_hits"] > 0
    assert m["checkpoint.strategy_cache_hits"] > 0
    assert m["streaming.near_dup.batch_s"] > 0
    assert m["tables.commit_s"] > 0 and m["operators.exact_dedup_s"] > 0


def test_corrupted_pin_fails_every_op(tmp_path):
    """A copy of the benchmark whose pins.json holds a wrong pin, run
    from the checkout root."""
    copy = tmp_path / "perfbench"
    shutil.copytree(BENCH_DIR, copy,
                    ignore=shutil.ignore_patterns("__pycache__"))
    pins = json.loads((copy / "pins.json").read_text())
    key = "snapshot_validate/n=1000/seed=1"
    pins[key] = dict(pins[key], results="0" * 16 + "-0")
    (copy / "pins.json").write_text(json.dumps(pins))
    p, out = run("snapshot_validate", bench_dir=str(copy))
    assert p.returncode == 0, p.stderr[-2000:]
    assert not out["correct"]
    assert out["failed"] == out["attempted"] >= 1


def test_refuses_to_run_without_the_program(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(BENCH_DIR, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "stream_fold",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=180)
    assert p.returncode != 0
    assert p.stdout.strip() == ""
