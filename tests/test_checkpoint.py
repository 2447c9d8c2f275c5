"""Resume/durability contract tests (FIXTURES.md §5 cases a–d), mirroring
the reference's refuse-on-drift and skip-completed semantics
(``/root/reference/modules/infra/jsonl.py:232-277``,
``modules/extract/resume.py:177-227``)."""

import pytest
from pyspark.sql import functions as F

from chronominer_spark.constraints.spec import (
    ConstraintSuite,
    not_empty,
    not_null,
    unique,
)
from chronominer_spark.runner import SuiteRunner


def _suite(extra=()):
    return ConstraintSuite(
        name="ckpt",
        constraints=(not_null("role"), unique("conv_id", "turn_idx"), *extra),
    )


@pytest.fixture()
def runner(spark, tmp_path):
    return SuiteRunner(spark, _suite(), str(tmp_path / "out"))


def test_first_run_completes_all_partitions(runner, transcripts, gen_cfg):
    s = runner.run(transcripts, snapshot_id=1)
    assert s.status == "complete"
    assert s.exit_code == 0
    assert len(s.completed) == gen_cfg.n_buckets
    assert s.skipped == []
    assert s.rows_validated == transcripts.count()


def test_rerun_skips_completed(runner, transcripts, gen_cfg):
    runner.run(transcripts, snapshot_id=1)
    s2 = runner.run(transcripts, snapshot_id=1)
    assert s2.completed == []
    assert len(s2.skipped) == gen_cfg.n_buckets


def test_suite_drift_invalidates_checkpoint(spark, tmp_path, transcripts, gen_cfg):
    out = str(tmp_path / "out")
    r1 = SuiteRunner(spark, _suite(), out)
    r1.run(transcripts, snapshot_id=1)
    # changed suite (extra constraint) => different hash => full re-run
    r2 = SuiteRunner(spark, _suite(extra=(not_empty("text"),)), out)
    s = r2.run(transcripts, snapshot_id=1)
    assert len(s.completed) == gen_cfg.n_buckets
    assert s.skipped == []


def test_snapshot_advance_revalidates(runner, transcripts, gen_cfg):
    runner.run(transcripts, snapshot_id=1)
    s = runner.run(transcripts, snapshot_id=2)
    assert len(s.completed) == gen_cfg.n_buckets


def test_interrupted_run_resumes_without_loss(spark, tmp_path, transcripts, gen_cfg):
    """Kill-mid-run analog: run only a prefix of waves, then resume; final
    results must be identical to an uninterrupted run."""
    out_a = str(tmp_path / "a")
    out_b = str(tmp_path / "b")

    # uninterrupted run
    full = SuiteRunner(spark, _suite(), out_a)
    full.run(transcripts, snapshot_id=1, run_id="full")

    # interrupted: first run sees only half the partitions (as if killed
    # between waves), second run resumes the rest
    part = SuiteRunner(spark, _suite(), out_b)
    buckets = sorted(
        r["pbucket"] for r in transcripts.select("pbucket").distinct().collect()
    )
    half = buckets[: len(buckets) // 2]
    part.run(transcripts.where(F.col("pbucket").isin(half)),
             snapshot_id=1, run_id="r1", wave_size=1)
    s2 = part.run(transcripts, snapshot_id=1, run_id="r2", wave_size=1)
    assert len(s2.skipped) == len(half)
    assert len(s2.completed) == gen_cfg.n_buckets - len(half)

    cols = ["partition_id", "constraint_id", "snapshot_id", "passed",
            "observed", "threshold", "rows_checked", "violation_count"]
    a = full.results().select(cols)
    b = part.results().select(cols)
    assert a.exceptAll(b).count() == 0
    assert b.exceptAll(a).count() == 0


def test_rerun_does_not_duplicate_results(runner, transcripts):
    runner.run(transcripts, snapshot_id=1)
    n1 = runner.results().count()
    # force a re-run of everything at a new snapshot, then re-run again:
    # dynamic partition overwrite keeps exactly one row set per partition
    runner.run(transcripts, snapshot_id=2)
    n2 = runner.results().count()
    assert n2 == n1  # same partitions overwritten, not appended


def test_fix_and_revalidate_clears_stale_violations(runner, transcripts):
    """A re-validated partition whose violations were fixed must not
    serve stale violation rows from the earlier snapshot (dynamic
    overwrite only rewrites partitions present in the frame; the
    per-partition sentinel forces the rewrite)."""
    s1 = runner.run(transcripts, snapshot_id=1)
    assert s1.status == "complete"
    before = runner.violations().where(
        F.col("constraint_id").startswith("unique:")
    )
    assert before.count() > 0, "fixture must plant duplicate keys"

    # "fix" the data: drop duplicate (conv_id, turn_idx) rows entirely
    fixed = transcripts.dropDuplicates(["conv_id", "turn_idx"])
    s2 = runner.run(fixed, snapshot_id=2)
    assert s2.status == "complete"

    after = runner.violations().where(
        F.col("constraint_id").startswith("unique:")
    )
    assert after.count() == 0, "stale violation rows survived re-validation"
    # results agree: latest run reports zero uniqueness violations
    res = runner.results(run_only=s2.run_id).where(
        F.col("constraint_id").startswith("unique:")
    )
    assert all(r["violation_count"] == 0 for r in res.collect())


def test_run_disarms_ref_agg_cache(runner, transcripts, ref_snapshot,
                                   monkeypatch):
    """The RefAggCache armed for each wave is scoped to that run: after
    ``run()`` returns — or raises mid-wave — the evaluator holds none,
    so a later direct ``evaluate()`` cannot read a stale wave scope."""
    from chronominer_spark.checkpoint import CheckpointManifest

    runner.run(transcripts, ref_snapshot, snapshot_id=1, wave_size=4)
    assert runner.evaluator.ref_agg_cache is None

    def crash(*a, **k):
        raise RuntimeError("injected crash at commit")

    monkeypatch.setattr(CheckpointManifest, "mark_completed", crash)
    with pytest.raises(RuntimeError, match="injected crash"):
        runner.run(transcripts, ref_snapshot, snapshot_id=2)
    assert runner.evaluator.ref_agg_cache is None


def test_ref_agg_cache_rebuilds_when_dir_vanishes_after_check(
        spark, tmp_path, monkeypatch):
    """A cache directory that vanishes between ``load``'s ``_SUCCESS``
    check and its parquet read is a miss, not a ``PATH_NOT_FOUND``
    crash: ``get_or_build`` rebuilds and returns the fresh rows."""
    import os
    import shutil

    from chronominer_spark import checkpoint
    from chronominer_spark.checkpoint import RefAggCache

    cache = RefAggCache(spark, str(tmp_path / "refagg"))
    first = spark.createDataFrame([("p1", 3)], "_pid string, n long")
    cache.save("k", first)

    real_exists = os.path.exists

    def exists_then_vanish(path):
        found = real_exists(path)
        if found and str(path).endswith("_SUCCESS"):
            shutil.rmtree(os.path.dirname(path))
        return found

    monkeypatch.setattr(checkpoint.os.path, "exists", exists_then_vanish)
    assert cache.load("k") is None
    monkeypatch.setattr(checkpoint.os.path, "exists", real_exists)

    cache.save("k", first)
    monkeypatch.setattr(checkpoint.os.path, "exists", exists_then_vanish)
    built = []

    def build():
        built.append(1)
        return spark.createDataFrame([("p1", 4)], "_pid string, n long")

    got = cache.get_or_build("k", build)
    monkeypatch.setattr(checkpoint.os.path, "exists", real_exists)
    assert built == [1]
    assert [tuple(r) for r in got.collect()] == [("p1", 4)]
