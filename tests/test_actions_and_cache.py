"""Round-6 plumbing contracts:

- strategy-decision cache: a rerun over the same (snapshot, suite)
  reuses the persisted digest-vs-direct choice instead of re-running
  the ``_digest_auto_choice`` probe job (round-5 verdict item 4), with
  byte-identical outputs.
- ``interval_join`` width-probe memoization: the eager p95 aggregate
  runs once per interval-frame object, not once per call (round-5
  ADVICE).
"""

from __future__ import annotations

import os


# --------------------------------------------------- strategy decision cache
def test_strategy_cache_skips_probe_on_rerun(
    spark, tmp_path, transcripts, ref_snapshot, vocabs, monkeypatch
):
    """Run 1 probes digest-vs-direct and persists the choice; a forced
    re-evaluation of the SAME (snapshot, suite) must reuse it (zero
    probe jobs) and produce identical results rows."""
    from chronominer_spark.constraints.engine import SuiteEvaluator
    from chronominer_spark.constraints.spec import (
        ConstraintSuite,
        not_null,
        text_equality,
    )
    from chronominer_spark.runner import SuiteRunner

    calls = []
    real = SuiteEvaluator._digest_auto_choice

    def spy(self, df, ref, c):
        calls.append(c.constraint_id)
        return real(self, df, ref, c)

    monkeypatch.setattr(SuiteEvaluator, "_digest_auto_choice", spy)

    suite = ConstraintSuite(
        name="cache_probe",
        constraints=(not_null("conv_id"), text_equality("text", digest="auto")),
    )
    out = str(tmp_path / "out")
    runner = SuiteRunner(spark, suite, out)
    s1 = runner.run(transcripts, ref_snapshot, snapshot_id=7)
    assert s1.status == "complete"
    assert calls == ["eq:text"], "run 1 must probe exactly once"
    res1 = runner.results(run_only=s1.run_id).drop(
        "run_id", "evaluated_at").orderBy(
        "partition_id", "constraint_id").collect()

    # force re-evaluation of the same snapshot: drop the completed-set
    # manifest but KEEP the strategy sidecar (results lost, data same)
    os.remove(os.path.join(out, "manifest.json"))
    runner2 = SuiteRunner(spark, suite, out)
    s2 = runner2.run(transcripts, ref_snapshot, snapshot_id=7)
    assert s2.status == "complete"
    assert calls == ["eq:text"], "rerun must NOT re-run the probe job"
    res2 = runner2.results(run_only=s2.run_id).drop(
        "run_id", "evaluated_at").orderBy(
        "partition_id", "constraint_id").collect()
    assert res1 == res2

    # a DIFFERENT snapshot is a different dataset: the probe must rerun
    s3 = runner2.run(transcripts, ref_snapshot, snapshot_id=8)
    assert s3.status == "complete"
    assert calls == ["eq:text", "eq:text"]


# ---------------------------------------------------- interval_join memo
def test_interval_join_width_probe_memoized(spark, monkeypatch):
    from chronominer_spark.operators import temporal

    # patch the CONCRETE class (pyspark.sql.classic.dataframe.DataFrame
    # in Spark 4): the abstract pyspark.sql.DataFrame base is shadowed
    # by the subclass's own approxQuantile
    cls = type(spark.range(1))
    probes = []
    real_aq = cls.approxQuantile

    def spy(self, *a, **k):
        probes.append(1)
        return real_aq(self, *a, **k)

    monkeypatch.setattr(cls, "approxQuantile", spy)

    iv = spark.createDataFrame(
        [("k", 0, 100, "x"), ("k", 200, 260, "y")],
        "k string, lo long, hi long, tag string")
    pts_a = spark.createDataFrame([("k", 50), ("k", 210)],
                                  "k string, v long")
    pts_b = spark.createDataFrame([("k", 99), ("k", 500)],
                                  "k string, v long")

    out_a = temporal.interval_join(pts_a, iv, ["k"], "v").collect()
    out_b = temporal.interval_join(pts_b, iv, ["k"], "v").collect()
    assert len(probes) == 1, "same interval frame must probe p95 once"
    assert {(r["v"], r["iv_tag"]) for r in out_a} == {(50, "x"), (210, "y")}
    assert {(r["v"], r["iv_tag"]) for r in out_b} == {(99, "x")}

    # explicit width stays fully lazy: no probe at all
    probes.clear()
    iv2 = spark.createDataFrame([("k", 0, 10, "z")],
                                "k string, lo long, hi long, tag string")
    temporal.interval_join(pts_a, iv2, ["k"], "v", bucket_width=16).collect()
    assert probes == []


# ------------------------------------------------- ref-aggregate cache
def test_ref_agg_cache_skips_ref_scans_on_rerun(
    spark, tmp_path, transcripts, ref_snapshot, monkeypatch
):
    """Round-7 (round-6 verdict item 1): run 1 materializes the
    reference-side drift aggregates under the output root; a forced
    re-evaluation of the SAME (snapshot, suite, wave) must issue ZERO
    ref-side aggregate builds (everything read back from parquet) with
    byte-identical results; a snapshot advance must rebuild (the prune
    removes the stale scope)."""
    from chronominer_spark.checkpoint import RefAggCache
    from chronominer_spark.constraints.spec import (
        ConstraintSuite,
        drift_categorical,
        drift_ks,
        drift_psi,
        drift_quantile,
        row_count_drift,
    )
    from chronominer_spark.runner import SuiteRunner

    builds: list[str] = []
    real = RefAggCache.get_or_build

    def spy(self, key, build):
        hit = self.load(key) is not None
        if not hit:
            builds.append(key.split("|")[0])
        return real(self, key, build)

    monkeypatch.setattr(RefAggCache, "get_or_build", spy)

    suite = ConstraintSuite(
        name="ref_cache",
        constraints=(
            row_count_drift(max_rel_change=5.0),
            drift_psi("length(text)", bins=20, lo=0.0, hi=1000.0),
            drift_ks("length(text)", bins=50, lo=0.0, hi=1000.0),
            drift_quantile("length(text)", qs=[0.5, 0.9], max_abs_diff=1e9),
            drift_categorical("role", max_psi=10.0),
        ),
    )
    out = str(tmp_path / "out")
    runner = SuiteRunner(spark, suite, out)
    s1 = runner.run(transcripts, ref_snapshot, snapshot_id=3)
    assert s1.status == "complete"
    n_first = len(builds)
    assert n_first >= 4, f"run 1 must build the ref aggregates: {builds}"
    assert os.path.isdir(os.path.join(out, "ref_aggs"))
    res1 = runner.results(run_only=s1.run_id).drop(
        "run_id", "evaluated_at").orderBy(
        "partition_id", "constraint_id").collect()

    # force re-evaluation of the same snapshot: drop the manifest but
    # KEEP the ref_aggs directory (results lost, ref unchanged)
    os.remove(os.path.join(out, "manifest.json"))
    runner2 = SuiteRunner(spark, suite, out)
    s2 = runner2.run(transcripts, ref_snapshot, snapshot_id=3)
    assert s2.status == "complete"
    assert len(builds) == n_first, (
        f"rerun must read every ref aggregate back, got {builds[n_first:]}")
    res2 = runner2.results(run_only=s2.run_id).drop(
        "run_id", "evaluated_at").orderBy(
        "partition_id", "constraint_id").collect()
    assert res1 == res2

    # snapshot advance: stale scope pruned, aggregates rebuilt
    s3 = runner2.run(transcripts, ref_snapshot, snapshot_id=4)
    assert s3.status == "complete"
    assert len(builds) > n_first, "snapshot advance must rebuild"
    scopes = os.listdir(os.path.join(out, "ref_aggs"))
    assert scopes == [f"snap=4_{suite.suite_hash()[:12]}"]


def test_eqdigest_cache_keyed_by_hash_backend(
    spark, tmp_path, transcripts, ref_snapshot, monkeypatch
):
    """The cached reference conversation digests hold content hashes, so
    their RefAggCache key records which hash backend built them: a rerun
    of the same (snapshot, suite, wave) under the same backend reads the
    digests back, and one under another backend rebuilds them instead
    of comparing against hashes it cannot reproduce."""
    from chronominer_spark.checkpoint import RefAggCache
    from chronominer_spark.constraints import engine
    from chronominer_spark.constraints.spec import (
        ConstraintSuite,
        text_equality,
    )
    from chronominer_spark.runner import SuiteRunner

    builds: list[str] = []
    real = RefAggCache.get_or_build

    def spy(self, key, build):
        if self.load(key) is None:
            builds.append(key)
        return real(self, key, build)

    monkeypatch.setattr(RefAggCache, "get_or_build", spy)
    suite = ConstraintSuite(name="eqdigest_cache",
                            constraints=(text_equality(digest=True),))
    out = str(tmp_path / "out")

    def rerun():
        if os.path.exists(os.path.join(out, "manifest.json")):
            os.remove(os.path.join(out, "manifest.json"))
        s = SuiteRunner(spark, suite, out).run(
            transcripts, ref_snapshot, snapshot_id=1)
        assert s.status == "complete"

    rerun()
    assert builds and all(k.startswith("eqdigest|") for k in builds)
    n_first = len(builds)
    rerun()
    assert len(builds) == n_first, "same backend must hit the cache"
    monkeypatch.setattr(engine, "hash_backend_tag", lambda: "other-hash")
    rerun()
    assert len(builds) == 2 * n_first, "another backend must miss"
    assert all(k.endswith("|other-hash") for k in builds[n_first:])
