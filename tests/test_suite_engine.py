"""Constraint-engine correctness: every family's counts match an
independently-formulated plain-SQL oracle over the same data (the analog
of the reference's golden ground-truth corpus, FIXTURES.md §6)."""

import pytest
from pyspark.sql import functions as F

from chronominer_spark.constraints import SuiteEvaluator
from chronominer_spark.constraints.spec import (
    ConstraintSuite,
    column_stats,
    cross_field_null,
    default_transcript_suite,
    drift_ks,
    drift_psi,
    in_range,
    matches,
    not_empty,
    not_null,
    quantiles,
    referential,
    text_equality,
    unique,
)
from chronominer_spark.datagen import ROLE_VOCAB, TOOL_VOCAB, role_vocab_df


@pytest.fixture(scope="module")
def evaluated(spark, transcripts, ref_snapshot):
    from chronominer_spark.constraints.spec import default_vocab_dfs
    suite = default_transcript_suite(list(ROLE_VOCAB), list(TOOL_VOCAB))
    ev = SuiteEvaluator(spark, suite, default_vocab_dfs(spark, list(TOOL_VOCAB)))
    res, vio = ev.evaluate(transcripts, ref_snapshot, snapshot_id=7)
    return res.cache(), vio.cache()


def _total(res, cid):
    rows = res.where(F.col("constraint_id") == cid).agg(
        F.sum("violation_count").alias("v"), F.sum("rows_checked").alias("n")
    ).collect()[0]
    return rows["v"], rows["n"]


def test_not_null_role_matches_oracle(evaluated, transcripts):
    res, _ = evaluated
    v, n = _total(res, "not_null:role")
    assert n == transcripts.count()
    assert v == transcripts.where(F.col("role").isNull()).count()


def test_not_empty_text_matches_oracle(evaluated, transcripts):
    res, _ = evaluated
    v, _ = _total(res, "not_empty:text")
    oracle = transcripts.where(
        F.col("text").isNotNull() & (F.trim("text") == "")
    ).count()
    assert v == oracle


def test_unique_matches_oracle(evaluated, transcripts):
    res, vio = evaluated
    v, _ = _total(res, "unique:conv_id,turn_idx")
    oracle_excess = (
        transcripts.groupBy("conv_id", "turn_idx").count()
        .where(F.col("count") > 1)
        .agg(F.sum(F.col("count") - 1)).collect()[0][0]
    )
    assert v == oracle_excess
    dup_keys = vio.where(F.col("constraint_id") == "unique:conv_id,turn_idx").count()
    oracle_keys = (
        transcripts.groupBy("conv_id", "turn_idx").count()
        .where(F.col("count") > 1).count()
    )
    assert dup_keys == oracle_keys


def test_referential_role_matches_oracle(evaluated, transcripts):
    res, _ = evaluated
    v, _ = _total(res, "ri:role")
    # allow_null=False in the default suite: nulls count as violations too
    oracle = transcripts.where(
        F.col("role").isNull() | ~F.col("role").isin(ROLE_VOCAB)
    ).count()
    assert v == oracle


def test_referential_tool_matches_oracle(evaluated, transcripts):
    res, _ = evaluated
    v, _ = _total(res, "ri:tool")
    oracle = transcripts.where(
        F.col("tool").isNotNull() & ~F.col("tool").isin(TOOL_VOCAB)
    ).count()
    assert v == oracle


def test_referential_broadcast_join_mode_agrees(spark, transcripts, evaluated):
    """The broadcast+left-anti plan and the fused isin plan agree."""
    suite = ConstraintSuite(
        name="ri_join", constraints=(referential("role", vocab_name="roles", allow_null=False),),
    )
    ev = SuiteEvaluator(spark, suite, {"roles": role_vocab_df(spark)})
    res, vio = ev.evaluate(transcripts)
    res_fused, _ = evaluated
    v_join, _ = _total(res, "ri:role")
    v_fused, _ = _total(res_fused, "ri:role")
    assert v_join == v_fused


def test_in_range_and_regex(evaluated):
    res, _ = evaluated
    v_range, _ = _total(res, "range:turn_idx")
    assert v_range == 0  # generator emits 1-based indices
    v_re, _ = _total(res, "regex:conv_id")
    assert v_re == 0


def test_cross_field_null(evaluated, transcripts):
    res, _ = evaluated
    v, _ = _total(res, "xnull:text")
    oracle = transcripts.where(
        F.col("text").isNull() & F.col("tool").isNotNull()
    ).count()
    assert v == oracle


def test_column_stats_match_oracle(evaluated, transcripts):
    res, _ = evaluated
    got = {
        r["constraint_id"]: r["observed"]
        for r in res.where(F.col("constraint_id").startswith("stats:turn_idx#"))
        .groupBy("constraint_id")
        .agg(F.max("observed").alias("observed")).collect()
    }
    oracle_max = transcripts.agg(F.max("turn_idx")).collect()[0][0]
    assert got["stats:turn_idx#max"] == float(oracle_max)
    assert got["stats:turn_idx#null_rate"] == 0.0


def test_quantiles_present_and_ordered(evaluated):
    res, _ = evaluated
    rows = (
        res.where(F.col("constraint_id").startswith("quantiles:"))
        .groupBy("constraint_id").agg(F.avg("observed").alias("o")).collect()
    )
    byq = {r["constraint_id"].split("#")[1]: r["o"] for r in rows}
    assert byq["p50"] <= byq["p90"] <= byq["p99"]


def test_text_equality_counts(evaluated, transcripts, ref_snapshot):
    _, vio = evaluated
    eq = vio.where(F.col("constraint_id") == "eq:text")
    by_detail = {r["detail"]: r["n"] for r in
                 eq.groupBy("detail").agg(F.count(F.lit(1)).alias("n")).collect()}
    # added turns in ref -> missing_in_current; dropped -> extra_in_current
    added = ref_snapshot.where(F.col("turn_idx") > 1_000_000).count()
    assert by_detail.get("missing_in_current", 0) >= added
    assert by_detail.get("mismatch", 0) > 0
    mutated = ref_snapshot.where(F.col("text").endswith("MUTATED")).count()
    assert by_detail.get("mismatch", 0) <= mutated


def test_drift_small_between_near_identical_snapshots(evaluated):
    res, _ = evaluated
    psi = res.where(F.col("constraint_id").startswith("psi:")) \
        .agg(F.max("observed")).collect()[0][0]
    ks = res.where(F.col("constraint_id").startswith("ks:")) \
        .agg(F.max("observed")).collect()[0][0]
    # snapshots differ by ~0.1% of rows -> tiny drift, well under thresholds
    assert psi < 0.01
    assert ks < 0.01


def test_drift_detects_shifted_distribution(spark, transcripts):
    suite = ConstraintSuite(
        name="drift_only",
        constraints=(drift_psi("length(text)", bins=20, lo=0.0, hi=1000.0),
                     drift_ks("length(text)", bins=50, lo=0.0, hi=1000.0)),
    )
    shifted = transcripts.withColumn(
        "text", F.concat(F.col("text"), F.lit(" " * 120))
    )
    ev = SuiteEvaluator(spark, suite)
    res, _ = ev.evaluate(transcripts, shifted)
    psi = res.where(F.col("constraint_id").startswith("psi:")) \
        .agg(F.min("observed")).collect()[0][0]
    ks = res.where(F.col("constraint_id").startswith("ks:")) \
        .agg(F.min("observed")).collect()[0][0]
    assert psi > 0.2
    assert ks > 0.1


def test_results_schema(evaluated):
    res, vio = evaluated
    assert res.columns == [
        "partition_id", "constraint_id", "snapshot_id", "passed",
        "observed", "threshold", "rows_checked", "violation_count",
    ]
    assert vio.columns == [
        "partition_id", "constraint_id", "snapshot_id",
        "conv_id", "turn_idx", "column", "value", "detail",
    ]


def test_ref_only_suite_without_ref_df_raises(spark, transcripts):
    from chronominer_spark.constraints.engine import SuiteEvaluator
    from chronominer_spark.constraints.spec import ConstraintSuite, text_equality

    suite = ConstraintSuite(name="refonly", constraints=(text_equality("text"),))
    ev = SuiteEvaluator(spark, suite)
    with pytest.raises(ValueError, match="ref_df"):
        ev.evaluate(transcripts, None, snapshot_id=1)


def test_digest_and_turn_join_equality_agree(spark, transcripts, ref_snapshot):
    """The conv-digest fast path and the direct per-turn join must emit
    identical results and violation rows — the digest only changes the
    physics. The generated ref snapshot plants mismatches, added turns
    (missing_in_current) and dropped turns (extra_in_current), so all
    three violation classes cross the drilldown boundary."""
    from chronominer_spark.constraints.engine import SuiteEvaluator
    from chronominer_spark.constraints.spec import ConstraintSuite, text_equality

    def run(digest):
        suite = ConstraintSuite(
            name=f"eq_{digest}",
            constraints=(text_equality("text", digest=digest),),
        )
        ev = SuiteEvaluator(spark, suite)
        res, vio = ev.evaluate(transcripts, ref_snapshot, snapshot_id=1)
        out = (
            sorted(map(tuple, res.drop("suite_name").collect())),
            sorted(map(tuple, vio.collect())),
        )
        ev.unpersist_all()
        return out

    d_res, d_vio = run(True)
    t_res, t_vio = run(False)
    assert len(d_vio) == len(t_vio) and d_vio == t_vio
    assert d_res == t_res


def test_digest_equality_conv_spanning_partitions(spark):
    """A conversation whose rows shift partitions between cur and ref
    must drill down (digest groups are (conv, pid)) and classify exactly
    as the per-turn join does."""
    from chronominer_spark.constraints.engine import SuiteEvaluator
    from chronominer_spark.constraints.spec import ConstraintSuite, text_equality

    cur = spark.createDataFrame(
        [("c1", 0, "a", "hello", "t0", 1), ("c1", 1, "a", "world", "t0", 1),
         ("c2", 0, "a", "same", "t0", 2)],
        "conv_id string, turn_idx int, role string, text string, tool string, pbucket int",
    ).withColumn("ts", F.current_timestamp())
    # c1 moved to pbucket 3 in ref, one text mutated; c2 untouched
    ref = spark.createDataFrame(
        [("c1", 0, "a", "hello", "t0", 3), ("c1", 1, "a", "CHANGED", "t0", 3),
         ("c2", 0, "a", "same", "t0", 2)],
        "conv_id string, turn_idx int, role string, text string, tool string, pbucket int",
    ).withColumn("ts", F.current_timestamp())

    def run(digest):
        suite = ConstraintSuite(
            name=f"span_{digest}",
            constraints=(text_equality("text", digest=digest),),
        )
        ev = SuiteEvaluator(spark, suite)
        res, vio = ev.evaluate(cur, ref, snapshot_id=1)
        out = (sorted(map(tuple, res.drop("suite_name").collect())),
               sorted(map(tuple, vio.collect())))
        ev.unpersist_all()
        return out

    d, t = run(True), run(False)
    assert d == t
    # the mutated turn is a mismatch, counted once, in cur's partition
    vio = d[1]
    assert len(vio) == 1 and vio[0][3] == "c1" and vio[0][4] == 1


def test_digest_equality_stale_duplicate_in_other_partition(spark):
    """Regression (round-3 advice): a turn whose stable winner lives in
    an ok (conv, pid) group while a stale duplicate of it physically
    sits in a bad partition. Drilling by (conv, pid) would re-derive the
    winner from the loser row alone -> spurious extra_in_current +
    double-counted rows_checked. The drill must select whole
    conversations and replace their ok-group contributions."""
    from datetime import datetime

    from chronominer_spark.constraints.engine import SuiteEvaluator
    from chronominer_spark.constraints.spec import ConstraintSuite, text_equality

    ts1 = datetime(2024, 1, 1, 0, 0, 0)
    ts2 = datetime(2024, 1, 2, 0, 0, 0)
    # c1 turn 0: winner (ts2) in pbucket 1, stale duplicate (ts1) in
    # pbucket 2; turn 1 lives in pbucket 2 and mismatches the ref so
    # (c1, p2) is a bad group while (c1, p1) digests ok.
    cur = spark.createDataFrame(
        [("c1", 0, "a", "hello", "t0", 1, ts2),
         ("c1", 0, "a", "hello", "t0", 2, ts1),
         ("c1", 1, "a", "world", "t0", 2, ts2),
         ("c2", 0, "a", "same", "t0", 3, ts2)],
        "conv_id string, turn_idx int, role string, text string, "
        "tool string, pbucket int, ts timestamp",
    )
    ref = spark.createDataFrame(
        [("c1", 0, "a", "hello", "t0", 1, ts2),
         ("c1", 1, "a", "CHANGED", "t0", 2, ts2),
         ("c2", 0, "a", "same", "t0", 3, ts2)],
        "conv_id string, turn_idx int, role string, text string, "
        "tool string, pbucket int, ts timestamp",
    )

    def run(digest):
        suite = ConstraintSuite(
            name=f"stale_{digest}",
            constraints=(text_equality("text", digest=digest),),
        )
        ev = SuiteEvaluator(spark, suite)
        res, vio = ev.evaluate(cur, ref, snapshot_id=1)
        out = (sorted(map(tuple, res.collect())),
               sorted(map(tuple, vio.collect())))
        ev.unpersist_all()
        return out

    d, t = run(True), run(False)
    assert d == t
    # exactly one violation: the turn-1 mismatch; turn 0 matches (its
    # winner is identical on both sides) and is counted exactly once
    vio = d[1]
    assert len(vio) == 1 and vio[0][3] == "c1" and vio[0][4] == 1
    assert vio[0][7] == "mismatch"
    total_checked = sum(r[6] for r in d[0])
    assert total_checked == 3  # 3 distinct (conv, turn) keys, no double count


def test_digest_auto_picks_by_observed_diff_rate(spark, transcripts, ref_snapshot,
                                                monkeypatch):
    """digest='auto' must pick the digest prepass when the sampled
    conv-level mismatch rate is low (re-validating a mostly-identical
    snapshot — the standard fixture's per-turn diff rates put ~3.5% of
    convs over, under the 5% threshold) and the direct join on a
    dense-diff snapshot (mutate rate bumped so ~1/3 of convs differ) —
    and the auto plan's outputs must equal the explicit plans'."""
    from chronominer_spark.constraints import engine
    from chronominer_spark.constraints.engine import SuiteEvaluator
    from chronominer_spark.constraints.spec import ConstraintSuite, text_equality
    from chronominer_spark.datagen import (TranscriptGenConfig,
                                           generate_reference_snapshot)

    # sample every conversation so the verdict is deterministic at
    # fixture scale
    monkeypatch.setattr(engine, "_AUTO_SAMPLE_MOD", 1)
    c = text_equality("text", digest="auto")
    suite = ConstraintSuite(name="auto_eq", constraints=(c,))
    ev = SuiteEvaluator(spark, suite)

    def pid(df):
        return df.withColumn("_pid", ev._partition_id_col(df))

    # mostly-identical snapshots -> digest prepass
    assert ev._digest_auto_choice(pid(transcripts), pid(transcripts), c) is True
    assert ev._digest_auto_choice(pid(transcripts), pid(ref_snapshot), c) is True

    # dense-diff snapshot (~1 - (1-0.0104)^40 ≈ 34% of convs) -> direct
    dense_cfg = TranscriptGenConfig(
        n_turns=20_000, n_convs=500, seed=42, n_buckets=8,
        ref_mutate_rate=1e-2)
    dense_ref = generate_reference_snapshot(spark, dense_cfg)
    assert ev._digest_auto_choice(pid(transcripts), pid(dense_ref), c) is False

    def run(suite_name, digest):
        s = ConstraintSuite(
            name=suite_name,
            constraints=(text_equality("text", digest=digest),))
        e = SuiteEvaluator(spark, s)
        res, vio = e.evaluate(transcripts, ref_snapshot, snapshot_id=1)
        out = (sorted(map(tuple, res.drop("suite_name").collect())),
               sorted(map(tuple, vio.collect())))
        e.unpersist_all()
        return out

    assert run("auto_e2e", "auto") == run("direct_e2e", False)


def _ri_dim_anti_join_lines(spark, df, c):
    """The physical-plan lines of the left-anti join that a dim RI
    constraint's results frame runs."""
    from chronominer_spark.constraints.spec import default_vocab_dfs
    from chronominer_spark.plans.inspect import physical_plan

    res, _ = SuiteEvaluator(spark, ConstraintSuite(
        name="ri_dim", constraints=(c,)),
        default_vocab_dfs(spark, list(TOOL_VOCAB))).evaluate(df)
    return [ln for ln in physical_plan(res).splitlines() if "LeftAnti" in ln]


def test_referential_dim_join_chosen_by_size(spark, transcripts,
                                             broadcast_joins_off):
    """The dim RI is one left-anti join with no hint, so Spark picks the
    join by size: a vocab-sized dim of known size plans a broadcast
    anti-join (the default suite's ``ri:tool`` plan), and with both
    broadcast thresholds off it plans a shuffled one."""
    default_ri = next(c for c in default_transcript_suite(
        list(ROLE_VOCAB), list(TOOL_VOCAB)).constraints
        if c.constraint_id == "ri:tool")
    strict_ri = referential("tool", vocab_name="tool_vocab", allow_null=False)

    for c in (default_ri, strict_ri):
        lines = _ri_dim_anti_join_lines(spark, transcripts, c)
        assert lines and all("BroadcastHashJoin" in ln for ln in lines), lines
    with broadcast_joins_off():
        lines = _ri_dim_anti_join_lines(spark, transcripts, strict_ri)
    assert lines and all("Broadcast" not in ln for ln in lines), lines


def test_referential_shuffle_strategy_matches_broadcast(spark, transcripts,
                                                        broadcast_joins_off):
    """The shuffled anti-join Spark plans for a dim too large to
    broadcast gives the same results and violation rows as the
    broadcast one, so the size-based choice never changes an output."""
    from chronominer_spark.constraints.spec import default_vocab_dfs

    def rows():
        ev = SuiteEvaluator(spark, ConstraintSuite(
            name="ri_dim",
            constraints=(referential("tool", vocab_name="tool_vocab",
                                     allow_null=False),)),
            default_vocab_dfs(spark, list(TOOL_VOCAB)))
        res, vio = ev.evaluate(transcripts)
        return (sorted(map(tuple, res.collect())),
                sorted(map(tuple, vio.collect())))

    broadcast_rows = rows()
    with broadcast_joins_off():
        shuffled_rows = rows()
    assert shuffled_rows == broadcast_rows
    # null tools are violations under allow_null=False, so both
    # frames are non-empty and the comparison is not vacuous
    assert broadcast_rows[1]


@pytest.mark.parametrize("dim", [True, False], ids=["dim", "inline"])
def test_referential_non_string_all_null_column_passes(spark, dim):
    """A fact column Spark reads as ``int`` because every value is NULL
    (a pandas-written parquet column of None) must validate clean
    against a string vocabulary: the values compare as strings, never
    by casting the vocabulary to the fact column's type."""
    df = spark.createDataFrame(
        [("conv-00000001", i, None, 0) for i in (1, 2, 3)],
        "conv_id string, turn_idx int, tool int, pbucket int")
    if dim:
        from chronominer_spark.constraints.spec import default_vocab_dfs
        c = referential("tool", vocab_name="tool_vocab")
        vocab = default_vocab_dfs(spark, list(TOOL_VOCAB))
    else:
        c = referential("tool", vocab=list(TOOL_VOCAB))
        vocab = None
    ev = SuiteEvaluator(spark, ConstraintSuite(
        name="ri_int", constraints=(c,)), vocab)
    res, vio = ev.evaluate(df)
    got = [(r["constraint_id"], r["passed"], r["rows_checked"],
            r["violation_count"]) for r in res.collect()]
    assert got == [("ri:tool", True, 3, 0)]
    assert vio.count() == 0


def test_monotone_constraint_flags_backward_timestamps(spark):
    """monotone('ts', ['conv_id'], ['turn_idx']): a turn whose ts
    precedes its predecessor is a violation carrying the predecessor's
    value; ties pass unless strict; nulls are never compared; clean
    conversations pass with rate 0."""
    from datetime import datetime

    from chronominer_spark.constraints.engine import SuiteEvaluator
    from chronominer_spark.constraints.spec import ConstraintSuite, monotone

    t0 = datetime(2024, 1, 1, 10, 0, 0)
    t1 = datetime(2024, 1, 1, 11, 0, 0)
    t2 = datetime(2024, 1, 1, 12, 0, 0)
    cur = spark.createDataFrame(
        [("c1", 0, t1, 1), ("c1", 1, t0, 1), ("c1", 2, t2, 1),  # t0 < t1: bad
         ("c2", 0, t0, 1), ("c2", 1, t0, 1),                    # tie: ok
         ("c3", 0, t0, 2), ("c3", 1, None, 2), ("c3", 2, t1, 2)],  # nulls: ok
        "conv_id string, turn_idx int, ts timestamp, pbucket int",
    )
    suite = ConstraintSuite(
        name="mono", constraints=(monotone("ts", ["conv_id"], ["turn_idx"]),))
    ev = SuiteEvaluator(spark, suite)
    res, vio = ev.evaluate(cur)
    rows = {r["partition_id"]: r for r in res.collect()}
    assert rows["conv_bucket=1"]["violation_count"] == 1
    assert not rows["conv_bucket=1"]["passed"]
    assert rows["conv_bucket=2"]["violation_count"] == 0
    assert rows["conv_bucket=2"]["passed"]
    v = vio.collect()
    assert len(v) == 1 and v[0]["conv_id"] == "c1" and v[0]["turn_idx"] == 1
    assert "decreased from" in v[0]["detail"]

    # strict mode also flags the c2 tie
    strict_suite = ConstraintSuite(
        name="mono_s",
        constraints=(monotone("ts", ["conv_id"], ["turn_idx"], strict=True),))
    res_s, vio_s = SuiteEvaluator(spark, strict_suite).evaluate(cur)
    assert vio_s.count() == 2


def test_drift_quantile_detects_tail_shift(spark):
    """A +7 shift planted ONLY in the top decile moves p99 by ~7 while
    the median stays put — drift_quantile flags it; the identical
    snapshot passes at threshold 0; a partition missing from the
    reference fails with null observed (uncertifiable)."""
    from chronominer_spark.constraints.engine import SuiteEvaluator
    from chronominer_spark.constraints.spec import ConstraintSuite, drift_quantile

    rows = [("c%03d" % i, 0, float(i % 100), 1) for i in range(2000)]
    cur = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, v double, pbucket int")
    shifted = cur.withColumn(
        "v", F.when(F.col("v") >= 90, F.col("v") + 7.0).otherwise(F.col("v")))

    suite = ConstraintSuite(
        name="qd",
        constraints=(drift_quantile("v", qs=[0.5, 0.99], max_abs_diff=1.0),))
    ev = SuiteEvaluator(spark, suite)

    # identical snapshots: zero drift even at threshold 0
    same = ConstraintSuite(
        name="qd0", constraints=(drift_quantile("v", qs=[0.5, 0.99]),))
    res0, _ = SuiteEvaluator(spark, same).evaluate(cur, cur)
    r0 = res0.collect()[0]
    assert r0["observed"] == 0.0 and r0["passed"]

    # planted tail shift: observed ~7 >> 1.0 threshold
    res, _ = ev.evaluate(shifted, cur)
    r = res.collect()[0]
    assert r["observed"] >= 5.0 and not r["passed"]

    # partition present in cur but absent from ref: uncertifiable
    cur2 = cur.withColumn(
        "pbucket", F.when(F.col("conv_id") == "c000", 9).otherwise(1))
    res2, _ = ev.evaluate(cur2, cur)
    by_pid = {x["partition_id"]: x for x in res2.collect()}
    assert by_pid["conv_bucket=9"]["observed"] is None
    assert not by_pid["conv_bucket=9"]["passed"]


def test_expr_check_generic_predicate(spark):
    """expr_check: arbitrary boolean SQL over the row, fused into the
    single row-check scan; FALSE and NULL both violate (a check must be
    affirmatively true); violations carry the expression lineage."""
    from chronominer_spark.constraints.engine import SuiteEvaluator
    from chronominer_spark.constraints.spec import ConstraintSuite, expr_check

    cur = spark.createDataFrame(
        [("c1", 0, "short", 1), ("c1", 1, "x" * 50, 1),
         ("c2", 0, None, 2)],
        "conv_id string, turn_idx int, text string, pbucket int")
    suite = ConstraintSuite(
        name="ec",
        constraints=(
            expr_check("len_ok", "length(text) <= 10", max_rate=0.0),
            expr_check("has_text", "text IS NOT NULL"),
        ))
    res, vio = SuiteEvaluator(spark, suite).evaluate(cur)
    by_id = {(r["partition_id"], r["constraint_id"]): r for r in res.collect()}
    # len_ok: turn 1 too long; the NULL text row also violates (null len)
    assert by_id[("conv_bucket=1", "check:len_ok")]["violation_count"] == 1
    assert by_id[("conv_bucket=2", "check:len_ok")]["violation_count"] == 1
    assert not by_id[("conv_bucket=1", "check:len_ok")]["passed"]
    # has_text: only the null-text row
    assert by_id[("conv_bucket=1", "check:has_text")]["violation_count"] == 0
    assert by_id[("conv_bucket=2", "check:has_text")]["violation_count"] == 1
    v = [r for r in vio.collect() if r["constraint_id"] == "check:len_ok"]
    assert len(v) == 2 and all(r["column"] == "len_ok" for r in v)


def test_schema_match_and_row_count_drift(spark):
    """schema_match: metadata-only table-level verdict (missing / type
    mismatch / unexpected columns); row_count_drift: per-partition
    volume reconciliation with uncertifiable one-sided partitions."""
    from datetime import datetime

    from chronominer_spark.constraints.engine import SuiteEvaluator, schema_diff
    from chronominer_spark.constraints.spec import (
        ConstraintSuite,
        row_count_drift,
        schema_match,
    )

    ts = datetime(2024, 1, 1)
    cur = spark.createDataFrame(
        [("c1", 0, "a", ts, 1)] * 4 + [("c2", 0, "b", ts, 2)] * 6,
        "conv_id string, turn_idx int, text string, ts timestamp, pbucket int")
    ref = spark.createDataFrame(
        [("c1", 0, "a", ts, 1)] * 5 + [("c3", 0, "c", ts, 3)] * 2,
        "conv_id string, turn_idx int, text string, ts timestamp, pbucket int")

    expected = {"conv_id": "string", "turn_idx": "int", "text": "string",
                "ts": "timestamp", "pbucket": "int"}
    suite = ConstraintSuite(
        name="meta",
        constraints=(schema_match(expected),
                     row_count_drift(max_rel_change=0.25)))
    res, _ = SuiteEvaluator(spark, suite).evaluate(cur, ref)
    rows = {(r["partition_id"], r["constraint_id"]): r for r in res.collect()}

    ok = rows[("__table__", "schema:table")]
    assert ok["passed"] and ok["violation_count"] == 0

    # pbucket 1: 4 vs 5 -> 20% drop, inside 25% tolerance
    r1 = rows[("conv_bucket=1", "rowcount:table")]
    assert r1["passed"] and abs(r1["observed"] - 0.2) < 1e-9
    assert r1["violation_count"] == 1
    # pbucket 2: cur-only -> uncertifiable; pbucket 3: ref-only
    assert not rows[("conv_bucket=2", "rowcount:table")]["passed"]
    assert rows[("conv_bucket=2", "rowcount:table")]["observed"] is None
    assert not rows[("conv_bucket=3", "rowcount:table")]["passed"]
    assert rows[("conv_bucket=3", "rowcount:table")]["rows_checked"] == 0

    # planted schema damage: dropped column, wrong type, extra column
    bad = cur.withColumn("extra", F.lit(1)) \
        .withColumn("turn_idx", F.col("turn_idx").cast("long")) \
        .drop("text")
    diffs = schema_diff(bad, expected)
    assert sorted(d.split(" ")[0] for d in diffs) \
        == ["missing", "type", "unexpected"]
    res2, _ = SuiteEvaluator(
        spark, ConstraintSuite(name="meta2",
                               constraints=(schema_match(expected),))
    ).evaluate(bad)
    r2 = res2.collect()[0]
    assert not r2["passed"] and r2["violation_count"] == 3


def test_conversation_shape_flags_bad_role_sequences(spark):
    """conversation_shape: first role, last role, and every adjacent
    transition must satisfy the declared dialogue grammar; a turn
    breaking several rules yields ONE violation row listing all of
    them; a mid-conversation null role is a transition violation and
    must NOT make its successor look like a conversation opener."""
    from chronominer_spark.constraints.engine import SuiteEvaluator
    from chronominer_spark.constraints.spec import (
        ConstraintSuite, conversation_shape)

    def conv(cid, roles):
        return [(cid, i + 1, r, 1) for i, r in enumerate(roles)]

    cur = spark.createDataFrame(
        conv("good", ["system", "user", "assistant", "user", "assistant"])
        + conv("firstbad", ["user", "assistant"])
        + conv("lastbad", ["system", "user"])
        + conv("doubletalk", ["system", "user", "user", "assistant"])
        + conv("lonely", ["user"])                      # first AND last bad
        + conv("nullrole", ["system", None, "user", "assistant"]),
        "conv_id string, turn_idx int, role string, pbucket int",
    )
    suite = ConstraintSuite(
        name="shape",
        constraints=(conversation_shape(
            role_col="role", over="conv_id", order_by=["turn_idx"],
            first_roles=["system"], last_roles=["assistant"],
            allowed_transitions=[("system", "user"), ("user", "assistant"),
                                 ("assistant", "user")]),))
    res, vio = SuiteEvaluator(spark, suite).evaluate(cur)
    r = res.collect()[0]
    assert not r["passed"]
    assert r["rows_checked"] == 18
    bad = {(v["conv_id"], v["turn_idx"]): v["detail"] for v in vio.collect()}
    assert r["violation_count"] == len(bad) == 6
    assert bad[("firstbad", 1)] == "first role user not in system"
    assert bad[("lastbad", 2)] == "last role user not in assistant"
    assert bad[("doubletalk", 3)] == "transition user>user not allowed"
    # one row, two broken rules, one violation with both in the detail
    assert bad[("lonely", 1)] == ("first role user not in system; "
                                  "last role user not in assistant")
    # null role: 'system>' edge is not allowed; its successor is judged
    # as a TRANSITION (edge collapses to '>user' -> 'user'), not as a
    # conversation opener
    assert bad[("nullrole", 2)] == "transition system not allowed"
    assert bad[("nullrole", 3)] == "transition user not allowed"

    # an all-valid snapshot passes with zero violations
    res_ok, vio_ok = SuiteEvaluator(spark, ConstraintSuite(
        name="shape_ok",
        constraints=(conversation_shape(
            role_col="role", over="conv_id", order_by=["turn_idx"],
            first_roles=["system"], last_roles=["assistant"],
            allowed_transitions=[("system", "user"), ("user", "assistant"),
                                 ("assistant", "user")]),),
    )).evaluate(cur.where(F.col("conv_id") == "good"))
    assert res_ok.collect()[0]["passed"] and vio_ok.count() == 0

    # checks are independently optional: transitions-only blesses
    # firstbad/lastbad/lonely entirely
    res_t, vio_t = SuiteEvaluator(spark, ConstraintSuite(
        name="shape_t",
        constraints=(conversation_shape(
            role_col="role", over="conv_id", order_by=["turn_idx"],
            allowed_transitions=[("system", "user"), ("user", "assistant"),
                                 ("assistant", "user")]),),
    )).evaluate(cur.where(
        F.col("conv_id").isin("firstbad", "lastbad", "lonely")))
    assert res_t.collect()[0]["passed"] and vio_t.count() == 0

    import pytest as _pytest
    with _pytest.raises(ValueError, match="at least one"):
        SuiteEvaluator(spark, ConstraintSuite(
            name="shape_none",
            constraints=(conversation_shape(order_by=["turn_idx"]),),
        )).evaluate(cur)


def test_contiguous_constraint_flags_gaps_and_offsets(spark):
    """contiguous('turn_idx', over='conv_id'): distinct indices must be
    exactly start..start+n-1 per conversation. Gaps and offset starts
    violate; duplicate indices alone do NOT (that is the unique
    family's contract); start is configurable."""
    from chronominer_spark.constraints.engine import SuiteEvaluator
    from chronominer_spark.constraints.spec import ConstraintSuite, contiguous

    cur = spark.createDataFrame(
        [("ok", i, 1) for i in (1, 2, 3)]
        + [("gap", i, 1) for i in (1, 2, 4)]          # missing 3
        + [("offset", i, 1) for i in (2, 3)]          # starts at 2
        + [("dup", i, 1) for i in (1, 1, 2, 3)]       # dup only: passes
        + [("below", i, 2) for i in (0, 1, 2)],       # index below start
        "conv_id string, turn_idx int, pbucket int",
    )
    suite = ConstraintSuite(
        name="contig",
        constraints=(contiguous("turn_idx", over="conv_id"),))
    res, vio = SuiteEvaluator(spark, suite).evaluate(cur)
    rows = {r["partition_id"]: r for r in res.collect()}
    assert rows["conv_bucket=1"]["violation_count"] == 2   # gap + offset
    assert not rows["conv_bucket=1"]["passed"]
    assert rows["conv_bucket=1"]["rows_checked"] == 11     # distinct pairs
    assert not rows["conv_bucket=2"]["passed"]
    bad = {v["conv_id"]: v["detail"] for v in vio.collect()}
    assert set(bad) == {"gap", "offset", "below"}
    assert bad["gap"] == "distinct=3 min=1 max=4 expected=1..3"
    assert bad["offset"] == "distinct=2 min=2 max=3 expected=1..2"

    # start=0 blesses the 'below' group and breaks the 1-based ones
    res0, _ = SuiteEvaluator(
        spark, ConstraintSuite(
            name="contig0",
            constraints=(contiguous("turn_idx", over="conv_id", start=0),)),
    ).evaluate(cur.where(F.col("conv_id").isin("below", "ok")))
    r0 = {r["partition_id"]: r for r in res0.collect()}
    assert r0["conv_bucket=2"]["violation_count"] == 0     # below: 0..2 ok
    assert r0["conv_bucket=1"]["violation_count"] == 1     # ok: 1..3 not 0-based


def test_drift_categorical_flags_mix_shift(spark):
    """drift_categorical('role'): identical snapshots give PSI ~ 0; a
    planted role-mix shift (a third of assistant turns relabeled tool)
    exceeds the threshold; a partition absent from the reference and a
    partition over the cardinality cap are both uncertifiable (null
    observed, failed)."""
    from chronominer_spark.constraints.engine import SuiteEvaluator
    from chronominer_spark.constraints.spec import (
        ConstraintSuite, drift_categorical)

    roles = ["user", "assistant", "tool"]
    ref = spark.createDataFrame(
        [("c%04d" % i, 0, roles[i % 3], 1) for i in range(600)],
        "conv_id string, turn_idx int, role string, pbucket int")
    suite = ConstraintSuite(
        name="cd", constraints=(drift_categorical("role", max_psi=0.05),))
    ev = SuiteEvaluator(spark, suite)

    res0 = ev.evaluate(ref, ref)[0].collect()[0]
    assert res0["passed"] and abs(res0["observed"]) < 1e-6
    assert res0["rows_checked"] == 600

    # planted shift: every assistant turn from an even conv becomes tool
    shifted = ref.withColumn(
        "role",
        F.when((F.col("role") == "assistant")
               & (F.substring("conv_id", 2, 4).cast("int") % 2 == 0),
               F.lit("tool")).otherwise(F.col("role")))
    res1 = ev.evaluate(shifted, ref)[0].collect()[0]
    assert res1["observed"] > 0.05 and not res1["passed"]

    # cur-only partition: uncertifiable
    cur2 = ref.withColumn(
        "pbucket", F.when(F.col("conv_id") == "c0000", 9).otherwise(1))
    by_pid = {x["partition_id"]: x for x in ev.evaluate(cur2, ref)[0].collect()}
    assert by_pid["conv_bucket=9"]["observed"] is None
    assert not by_pid["conv_bucket=9"]["passed"]

    # cardinality cap: 3 categories > max_categories=2 -> uncertifiable
    capped = ConstraintSuite(
        name="cd2",
        constraints=(drift_categorical("role", max_categories=2),))
    resc = SuiteEvaluator(spark, capped).evaluate(ref, ref)[0].collect()[0]
    assert resc["observed"] is None and not resc["passed"]


def test_freshness_flags_stale_partitions(spark):
    """freshness('ts', max_age, as_of): a partition whose newest turn is
    older than max_age relative to the explicit as_of instant fails with
    its age as observed; fresh partitions pass; an all-null-ts partition
    is uncertifiable (null observed, failed)."""
    from datetime import datetime

    from chronominer_spark.constraints.engine import SuiteEvaluator
    from chronominer_spark.constraints.spec import ConstraintSuite, freshness

    fresh = datetime(2024, 3, 10, 11, 30, 0)   # 30 min before as_of
    stale = datetime(2024, 3, 8, 12, 0, 0)     # 2 days before as_of
    cur = spark.createDataFrame(
        [("c1", 0, stale, 1), ("c1", 1, fresh, 1),
         ("c2", 0, stale, 2),
         ("c3", 0, None, 3)],
        "conv_id string, turn_idx int, ts timestamp, pbucket int")
    suite = ConstraintSuite(
        name="fresh",
        constraints=(freshness("ts", max_age_seconds=3600.0,
                               as_of="2024-03-10 12:00:00"),))
    res, vio = SuiteEvaluator(spark, suite).evaluate(cur)
    rows = {r["partition_id"]: r for r in res.collect()}
    assert rows["conv_bucket=1"]["passed"]
    assert rows["conv_bucket=1"]["observed"] == 1800.0
    assert not rows["conv_bucket=2"]["passed"]
    assert rows["conv_bucket=2"]["observed"] == 2 * 86400.0
    assert not rows["conv_bucket=3"]["passed"]
    assert rows["conv_bucket=3"]["observed"] is None
    assert vio.count() == 0  # partition-level family: no row violations


def test_diff_validation_results_classifies_all_transitions(spark):
    """diff_validation_results: regressed / resolved / persisting /
    stable from the passed flags, new / retired for (partition,
    constraint) pairs present on only one side, and violation deltas
    with absent sides counted as zero."""
    from chronominer_spark.reporting import diff_validation_results

    ddl = ("partition_id string, constraint_id string, passed boolean, "
           "violation_count long")
    prev = spark.createDataFrame(
        [("p1", "a", True, 0), ("p1", "b", False, 5), ("p1", "c", False, 2),
         ("p1", "d", True, 0), ("p1", "gone", False, 9)], ddl)
    cur = spark.createDataFrame(
        [("p1", "a", False, 3), ("p1", "b", True, 0), ("p1", "c", False, 7),
         ("p1", "d", True, 0), ("p1", "fresh", False, 1)], ddl)
    got = {r["constraint_id"]: r for r in
           diff_validation_results(prev, cur).collect()}
    assert got["a"]["transition"] == "regressed"
    assert got["b"]["transition"] == "resolved"
    assert got["c"]["transition"] == "persisting"
    assert got["c"]["violations_delta"] == 5
    assert got["d"]["transition"] == "stable"
    assert got["gone"]["transition"] == "retired"
    assert got["gone"]["violations_delta"] == -9
    assert got["fresh"]["transition"] == "new"
    assert got["fresh"]["violations_delta"] == 1


def test_suite_stable_rows_match_golden_500k(spark):
    """Row-wise golden contract for the default suite over the
    deterministic 500k-turn bench input (BENCH/BASELINE.md
    'results-fingerprint provenance': a sum-of-hashes fingerprint
    detects drift but cannot name the changed row — this fixture can).
    On mismatch the assertion message lists the exact differing rows.
    Regenerate deliberately with tools/gen_suite_golden.py after an
    INTENDED semantic change."""
    import json
    import os

    from tools.gen_suite_golden import compute_rows

    fixture = os.path.join(os.path.dirname(__file__), "fixtures",
                           "suite_stable_500k.json")
    with open(fixture) as f:
        golden = json.load(f)
    got = compute_rows(spark)
    want = [tuple(r) for r in golden["rows"]]
    have = [tuple(r) for r in got]
    missing = sorted(set(want) - set(have))[:5]
    extra = sorted(set(have) - set(want))[:5]
    assert have == want, (
        f"default-suite stable rows drifted from the golden fixture; "
        f"missing={missing} extra={extra}")


def test_contiguous_all_null_index_group_is_violation(spark):
    """Round-4 ADVICE: a group whose indices are ALL null has null
    __lo/__hi, which used to null out the violation predicate — the
    group was counted in n_groups yet could never be flagged, silently
    passing contiguity. Null bounds mean 'no valid indices', which is
    plainly not start..start+n-1: coalesce makes it a violation with a
    readable detail."""
    from chronominer_spark.constraints.engine import SuiteEvaluator
    from chronominer_spark.constraints.spec import ConstraintSuite, contiguous

    cur = spark.createDataFrame(
        [("ok", 1, 1), ("ok", 2, 1),
         ("allnull", None, 1), ("allnull", None, 1),
         ("mixed", 1, 1), ("mixed", None, 1)],
        "conv_id string, turn_idx int, pbucket int",
    )
    suite = ConstraintSuite(
        name="contig_null",
        constraints=(contiguous("turn_idx", over="conv_id"),))
    res, vio = SuiteEvaluator(spark, suite).evaluate(cur)
    r = res.collect()[0]
    # allnull: null bounds -> violation; mixed: distinct pairs {1, null}
    # -> n=2 but hi=1 != 2 -> violation; ok passes
    assert r["violation_count"] == 2 and not r["passed"]
    bad = {v["conv_id"]: v["detail"] for v in vio.collect()}
    assert set(bad) == {"allnull", "mixed"}
    assert bad["allnull"] == "distinct=1 min=null max=null expected=1..1"


def test_ref_requiring_constraints_without_ref_raise_loudly(spark, transcripts):
    """Round-4 ADVICE: cross-snapshot families (drift_*, row_count_drift,
    text_equality) used to be silently skipped when evaluate() ran
    without a reference frame — a misconfigured run read as all-pass.
    Now ANY ref-requiring constraint present with ref_df=None raises,
    even when the suite also contains evaluable families."""
    from chronominer_spark.constraints.engine import SuiteEvaluator
    from chronominer_spark.constraints.spec import (
        ConstraintSuite, drift_categorical, drift_quantile, not_null,
        row_count_drift)

    for bad in (drift_quantile("turn_idx", qs=[0.5]),
                drift_categorical("role"),
                row_count_drift(max_rel_change=0.5)):
        suite = ConstraintSuite(name="mixed", constraints=(not_null("role"), bad))
        ev = SuiteEvaluator(spark, suite)
        with pytest.raises(ValueError, match="ref_df"):
            ev.evaluate(transcripts, None, snapshot_id=1)
        # with the reference supplied the same suite evaluates normally
        res, _ = ev.evaluate(transcripts, transcripts, snapshot_id=1)
        assert res.where(F.col("constraint_id") == bad.constraint_id).count() > 0
        ev.unpersist_all()


def test_functional_dependency_flags_inconsistent_keys(spark):
    """functional_dependency(["account"], "plan"): a determinant key
    mapping to >1 distinct dependent value violates; a null dependent
    counts as a value ({x, null} is inconsistent, {null} alone is
    consistent); composite determinants work; exemplars ride in the
    violation detail."""
    from chronominer_spark.constraints.engine import SuiteEvaluator
    from chronominer_spark.constraints.spec import (
        ConstraintSuite, functional_dependency)

    cur = spark.createDataFrame(
        [("a1", "gold", 1), ("a1", "gold", 1),            # consistent
         ("a2", "gold", 1), ("a2", "free", 1),            # two values
         ("a3", None, 1), ("a3", None, 1),                # {null}: ok
         ("a4", "gold", 1), ("a4", None, 1)],             # {gold,null}: bad
        "account string, plan string, pbucket int",
    )
    suite = ConstraintSuite(
        name="fd",
        constraints=(functional_dependency(["account"], "plan"),))
    res, vio = SuiteEvaluator(spark, suite).evaluate(cur)
    r = res.collect()[0]
    assert r["constraint_id"] == "fd:account->plan"
    assert r["violation_count"] == 2 and not r["passed"]
    assert r["rows_checked"] == 6                          # distinct pairs
    bad = {v["value"]: v["detail"] for v in vio.collect()}
    assert bad == {"a2": "n_dependents=2 eg=free..gold",
                   "a4": "n_dependents=2 eg=gold..gold+null"}
    assert all(v["column"] == "plan" for v in vio.collect())

    # composite determinant: (account, region) -> plan
    cur2 = spark.createDataFrame(
        [("a1", "eu", "gold", 1), ("a1", "us", "free", 1),   # per-region ok
         ("a2", "eu", "gold", 1), ("a2", "eu", "free", 1)],  # bad
        "account string, region string, plan string, pbucket int")
    suite2 = ConstraintSuite(
        name="fd2",
        constraints=(functional_dependency(["account", "region"], "plan"),))
    res2, vio2 = SuiteEvaluator(spark, suite2).evaluate(cur2)
    assert res2.collect()[0]["violation_count"] == 1
    v2 = vio2.collect()[0]
    assert v2["value"] == "a2,eu" and v2["column"] == "plan"


def test_contiguous_start_none_completeness_form(spark):
    """contiguous(..., start=None) anchors at each group's observed
    minimum: gaps violate, offset starts do not (undetectable without
    an origin by definition); all-null groups still violate."""
    from chronominer_spark.constraints.engine import SuiteEvaluator
    from chronominer_spark.constraints.spec import ConstraintSuite, contiguous

    cur = spark.createDataFrame(
        [("offset", i, 1) for i in (5, 6, 7)]       # starts at 5: OK here
        + [("gap", i, 1) for i in (10, 11, 13)]     # missing 12: violation
        + [("allnull", None, 1)],
        "conv_id string, turn_idx int, pbucket int",
    )
    suite = ConstraintSuite(
        name="complete",
        constraints=(contiguous("turn_idx", over="conv_id", start=None),))
    res, vio = SuiteEvaluator(spark, suite).evaluate(cur)
    r = res.collect()[0]
    assert r["violation_count"] == 2 and not r["passed"]
    bad = {v["conv_id"]: v["detail"] for v in vio.collect()}
    assert set(bad) == {"gap", "allnull"}
    assert bad["gap"] == "distinct=3 min=10 max=13 expected=10..12"
    assert bad["allnull"] == "distinct=1 min=null max=null expected=null..null"


def test_group_agg_check_bounds_and_null_discipline(spark):
    """group_agg_check: per-group aggregate bound — sum over budget
    flagged, one-sided bounds work, a NULL aggregate (avg of all-null)
    cannot certify and violates; the observed aggregate and bounds ride
    in the violation detail."""
    from chronominer_spark.constraints.engine import SuiteEvaluator
    from chronominer_spark.constraints.spec import (
        ConstraintSuite, group_agg_check)

    cur = spark.createDataFrame(
        [("c1", 40, 1), ("c1", 50, 1),          # sum 90: ok
         ("c2", 80, 1), ("c2", 70, 1),          # sum 150: over budget
         ("c3", None, 1), ("c3", None, 1)],     # sum null: uncertifiable
        "conv_id string, est_tokens int, pbucket int",
    )
    suite = ConstraintSuite(
        name="budget",
        constraints=(group_agg_check(
            "tok_budget", "conv_id", "sum(est_tokens)", hi=100.0),))
    res, vio = SuiteEvaluator(spark, suite).evaluate(cur)
    r = res.collect()[0]
    assert r["constraint_id"] == "agg:tok_budget/conv_id"
    assert r["violation_count"] == 2 and not r["passed"]
    assert r["rows_checked"] == 6
    bad = {v["value"]: v["detail"] for v in vio.collect()}
    assert bad["c2"] == "agg=150 rows=2 bounds=[-inf, 100.0]"
    assert bad["c3"] == "agg=null rows=2 bounds=[-inf, 100.0]"

    # lo-only: undersized groups flagged instead
    suite_lo = ConstraintSuite(
        name="budget_lo",
        constraints=(group_agg_check(
            "tok_floor", "conv_id", "sum(est_tokens)", lo=100.0),))
    res_lo, vio_lo = SuiteEvaluator(spark, suite_lo).evaluate(cur)
    assert {v["value"] for v in vio_lo.collect()} == {"c1", "c3"}


def test_family_table_covers_every_spec_kind():
    """Every kind a public ``spec.py`` constructor emits has a row in
    the engine's kind -> family table, and the kinds that refuse
    ``ref_df=None`` are exactly the table's ref-needing rows."""
    import ast
    import pathlib

    from chronominer_spark.constraints import spec
    from chronominer_spark.constraints.engine import (
        FAMILIES, REF_REQUIRING_KINDS, ROW_LEVEL_KINDS)

    tree = ast.parse(pathlib.Path(spec.__file__).read_text())
    kinds = {
        node.args[1].value for node in ast.walk(tree)
        if isinstance(node, ast.Call)
        and getattr(node.func, "id", None) == "Constraint"
        and len(node.args) > 1 and isinstance(node.args[1], ast.Constant)
    }
    assert len(kinds) == 25
    assert kinds <= set(FAMILIES), kinds - set(FAMILIES)
    assert ROW_LEVEL_KINDS <= set(FAMILIES)
    assert REF_REQUIRING_KINDS == {
        k for k, (_, needs_ref) in FAMILIES.items() if needs_ref}
    assert REF_REQUIRING_KINDS == {
        "text_equality", "drift_psi", "drift_ks", "drift_quantile",
        "drift_categorical", "row_count_drift"}


def test_unknown_constraint_kind_raises(spark, transcripts, ref_snapshot):
    """A typo'd or future constraint kind must fail loudly — falling
    through the dispatch silently would read as all-pass — and before
    any Spark job: a ``digest="auto"`` equality ahead of the typo must
    not get to run its sampling probe."""
    from chronominer_spark.constraints.engine import SuiteEvaluator
    from chronominer_spark.constraints.spec import (
        Constraint, ConstraintSuite, not_null)

    suite = ConstraintSuite(
        name="typo",
        constraints=(not_null("role"),
                     Constraint("bogus:x", "not_nul", {"col": "x"})))
    with pytest.raises(ValueError, match="unknown constraint kind"):
        SuiteEvaluator(spark, suite).evaluate(transcripts)

    probed = ConstraintSuite(
        name="typo_after_probe",
        constraints=(text_equality("text", digest="auto"),
                     Constraint("bogus:x", "not_nul", {"col": "x"})))
    sc = spark.sparkContext
    sc.setJobGroup("unknown-kind", "no job may run before the kind check")
    try:
        with pytest.raises(ValueError, match="unknown constraint kind"):
            SuiteEvaluator(spark, probed).evaluate(transcripts, ref_snapshot)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert sc.statusTracker().getJobIdsForGroup("unknown-kind") == []
