"""Constraint-suite evaluation — DataFrame plans per constraint family.

Scale design (SURVEY.md §4, §7):

- **One scan for all row-level constraints** (not_null, not_empty, RI,
  cast, range, regex, cross-field): the aggregate pass computes every
  violation count with conditional sums in a single ``groupBy(partition)``
  (map-side partial aggregation; the combiner pattern the reference
  implements by hand in ``eval/metrics.py:622-674``). The violations pass
  is a second scan with a pushed-down OR-filter, so the common all-green
  partition reads parquet footers + filtered column chunks only.
- **Uniqueness** and **group stats** share one per-key count plan
  (:meth:`SuiteEvaluator._key_counts`): a ``partial_count`` below one
  hash exchange. The map-side partial aggregate is the skew posture —
  a hot conv_id combines to one row per input split before the shuffle,
  so it never concentrates raw rows onto one reducer (an explicit salt
  stage was measured slower and deleted, BENCH/BASELINE.md). When a
  ``group_stats`` constraint's group column is covered by the unique key
  set, the counts frame is persisted ONCE and feeds uniqueness stats,
  duplicate violations, rows_checked totals and group sizes —
  suite-level scan sharing.
- **Vocabulary RI** dims are tiny by definition -> fused ``isin``
  (Catalyst InSet) in the shared scan when declared inline, or one
  ``left_anti`` join when declared as a dim DataFrame (Spark broadcasts
  a vocab-sized dim by size).
- **Equality/drift** need the reference snapshot; both shuffle only
  aggregates, keys and 64-bit hashes, never wide rows: drift bins each
  (expr, range) pair ONCE and derives PSI and KS from the same joined
  histogram; equality collapses the full-outer key join into one hash
  aggregate over a side-tagged union whose exchange is VALUE-FREE —
  violation text is fetched afterwards for just the violating keys.

All per-partition result frames are a few hundred rows; unioning them is
driver-cheap regardless of input size. Nothing in this module collects
row-level data.
"""

from __future__ import annotations

import logging
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from chronominer_spark.constraints.spec import Constraint, ConstraintSuite
from chronominer_spark.functions.text import hash_backend_tag, norm_hash64_arrow

logger = logging.getLogger(__name__)

RESULT_COLUMNS = [
    "partition_id", "constraint_id", "snapshot_id", "passed",
    "observed", "threshold", "rows_checked", "violation_count",
]
VIOLATION_COLUMNS = [
    "partition_id", "constraint_id", "snapshot_id",
    "conv_id", "turn_idx", "column", "value", "detail",
]

_VALUE_TRUNC = 256
# digest="auto" probe: sample 1/_AUTO_SAMPLE_MOD of conversations, pick
# the digest prepass iff their mismatch rate is at most _AUTO_THRESHOLD
_AUTO_SAMPLE_MOD = 20
_AUTO_THRESHOLD = 0.05

ROW_LEVEL_KINDS = {
    "not_null", "not_empty", "referential", "cast_ok",
    "in_range", "matches", "cross_field_null", "expr_check",
}


def _result_rows(
    frame: DataFrame,
    constraint_id: str | Column,
    observed: Column,
    threshold: float | None | Column,
    rows_checked: str | Column = "rows_checked",
    violation_count: str | Column = "violation_count",
    passed: Column | None = None,
) -> DataFrame:
    """The per-partition results frame every family emits:
    ``(partition_id, constraint_id, observed, threshold, rows_checked,
    violation_count, passed)`` from a frame keyed by ``_pid``.

    ``passed`` is a boolean over the output columns; the default rule is
    ``observed <= threshold``. Families that must certify pass
    :func:`_certify_or_fail`, which fails a null ``observed``."""
    def col(x):
        return x if isinstance(x, Column) else F.col(x)

    def lit(x):
        return x if isinstance(x, Column) else F.lit(x)

    return frame.select(
        F.col("_pid").alias("partition_id"),
        lit(constraint_id).alias("constraint_id"),
        observed.cast("double").alias("observed"),
        lit(threshold).cast("double").alias("threshold"),
        col(rows_checked).cast("long").alias("rows_checked"),
        col(violation_count).cast("long").alias("violation_count"),
    ).withColumn(
        "passed",
        F.col("observed") <= F.col("threshold") if passed is None else passed,
    )


def _certify_or_fail() -> Column:
    """``passed`` rule of the cross-snapshot families: a null observed
    (a partition on only one side, an uncertifiable statistic) fails."""
    return F.coalesce(F.col("observed") <= F.col("threshold"), F.lit(False))


def _rate_rows(
    totals: DataFrame, bad_counts: DataFrame, constraint_id: str,
    threshold: float, passed: Column | None = None,
) -> DataFrame:
    """Results of a violating-row family: ``totals`` holds each
    partition's ``rows_checked``, ``bad_counts`` its ``violation_count``
    (a partition without violations is absent: 0), observed is their
    ratio."""
    return _result_rows(
        totals.join(bad_counts, "_pid", "left")
        .withColumn("violation_count",
                    F.coalesce("violation_count", F.lit(0))),
        constraint_id, F.col("violation_count") / F.col("rows_checked"),
        threshold, passed=passed,
    )


def _group_rows(
    groups: DataFrame, bad_pred: Column, rows: str, c: Constraint,
) -> DataFrame:
    """Results of a per-group verdict family: ``groups`` holds one row
    per (``_pid``, group), ``bad_pred`` is true for a violating group,
    ``rows`` sums to ``rows_checked``; observed is the violating share of
    the partition's groups, against ``max_rate``."""
    base = groups.groupBy("_pid").agg(
        F.count(F.lit(1)).alias("n_groups"),
        F.sum(rows).alias("rows_checked"),
        F.sum(bad_pred.cast("long")).alias("violation_count"),
    )
    return _result_rows(
        base, c.constraint_id, F.col("violation_count") / F.col("n_groups"),
        c.params.get("max_rate", 0.0),
    )


def _winner_order(col: str) -> list[Column]:
    """Leading fields of every text-equality winner struct: ``max``
    picks (ts desc, raw-text hash asc); a null ts maps to epoch 0 and
    loses, and NOT reverses the hash without the -Long.MIN overflow."""
    return [
        F.coalesce(F.col("ts").cast("timestamp").cast("long"), F.lit(0))
        .alias("__ts_o"),
        F.xxhash64(F.col(col)).bitwiseXOR(F.lit(-1)).alias("__h_o"),
    ]


def _digests_agree() -> Column:
    """A full-outer-joined ``_cur_*``/``_ref_*`` row of
    :meth:`SuiteEvaluator._conv_digest` present and equal on both sides
    (never null)."""
    return (
        F.col("_cur_n").isNotNull() & F.col("_ref_n").isNotNull()
        & (F.col("_cur_n") == F.col("_ref_n"))
        & (F.col("_cur_x") == F.col("_ref_x"))
        & (F.col("_cur_s") == F.col("_ref_s"))
    )


def psi_term(p: Column, q: Column, eps: float | None = None) -> Column:
    """One cell's population-stability term ``(p - q) · ln(p / q)``.
    ``eps`` is added to both probabilities inside the log, the binned
    drift plans' guard against empty bins; the categorical family
    Laplace-smooths its counts instead and passes none."""
    num, den = (p, q) if eps is None else (p + eps, q + eps)
    return (p - q) * F.log(num / den)


def categorical_psi(
    cur_counts: DataFrame, ref_counts: DataFrame, part_col: str,
    smooth: float,
) -> DataFrame:
    """Laplace-smoothed category-frequency PSI per partition, the plan
    of the ``drift_categorical`` family, its streaming twin and q58.

    Each counts frame is ``(part_col, category, count)`` in that order.
    The two sides are full-outer aligned on (partition, category), a
    missing cell counts 0, ``smooth`` is added to every aligned cell and
    k is the aligned category count. Returns ``(part_col, psi,
    cur_total, ref_total, n_categories)``; :func:`certified_psi` nulls
    the PSI of a partition that cannot be certified."""
    cat = cur_counts.columns[1]
    cn, rn = cur_counts.columns[2], ref_counts.columns[2]
    w = W.partitionBy(part_col)
    j = (
        cur_counts.join(ref_counts, [part_col, cat], "full_outer")
        .select(part_col,
                F.coalesce(cn, F.lit(0)).alias("_cn"),
                F.coalesce(rn, F.lit(0)).alias("_rn"))
        .withColumn("_ctot", F.sum("_cn").over(w))
        .withColumn("_rtot", F.sum("_rn").over(w))
        .withColumn("_k", F.count(F.lit(1)).over(w))
    )
    pc = (F.col("_cn") + smooth) / (F.col("_ctot") + smooth * F.col("_k"))
    pr = (F.col("_rn") + smooth) / (F.col("_rtot") + smooth * F.col("_k"))
    return j.groupBy(part_col).agg(
        F.sum(psi_term(pc, pr)).alias("psi"),
        F.first("_ctot").alias("cur_total"),
        F.first("_rtot").alias("ref_total"),
        F.first("_k").alias("n_categories"),
    )


def certified_psi(max_categories: int) -> Column:
    """The ``psi`` of a :func:`categorical_psi` row, or null when it
    cannot be certified: a side without rows, or more aligned categories
    than ``max_categories``."""
    certifiable = (
        (F.col("cur_total") > 0) & (F.col("ref_total") > 0)
        & (F.col("n_categories") <= F.lit(int(max_categories)))
    )
    return F.when(certifiable, F.col("psi"))


def out_of_bounds(value: Column, lo: float | None, hi: float | None) -> Column:
    """The ``group_agg_check`` verdict for one group's aggregate: true
    outside ``[lo, hi]`` (a None bound is open) and true for a null
    value, which cannot certify the bound (the expr_check null
    discipline)."""
    ok = F.lit(True)
    if lo is not None:
        ok = ok & (value >= F.lit(lo))
    if hi is not None:
        ok = ok & (value <= F.lit(hi))
    return ~F.coalesce(ok, F.lit(False))


def schema_diff(
    df: DataFrame, expected: dict[str, str], allow_extra: bool = False,
) -> list[str]:
    """Human-readable schema mismatches: missing columns, type
    mismatches (Spark ``simpleString`` types), and — unless
    ``allow_extra`` — unexpected columns. Pure driver-side metadata;
    runs no job."""
    actual = {f.name: f.dataType.simpleString() for f in df.schema.fields}
    diffs: list[str] = []
    for name, typ in expected.items():
        if name not in actual:
            diffs.append(f"missing column {name}:{typ}")
        elif actual[name] != typ:
            diffs.append(f"type mismatch {name}: expected {typ}, "
                         f"got {actual[name]}")
    if not allow_extra:
        internal = {"_pid"}
        diffs.extend(f"unexpected column {name}:{actual[name]}"
                     for name in actual
                     if name not in expected and name not in internal)
    return diffs


@dataclass
class _RowCheck:
    constraint: Constraint
    pred: F.Column          # true when the row VIOLATES
    column: str             # offending column name (lineage)
    value: F.Column         # stringified offending value
    detail: F.Column
    threshold: float


class SuiteEvaluator:
    """Evaluates a :class:`ConstraintSuite` against a transcripts
    DataFrame, returning (results, violations) DataFrames with the
    FIXTURES.md §3/§4 schemas (minus run_id/evaluated_at, which the
    runner stamps)."""

    def __init__(
        self,
        spark: SparkSession,
        suite: ConstraintSuite,
        vocab_dfs: dict[str, DataFrame] | None = None,
    ):
        self.spark = spark
        self.suite = suite
        self.vocab_dfs = vocab_dfs or {}
        self._persisted: list[DataFrame] = []
        # physical-strategy decision cache (constraint_id -> choice),
        # e.g. text_equality digest-vs-direct. A probe result found here
        # is reused instead of re-measured; fresh probe results are
        # written back so the OWNER (the runner, which scopes the dict
        # by snapshot+suite_hash in the checkpoint manifest) can persist
        # them. Strategy choice never changes OUTPUTS, only the plan.
        self.strategy_cache: dict[str, bool] = {}
        # reference-side aggregate cache (checkpoint.RefAggCache), set
        # by the OWNER (the runner, which scopes it by snapshot +
        # suite_hash + wave partition set). When armed, the immutable
        # ref snapshot's per-partition aggregates (counts, quantile
        # sketches, category counts, bin histograms) are read back on
        # rerun instead of re-scanning the reference. Cache use never
        # changes OUTPUTS: the stored rows ARE the rows the first run
        # computed.
        self.ref_agg_cache = None

    def _share(self, frame: DataFrame) -> DataFrame:
        """Persist an intermediate that both the results and the
        violations branch consume, so the two output actions don't
        recompute it. These frames are narrow and at most one row per
        key/duplicate — bounded well below the input size; spilled to
        disk if memory-tight. Call :meth:`unpersist_all` after the
        outputs are materialized."""
        from pyspark import StorageLevel
        frame = frame.persist(StorageLevel.MEMORY_AND_DISK)
        self._persisted.append(frame)
        return frame

    def unpersist_all(self) -> None:
        for fr in self._persisted:
            fr.unpersist()
        self._persisted.clear()

    # ------------------------------------------------------------------ api
    def evaluate(
        self,
        df: DataFrame,
        ref_df: DataFrame | None = None,
        snapshot_id: int = 0,
        with_violations: bool = True,
    ) -> tuple[DataFrame, DataFrame]:
        if not self.suite.constraints:
            raise ValueError(
                f"suite {self.suite.name!r} declares no constraints"
            )
        # A cross-snapshot constraint evaluated without a reference frame
        # must FAIL LOUDLY, not vanish: silently skipping it would make a
        # misconfigured run (ref forgotten) read as all-pass for exactly
        # the families that compare snapshots — the same "cannot be
        # certified" discipline these families apply per partition
        # (round-4 ADVICE; previously each kind was `continue`d).
        cons = list(self.suite.constraints)
        ref_needing = [c.constraint_id for c in cons
                       if c.kind in REF_REQUIRING_KINDS]
        if ref_needing and ref_df is None:
            raise ValueError(
                f"suite {self.suite.name!r} contains cross-snapshot "
                f"constraints {ref_needing} that require ref_df, but "
                "evaluate() was called with ref_df=None — pass the "
                "reference snapshot or drop these constraints"
            )
        # a typo'd or future kind fails here, before any family plans
        # (some run eager jobs): a silently-skipped constraint reads as
        # all-pass, the same hazard as the missing ref_df above
        unknown = [f"{c.kind!r} ({c.constraint_id})" for c in cons
                   if c.kind not in FAMILIES]
        if unknown:
            raise ValueError(
                f"unknown constraint kind {', '.join(unknown)}")
        part = self._partition_id_col(df)
        df = df.withColumn("_pid", part)

        results: list[DataFrame] = []
        violations: list[DataFrame] = []

        row_checks = [self._row_check(c) for c in cons if self._fusable(c)]
        stats_cs = [c for c in cons if c.kind == "column_stats"]
        quant_cs = [c for c in cons if c.kind == "quantiles"]
        if row_checks or stats_cs or quant_cs:
            results.append(self._fused_agg(df, row_checks, stats_cs, quant_cs))
            if with_violations and row_checks:
                violations.append(self._row_violations(df, row_checks))

        ref = (ref_df.withColumn("_pid", self._partition_id_col(ref_df))
               if ref_df is not None else None)

        # ---- unique + group_stats count sharing ----------------------
        # A group_stats whose group column is covered by a unique key
        # set derives its group sizes from that constraint's key
        # counts: the counts frame is materialized once and feeds
        # uniqueness stats, duplicate violations, rows_checked totals
        # AND group sizes. shared[i] is the frame constraint i reuses.
        shared: dict[int, DataFrame] = {}
        for i, c in enumerate(cons):
            if c.kind != "unique":
                continue
            reusers = [
                j for j, g in enumerate(cons)
                if g.kind == "group_stats" and j not in shared
                and g.params["group_col"] in c.params["cols"]
            ]
            if not reusers:
                continue
            counts = self._share(self._key_counts(df, c.params["cols"]))
            shared[i] = counts
            for j in reusers:
                g = cons[j]
                shared[j] = counts.groupBy(
                    "_pid", g.params["group_col"]
                ).agg(F.sum("dup_count").alias("group_rows"))

        for i, c in enumerate(cons):
            family, _ = FAMILIES[c.kind]
            if family is None or self._fusable(c):
                continue
            r, v = family(self, df, ref, c, shared.get(i))
            results.append(r)
            if with_violations and v is not None:
                violations.append(v)

        drift_cs = [c for c in cons if c.kind in ("drift_psi", "drift_ks")]
        if drift_cs:
            results.extend(self._drift_family(df, ref, drift_cs))

        res = results[0]
        for r in results[1:]:
            res = res.unionByName(r, allowMissingColumns=False)
        res = res.withColumn("snapshot_id", F.lit(snapshot_id).cast("long")) \
                 .select(*RESULT_COLUMNS)

        if violations:
            vio = violations[0]
            for v in violations[1:]:
                vio = vio.unionByName(v)
        else:
            vio = self.spark.createDataFrame(
                [], self._violation_ddl()
            )
        vio = vio.withColumn("snapshot_id", F.lit(snapshot_id).cast("long")) \
                 .select(*VIOLATION_COLUMNS)
        return res, vio

    # ------------------------------------------------------------ internals
    def _violation_ddl(self) -> str:
        return ("partition_id string, constraint_id string, snapshot_id long, "
                "conv_id string, turn_idx int, column string, value string, "
                "detail string")

    def _partition_id_col(self, df: DataFrame) -> F.Column:
        return F.format_string(
            self.suite.partition_fmt, F.col(self.suite.partition_col)
        )

    @staticmethod
    def _fusable(c: Constraint) -> bool:
        """Row-level kinds fuse into one scan, except RI declared via a
        named dim DataFrame, which uses the left-anti join plan."""
        return c.kind in ROW_LEVEL_KINDS and not c.params.get("vocab_name")

    # -- row-level family ---------------------------------------------------
    def _row_check(self, c: Constraint) -> _RowCheck:
        p = c.params
        kind = c.kind
        if kind == "not_null":
            col = F.col(p["col"])
            return _RowCheck(c, col.isNull(), p["col"],
                             F.lit(None).cast("string"), F.lit("null"),
                             p.get("max_null_rate", 0.0))
        if kind == "not_empty":
            col = F.col(p["col"])
            pred = col.isNotNull() & (F.trim(col) == "")
            return _RowCheck(c, pred, p["col"], F.lit("").cast("string"),
                             F.lit("empty_after_trim"), p.get("max_rate", 0.0))
        if kind == "referential":
            # as strings, like the dim join: never cast the vocabulary
            col = F.col(p["col"])
            bad = col.isNotNull() & ~col.cast("string").isin(*p["vocab"])
            if not p.get("allow_null", True):
                bad = bad | col.isNull()
            detail = F.format_string("not in %s vocabulary", F.lit(p["col"]))
            return _RowCheck(c, bad, p["col"], self._sval(col), detail,
                             p.get("max_rate", 0.0))
        if kind == "cast_ok":
            col = F.col(p["col"])
            pred = col.isNotNull() & col.cast(p["dtype"]).isNull()
            return _RowCheck(c, pred, p["col"], self._sval(col),
                             F.lit(f"not castable to {p['dtype']}"),
                             p.get("max_rate", 0.0))
        if kind == "in_range":
            col = F.col(p["col"])
            conds = []
            if p.get("lo") is not None:
                conds.append(col < F.lit(p["lo"]))
            if p.get("hi") is not None:
                conds.append(col > F.lit(p["hi"]))
            pred = col.isNotNull() & conds[0] if conds else F.lit(False)
            for extra in conds[1:]:
                pred = pred | (col.isNotNull() & extra)
            return _RowCheck(c, pred, p["col"], self._sval(col),
                             F.lit(f"outside [{p.get('lo')}, {p.get('hi')}]"),
                             p.get("max_rate", 0.0))
        if kind == "matches":
            col = F.col(p["col"])
            pred = col.isNotNull() & ~col.rlike(p["pattern"])
            return _RowCheck(c, pred, p["col"], self._sval(col),
                             F.lit(f"!~ /{p['pattern']}/"),
                             p.get("max_rate", 0.0))
        if kind == "cross_field_null":
            anchor = F.col(p["anchor"])
            dep_not_null = None
            for d in p["dependents"]:
                cond = F.col(d).isNotNull()
                dep_not_null = cond if dep_not_null is None else (dep_not_null | cond)
            pred = anchor.isNull() & dep_not_null
            return _RowCheck(
                c, pred, p["anchor"],
                self._sval(F.concat_ws(",", *[F.col(d) for d in p["dependents"]])),
                F.lit(f"anchor {p['anchor']} null but dependents set"),
                p.get("max_rate", 0.0))
        if kind == "expr_check":
            # violates when the expression is false OR null: a check
            # must be affirmatively true, so three-valued logic cannot
            # let a null comparison slide through
            pred = ~F.coalesce(F.expr(p["expr"]), F.lit(False))
            return _RowCheck(
                c, pred, p["name"],
                self._sval(F.lit(p["expr"])),
                F.lit("expression not satisfied"),
                p.get("max_rate", 0.0))
        raise ValueError(f"unknown row-level kind {kind}")

    @staticmethod
    def _sval(col: F.Column) -> F.Column:
        return F.substring(col.cast("string"), 1, _VALUE_TRUNC)

    def _violation_rows(
        self, frame: DataFrame, c: Constraint, column: str, value: Column,
        detail: Column, keys: list[str] | None = None,
    ) -> DataFrame:
        """The violations frame of one constraint, ``(partition_id,
        constraint_id, *key_cols, column, value, detail)``, from a frame
        keyed by ``_pid``. ``keys`` names the suite key columns the frame
        carries (default: all of them); the others are null."""
        return frame.select(
            F.col("_pid").alias("partition_id"),
            F.lit(c.constraint_id).alias("constraint_id"),
            *[(F.col(k) if keys is None or k in keys else F.lit(None)).alias(k)
              for k in self.suite.key_cols],
            F.lit(column).alias("column"),
            value.alias("value"),
            detail.alias("detail"),
        )

    def _fused_agg(
        self,
        df: DataFrame,
        checks: list[_RowCheck],
        stats_cs: list[Constraint],
        quant_cs: list[Constraint],
    ) -> DataFrame:
        """ONE groupBy(partition) computing every per-partition aggregate:
        row-level violation counts, column-stat profiles, and approx
        quantile sketches. A single scan + a single (tiny) shuffle of
        partial aggregates regardless of how many constraints the suite
        declares — the A3 combiner pattern applied suite-wide."""
        aggs: list[F.Column] = [F.count(F.lit(1)).alias("__rows")]
        for i, rc in enumerate(checks):
            aggs.append(F.sum(rc.pred.cast("long")).alias(f"__v{i}"))
        stat_names = ("null_rate", "min", "max", "mean", "approx_distinct")
        for j, c in enumerate(stats_cs):
            expr = F.expr(c.params["col"])
            aggs += [
                (F.sum(expr.isNull().cast("long")) / F.count(F.lit(1)))
                .alias(f"__s{j}_null_rate"),
                F.min(expr).cast("double").alias(f"__s{j}_min"),
                F.max(expr).cast("double").alias(f"__s{j}_max"),
                F.avg(expr).cast("double").alias(f"__s{j}_mean"),
                F.approx_count_distinct(expr).cast("double")
                .alias(f"__s{j}_approx_distinct"),
            ]
        for k, c in enumerate(quant_cs):
            expr = F.expr(c.params["col"])
            aggs.append(
                F.percentile_approx(expr, c.params["qs"],
                                    c.params.get("accuracy", 2500))
                .alias(f"__q{k}")
            )
        base = df.groupBy("_pid").agg(*aggs)

        null_d = F.lit(None).cast("double")
        entries: list[F.Column] = []
        for i, rc in enumerate(checks):
            entries.append(F.struct(
                F.lit(rc.constraint.constraint_id).alias("cid"),
                F.col(f"__v{i}").cast("long").alias("viol"),
                (F.col(f"__v{i}") / F.col("__rows")).cast("double").alias("obs"),
                F.lit(rc.threshold).cast("double").alias("thr"),
            ))
        for j, c in enumerate(stats_cs):
            for stat in stat_names:
                entries.append(F.struct(
                    F.lit(f"{c.constraint_id}#{stat}").alias("cid"),
                    F.lit(0).cast("long").alias("viol"),
                    F.col(f"__s{j}_{stat}").cast("double").alias("obs"),
                    null_d.alias("thr"),
                ))
        for k, c in enumerate(quant_cs):
            for qi, q in enumerate(c.params["qs"]):
                entries.append(F.struct(
                    F.lit(f"{c.constraint_id}#p{int(q * 100)}").alias("cid"),
                    F.lit(0).cast("long").alias("viol"),
                    F.element_at(F.col(f"__q{k}"), qi + 1).cast("double")
                    .alias("obs"),
                    null_d.alias("thr"),
                ))
        return _result_rows(
            base.select("_pid", "__rows", F.explode(F.array(*entries)).alias("e")),
            F.col("e.cid"), F.col("e.obs"), F.col("e.thr"),
            rows_checked="__rows", violation_count="e.viol",
            passed=F.when(F.col("threshold").isNull(), F.lit(True))
            .otherwise(F.col("observed") <= F.col("threshold")),
        )

    def _row_violations(self, df: DataFrame, checks: list[_RowCheck]) -> DataFrame:
        any_pred = checks[0].pred
        for rc in checks[1:]:
            any_pred = any_pred | rc.pred
        structs = F.array(*[
            F.when(rc.pred, F.struct(
                F.lit(rc.constraint.constraint_id).alias("constraint_id"),
                F.lit(rc.column).alias("column"),
                rc.value.alias("value"),
                rc.detail.cast("string").alias("detail"),
            ))
            for rc in checks
        ])
        keys = [F.col(k) for k in self.suite.key_cols]
        return (
            df.where(any_pred)  # pushed to the scan; all-green data reads ~nothing
            .select(F.col("_pid").alias("partition_id"), *keys,
                    F.explode(F.array_compact(structs)).alias("e"))
            .select(
                "partition_id",
                F.col("e.constraint_id").alias("constraint_id"),
                *self.suite.key_cols,
                F.col("e.column").alias("column"),
                F.col("e.value").alias("value"),
                F.col("e.detail").alias("detail"),
            )
        )

    # -- referential via left-anti join ---------------------------------------
    def _referential_join(
        self, df: DataFrame, ref: DataFrame | None, c: Constraint, shared=None,
    ) -> tuple[DataFrame, DataFrame]:
        """RI against a dim DataFrame — the J6 plan: violations = one
        hint-free ``left_anti`` join, broadcast or shuffled by Spark's
        size-based choice. Values compare as strings (an all-NULL fact
        column reads as ``int``); for a string column ``SimplifyCasts``
        drops the cast."""
        p = c.params
        col = p["col"]
        if p["vocab_name"] not in self.vocab_dfs:
            raise ValueError(
                f"constraint {c.constraint_id!r} references vocabulary "
                f"{p['vocab_name']!r} but no such dim DataFrame was supplied; "
                f"available: {sorted(self.vocab_dfs)}"
            )
        vocab = self.vocab_dfs[p["vocab_name"]]
        vocab_col = vocab.columns[0]
        dim = vocab.select(
            F.col(vocab_col).cast("string").alias(col)).distinct()

        candidates = df.where(F.col(col).isNotNull()) if p.get("allow_null", True) else df
        totals = df.groupBy("_pid").agg(F.count(F.lit(1)).alias("rows_checked"))
        bad = candidates.join(
            dim, candidates[col].cast("string") == dim[col], how="left_anti")
        bad_counts = bad.groupBy("_pid").agg(
            F.count(F.lit(1)).alias("violation_count"))
        res = _rate_rows(totals, bad_counts, c.constraint_id,
                         p.get("max_rate", 0.0))
        vio = self._violation_rows(
            bad, c, col, self._sval(F.col(col)),
            F.lit(f"not in {p['vocab_name']} vocabulary"))
        return res, vio

    @staticmethod
    def _norm_opts(c: Constraint) -> dict:
        p = c.params
        return dict(
            lowercase=p["lowercase"], collapse_ws=p["collapse_ws"],
            strip_punct=p["strip_punct"], strip_diacritics=p["strip_diacritics"],
        )

    # -- uniqueness ----------------------------------------------------------
    @staticmethod
    def _key_counts(df: DataFrame, keys: list[str]) -> DataFrame:
        """Per-key counts (_pid, *keys, dup_count): a ``partial_count``
        below one hash exchange, so a hot key combines map-side to one
        row per input split (the skew plan; BENCH/BASELINE.md)."""
        return df.groupBy("_pid", *keys).agg(
            F.count(F.lit(1)).alias("dup_count")
        )

    def _unique(
        self, df: DataFrame, ref: DataFrame | None, c: Constraint,
        counts: DataFrame | None = None,
    ) -> tuple[DataFrame, DataFrame]:
        """Duplicate keys from :meth:`_key_counts`.

        ``counts``: an already-persisted frame from
        :meth:`_key_counts` (suite-level scan sharing with group_stats);
        when supplied, rows_checked derives from it too — zero extra
        scans of the source."""
        keys = c.params["cols"]
        if counts is not None:
            dups = counts.where(F.col("dup_count") > 1)
            totals = counts.groupBy("_pid").agg(
                F.sum("dup_count").alias("rows_checked")
            )
        else:
            counts = self._key_counts(df, keys)
            dups = self._share(counts.where(F.col("dup_count") > 1))
            totals = df.groupBy("_pid").agg(
                F.count(F.lit(1)).alias("rows_checked")
            )
        agg = dups.groupBy("_pid").agg(
            F.sum(F.col("dup_count") - 1).alias("violation_count")
        )
        res = _rate_rows(totals, agg, c.constraint_id, 0.0,
                         passed=F.col("violation_count") == 0)
        vio = self._violation_rows(
            dups, c, ",".join(keys),
            self._sval(F.concat_ws("|", *[F.col(k) for k in keys])),
            F.format_string("duplicate_count=%d", F.col("dup_count")),
            keys=keys)
        return res, vio

    # -- ordering monotonicity ------------------------------------------------
    def _monotone(
        self, df: DataFrame, ref: DataFrame | None, c: Constraint, shared=None,
    ) -> tuple[DataFrame, DataFrame]:
        """Monotonicity along the per-group sorted sequence via
        :func:`~chronominer_spark.operators.ranges.out_of_order` — one
        window partitioned by the group key (the engine's existing
        ordering exchange class; per-group state is a single lag value,
        so skew streams rather than accumulates)."""
        from chronominer_spark.operators.ranges import out_of_order

        p = c.params
        col = p["col"]
        bad = out_of_order(df, col, p["partition_by"], p["order_by"],
                           strict=p.get("strict", False), prev_col="__prev")
        totals = df.groupBy("_pid").agg(F.count(F.lit(1)).alias("rows_checked"))
        bad_counts = bad.groupBy("_pid").agg(
            F.count(F.lit(1)).alias("violation_count"))
        res = _rate_rows(totals, bad_counts, c.constraint_id,
                         p.get("max_rate", 0.0))
        vio = self._violation_rows(
            bad, c, col, self._sval(F.col(col)),
            F.concat(F.lit("decreased from "), self._sval(F.col("__prev"))))
        return res, vio

    # -- per-group (per-conversation) stats -----------------------------------
    def _group_stats(
        self, df: DataFrame, ref: DataFrame | None, c: Constraint,
        sizes: DataFrame | None = None,
    ) -> tuple[DataFrame, DataFrame | None]:
        """Per-group size statistics — the north rule's skew case: a
        single hot conv_id must never serialize a stage. Group sizes come
        from :meth:`_key_counts`, whose map-side partial count ships one
        row per group per input split (bounded by splits, not by the
        group's row count); a second aggregate reduces them to
        per-partition stats (tiny).

        ``sizes``: a precomputed (_pid, group_col, group_rows) frame
        derived from a unique constraint's shared key counts (suite-level
        scan sharing — evaluate() wires it when the group column is a
        subset of a unique key set); identical results, one fewer scan.

        Violations: groups whose size exceeds ``max_group_rows``."""
        p = c.params
        group_col = p["group_col"]
        max_rows = p.get("max_group_rows")

        if sizes is None:
            sizes = self._key_counts(df, [group_col]).withColumnRenamed(
                "dup_count", "group_rows")
        base = sizes.groupBy("_pid").agg(
            F.count(F.lit(1)).alias("n_groups"),
            F.min("group_rows").cast("double").alias("min"),
            F.max("group_rows").cast("double").alias("max"),
            F.avg("group_rows").cast("double").alias("mean"),
            F.sum("group_rows").alias("rows_checked"),
            F.sum(
                ((F.col("group_rows") > max_rows) if max_rows is not None
                 else F.lit(False)).cast("long")
            ).alias("violation_count"),
        )
        entries = F.array(*[
            F.struct(F.lit(s).alias("stat"),
                     F.col(s).cast("double").alias("obs"))
            for s in ("min", "max", "mean")
        ] + [
            F.struct(F.lit("n_groups").alias("stat"),
                     F.col("n_groups").cast("double").alias("obs")),
        ])
        res = _result_rows(
            base.select("_pid", "rows_checked", "violation_count",
                        F.explode(entries).alias("e")),
            F.concat(F.lit(c.constraint_id + "#"), F.col("e.stat")),
            F.col("e.obs"),
            float(max_rows) if max_rows is not None else None,
            passed=F.when(F.col("threshold").isNull(), F.lit(True))
            .otherwise(F.col("violation_count") == 0),
        )
        vio = None
        if max_rows is not None:
            vio = self._violation_rows(
                sizes.where(F.col("group_rows") > max_rows), c, group_col,
                self._sval(F.col(group_col)),
                F.format_string("group_rows=%d", F.col("group_rows")),
                keys=[group_col])
        return res, vio

    # -- per-group index contiguity -------------------------------------------
    def _contiguous(
        self, df: DataFrame, ref: DataFrame | None, c: Constraint, shared=None,
    ) -> tuple[DataFrame, DataFrame]:
        """Per-group contiguity of distinct ``idx_col`` values (exactly
        ``start..start+n-1``; spec rationale at
        :func:`~chronominer_spark.constraints.spec.contiguous`). Stage 1
        collapses to distinct ``(_pid, over, idx)`` triples — the
        exchange hashes the FULL triple, so a hot group's rows spread
        across reducers and duplicate indices combine map-side (the
        index value itself plays the salt's role; no explicit salt
        stage needed). Stage 2 reduces each group to ``(n, lo, hi)`` —
        algebraic, map-side-combined — and a group is bad iff
        ``lo != start`` or ``hi != start + n - 1``. ``rows_checked``
        counts the distinct (group, idx) pairs the verdict is over."""
        p = c.params
        idx_col, over, start = p["idx_col"], p["over"], p["start"]
        dedup = df.select(
            "_pid", over, F.col(idx_col).alias("__idx")).distinct()
        groups = dedup.groupBy("_pid", over).agg(
            F.count(F.lit(1)).alias("__n"),
            F.min("__idx").alias("__lo"),
            F.max("__idx").alias("__hi"),
        )
        # start=None: completeness form — anchor at the group's own
        # minimum, so only GAPS violate (n distinct values spanning
        # lo..hi are gapless iff hi - lo + 1 == n)
        start_col = F.col("__lo") if start is None else F.lit(start)
        # an all-null-index group yields null __lo/__hi; null means "no
        # valid indices at all", which is plainly not start..start+n-1,
        # so the predicate coalesces to a violation rather than
        # silently passing (round-4 ADVICE)
        bad_pred = F.coalesce(
            (F.col("__lo") != start_col) | (
                F.col("__hi") != F.col("__n") + start_col - F.lit(1)),
            F.lit(True))
        vio = self._violation_rows(
            groups.where(bad_pred), c, idx_col, self._sval(F.col(over)),
            F.format_string(
                "distinct=%s min=%s max=%s expected=%s..%s",
                F.col("__n").cast("string"),
                F.coalesce(F.col("__lo").cast("string"), F.lit("null")),
                F.coalesce(F.col("__hi").cast("string"), F.lit("null")),
                F.coalesce(start_col.cast("string"), F.lit("null")),
                F.coalesce(
                    (F.col("__n") + start_col - F.lit(1)).cast("string"),
                    F.lit("null")),
            ),
            keys=[over])
        return _group_rows(groups, bad_pred, "__n", c), vio

    # -- per-group aggregate bound ---------------------------------------------
    def _group_agg_check(
        self, df: DataFrame, ref: DataFrame | None, c: Constraint, shared=None,
    ) -> tuple[DataFrame, DataFrame]:
        """Per-group aggregate bound (spec rationale at
        :func:`~chronominer_spark.constraints.spec.group_agg_check`).
        ONE groupBy(partition, group) hash-aggregate evaluates the
        author's aggregate expression and the group's row count in the
        same pass — built-in algebraic aggregates combine map-side —
        then an algebraic per-partition rollup. A null aggregate value
        cannot certify the bound and violates (the expr_check null
        discipline)."""
        p = c.params
        group_col, lo, hi = p["group_col"], p["lo"], p["hi"]
        g = df.groupBy("_pid", group_col).agg(
            F.expr(p["agg_expr"]).alias("__v"),
            F.count(F.lit(1)).alias("__n"),
        )
        bad_pred = out_of_bounds(F.col("__v"), lo, hi)
        vio = self._violation_rows(
            g.where(bad_pred), c, p["agg_expr"], self._sval(F.col(group_col)),
            F.format_string(
                "agg=%s rows=%s bounds=[%s, %s]",
                F.coalesce(F.col("__v").cast("string"), F.lit("null")),
                F.col("__n").cast("string"),
                F.lit("-inf" if lo is None else repr(lo)),
                F.lit("inf" if hi is None else repr(hi)),
            ),
            keys=[group_col])
        return _group_rows(g, bad_pred, "__n", c), vio

    # -- functional dependency -------------------------------------------------
    def _functional_dependency(
        self, df: DataFrame, ref: DataFrame | None, c: Constraint, shared=None,
    ) -> tuple[DataFrame, DataFrame]:
        """``determinant -> dependent`` consistency (spec rationale at
        :func:`~chronominer_spark.constraints.spec.functional_dependency`).
        Stage 1 collapses to distinct ``(_pid, det..., dep)`` tuples —
        the exchange hashes the FULL tuple, so a hot determinant key's
        rows spread across reducers and duplicates combine map-side
        (the dependent value plays the salt's role, exactly the
        :meth:`_contiguous` skew posture). Stage 2 reduces each key to
        ``(n_dep, min, max)`` — algebraic, map-side-combined — and a
        key is bad iff ``n_dep > 1``; min/max double as exemplars in
        the violation detail, so no second value-fetch pass exists.
        A null dependent is a value (distinct keeps it; the count
        counts it): {x, null} is inconsistent."""
        p = c.params
        det, dep = p["determinant"], p["dependent"]
        dedup = df.select(
            "_pid", *det,
            F.col(dep).cast("string").alias("__dep")).distinct()
        groups = dedup.groupBy("_pid", *det).agg(
            F.count(F.lit(1)).alias("__n_dep"),
            F.min("__dep").alias("__lo"),
            F.max("__dep").alias("__hi"),
            # min/max skip nulls, so a {x, null} key would read eg=x..x;
            # the null membership is surfaced explicitly instead
            F.max(F.col("__dep").isNull()).alias("__has_null"),
        )
        bad_pred = F.col("__n_dep") > 1
        vio = self._violation_rows(
            groups.where(bad_pred), c, dep,
            self._sval(F.concat_ws(",", *[F.col(d) for d in det])),
            F.format_string(
                "n_dependents=%s eg=%s..%s%s",
                F.col("__n_dep").cast("string"),
                F.coalesce(F.col("__lo"), F.lit("null")),
                F.coalesce(F.col("__hi"), F.lit("null")),
                F.when(F.col("__has_null")
                       & F.col("__lo").isNotNull(), F.lit("+null"))
                .otherwise(F.lit("")),
            ),
            keys=det)
        return _group_rows(groups, bad_pred, "__n_dep", c), vio

    # -- conversation role-sequence shape --------------------------------------
    def _conversation_shape(
        self, df: DataFrame, ref: DataFrame | None, c: Constraint, shared=None,
    ) -> tuple[DataFrame, DataFrame]:
        """Role-sequence validity per conversation (spec rationale at
        :func:`~chronominer_spark.constraints.spec.conversation_shape`).
        ONE window — partitioned by ``(_pid, over)``, ordered by the
        constraint's order keys with the role as total-order tiebreaker
        — yields both ``lag(role)`` (transition source / first-turn
        marker) and ``lead(role)`` (last-turn marker) from a single
        exchange + sort; every rule then evaluates as a codegen'd
        expression over that frame. A turn breaking several rules emits
        ONE violation row whose detail lists all of them."""
        p = c.params
        role, over = p["role_col"], p["over"]
        first_roles = p.get("first_roles")
        last_roles = p.get("last_roles")
        allowed = p.get("allowed_transitions")

        # lag/lead of a STRUCT, not the bare role: the struct is null
        # exactly when no neighbor row exists, even if the neighbor's
        # role value is null — a mid-conversation null role must not
        # make its successor look like a conversation opener
        w = W.partitionBy("_pid", over).orderBy(
            *[F.col(x).asc() for x in p["order_by"]], F.col(role).asc())
        neighbor = F.struct(F.col(role).alias("r"))
        d = (
            df.withColumn("__prev", F.lag(neighbor).over(w))
              .withColumn("__next", F.lead(neighbor).over(w))
        )
        # null role never .isin(...)-matches (null -> coalesce False), so
        # a null where a vocabulary is demanded is itself a violation
        checks: list[F.Column] = []
        if first_roles is not None:
            checks.append(F.when(
                F.col("__prev").isNull()
                & ~F.coalesce(F.col(role).isin(list(first_roles)),
                              F.lit(False)),
                F.format_string("first role %s not in %s",
                                self._sval(F.col(role)),
                                F.lit("|".join(first_roles)))))
        if last_roles is not None:
            checks.append(F.when(
                F.col("__next").isNull()
                & ~F.coalesce(F.col(role).isin(list(last_roles)),
                              F.lit(False)),
                F.format_string("last role %s not in %s",
                                self._sval(F.col(role)),
                                F.lit("|".join(last_roles)))))
        if allowed is not None:
            # concat_ws skips a null side, so 'user>null' / 'null>user'
            # can never masquerade as an allowed edge
            edge = F.concat_ws(">", F.col("__prev.r"), F.col(role))
            checks.append(F.when(
                F.col("__prev").isNotNull() & ~edge.isin(list(allowed)),
                F.format_string("transition %s not allowed", edge)))
        if not checks:
            raise ValueError(
                "conversation_shape needs at least one of first_roles / "
                "last_roles / allowed_transitions")
        d = d.withColumn("__fails", F.array_compact(F.array(*checks)))
        bad = d.where(F.size("__fails") > 0)

        totals = df.groupBy("_pid").agg(
            F.count(F.lit(1)).alias("rows_checked"))
        bad_counts = bad.groupBy("_pid").agg(
            F.count(F.lit(1)).alias("violation_count"))
        res = _rate_rows(totals, bad_counts, c.constraint_id,
                         p.get("max_rate", 0.0))
        vio = self._violation_rows(bad, c, role, self._sval(F.col(role)),
                                   F.array_join("__fails", "; "))
        return res, vio

    # -- text equality vs reference snapshot ----------------------------------
    def _stable_winner(
        self, df: DataFrame, col: str, norm_opts: dict, out_prefix: str,
    ) -> DataFrame:
        """Stable turn ordering + last-wins dedup (W1 + W3) as a single
        hash aggregation: ``max(struct(*_winner_order, payload))`` picks one
        row per (conv_id, turn_idx) under the total order (ts desc,
        text-hash asc) — parallelism-invariant even with tied timestamps
        (risk register, SURVEY.md §7.4). A hash-agg partial-aggregates
        map-side and shuffles only (key, winner) pairs — far cheaper at
        scale than a sort window over full rows."""
        keys = list(self.suite.key_cols)
        # ship a 64-bit hash of the normalized text, not the text: the
        # equality join is the suite's only wide shuffle, and hashing
        # cuts its volume ~50x at transcript-scale text lengths. Null
        # norm stays null (xxhash64 would map it to the seed). False
        # match probability is 2^-64 per compared pair — the standard
        # content-equality tradeoff at 10^12-row scale.
        # fused Arrow normalize+hash (guide §4.2): 8 bytes/row return to
        # the JVM, NULL norm stays NULL (see norm_hash64_arrow)
        norm_h = norm_hash64_arrow(F.col(col), **norm_opts)
        # ONE struct: order key first, payload after — the winner is
        # max(struct(...)), a native declarative aggregate that stays
        # inside whole-stage codegen. (max_by is an ObjectHashAggregate
        # and was measured ~4x slower on this 8M-key agg.) Lexicographic
        # struct max realizes the (ts desc, text-hash) total order;
        # payload fields participate only on full order-key ties, where
        # the tied text hash pins the same text and the remaining fields
        # make the pick deterministic (max_by left it arbitrary).
        fields = [
            *_winner_order(col),
            norm_h.alias(f"{out_prefix}norm"),
            F.col("_pid").alias(f"{out_prefix}pid"),
        ]
        return (
            df.groupBy(*keys)
            .agg(F.max(F.struct(*fields)).alias("__w"))
            .select(*keys, f"__w.{out_prefix}norm", f"__w.{out_prefix}pid")
        )

    def _conv_digest(
        self, side: DataFrame, c: Constraint, pfx: str, group: list[Column],
    ) -> DataFrame:
        """Per-``group`` digest of ``side``'s stable turn winners: count
        ``{pfx}n``, and the order-independent, overflow-free ``bit_xor``
        ``{pfx}x`` and mod-2^31 sum ``{pfx}s`` of
        ``xxhash64(turn keys, text hash)``."""
        # LIGHT winners (no raw values): the digest agg is their only
        # consumer, and they are deliberately NOT persisted — an 8M-row
        # winners frame carrying text values costs more to cache than to
        # recompute (measured: persisting winners made the digest path
        # slower than the join it replaces)
        w = self._stable_winner(side, c.params["col"], self._norm_opts(c), pfx)
        th = F.xxhash64(*self.suite.key_cols[1:], F.col(f"{pfx}norm"))
        return w.groupBy(*group).agg(
            F.count(F.lit(1)).alias(f"{pfx}n"),
            F.bit_xor(th).alias(f"{pfx}x"),
            F.sum(F.pmod(th, F.lit(2 ** 31))).alias(f"{pfx}s"),
        )

    def _digest_auto_choice(
        self, df: DataFrame, ref: DataFrame, c: Constraint,
    ) -> bool:
        """Resolve ``digest="auto"``: digest a deterministic conversation
        sample on both sides and pick the digest prepass iff the observed
        conv-level mismatch rate is at or below the threshold. The sample
        is keyed on ``xxhash64(conv) % _AUTO_SAMPLE_MOD == 0`` so both
        sides sample the SAME conversations at any parallelism."""
        conv = self.suite.key_cols[0]

        def side(s: DataFrame, pfx: str) -> DataFrame:
            sampled = s.where(
                F.pmod(F.xxhash64(F.col(conv)), F.lit(_AUTO_SAMPLE_MOD)) == 0)
            return self._conv_digest(sampled, c, pfx, [F.col(conv)])

        j = side(df, "_cur_").join(side(ref, "_ref_"), on=conv,
                                   how="full_outer")
        row = j.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.when(~_digests_agree(), 1).otherwise(0)).alias("bad"),
        ).collect()[0]
        if not row["n"]:
            logger.info("text_equality[%s]: auto sample empty -> direct join",
                        c.constraint_id)
            return False
        rate = row["bad"] / row["n"]
        choice = rate <= _AUTO_THRESHOLD
        logger.info(
            "text_equality[%s]: auto sampled %d convs, mismatch rate %.3f "
            "(threshold %.3f) -> %s", c.constraint_id, row["n"], rate,
            _AUTO_THRESHOLD, "digest prepass" if choice else "direct join",
        )
        return choice

    def _text_equality(
        self, df: DataFrame, ref: DataFrame, c: Constraint, shared=None,
    ) -> tuple[DataFrame, DataFrame]:
        """Per-turn text equality vs the reference snapshot.

        Two physical strategies, identical outputs:

        - ``digest=True`` (opt-in, for mostly-identical snapshots): after the
          stable-winner dedup, each (conv, partition) group is reduced
          to a 3-channel digest — turn count, ``bit_xor`` and a
          mod-2^31 sum of ``xxhash64(turn_idx, text_hash)`` (both
          order-independent and ANSI-overflow-free). The cur/ref join
          then ships ~#convs digest rows instead of ~#turns hashed
          rows, and only conversations whose digests differ (or that
          span/shift partitions) drill down to the exact per-turn
          full-outer join. On an 8M-turn suite this removed the
          engine's dominant shuffle (the turn-level join was ~60% of
          suite wall when diffs are rare). On the synthetic bench,
          where ~15% of conversations carry planted diffs, the digest
          prepass costs more than the join it avoids — hence opt-in.
          False-accept probability per conversation pair
          is ~2^-95 (64-bit xor channel × 31-bit sum channel) — the
          same content-hash tradeoff as the equality hash itself,
          documented in SURVEY §7.4's risk register.
        - ``digest=False`` (default): the direct per-turn full-outer
          join for every conversation (the drilldown plan applied
          globally).
        - ``digest="auto"``: measure, don't guess — a deterministic
          ~1/``_AUTO_SAMPLE_MOD`` conversation sample (1/20) is
          digested on BOTH sides first, and the observed conv-level
          mismatch rate picks the plan: rate ≤ ``_AUTO_THRESHOLD``
          (5%) → digest prepass (diffs are rare, the prepass
          removes the turn-level join for ~95%+ of conversations);
          above → direct join (dense diffs would drill most
          conversations anyway, making the prepass pure overhead — the
          measured crossover on the planted-diff bench, ~15% conv diff
          rate, sits safely above 5%). The sample costs two filtered
          narrow scans + a 1-row aggregate; an empty sample falls back
          to direct.

        DECISION RULE (when setting ``digest`` by hand): prefer the
        digest prepass iff the expected fraction of conversations with
        any differing/missing turn is under ~5% — e.g. re-validating a
        production table against yesterday's snapshot. Use the direct
        join for first-time validation or after bulk rewrites. If the
        prior run's manifest reports mismatch counts, expected rate =
        violating_convs / total_convs of that run.
        """
        p = c.params
        col = p["col"]
        keys = list(self.suite.key_cols)
        norm_opts = self._norm_opts(c)

        digest_opt = p.get("digest", False)
        if digest_opt == "auto":
            cached = self.strategy_cache.get(c.constraint_id)
            if cached is not None:
                logger.info(
                    "text_equality[%s]: auto choice from cache -> %s",
                    c.constraint_id,
                    "digest prepass" if cached else "direct join")
                digest_opt = cached
            else:
                digest_opt = self._digest_auto_choice(df, ref, c)
                self.strategy_cache[c.constraint_id] = digest_opt

        if not digest_opt:
            counts, vio = self._eq_turn_join(df, ref, keys, col, norm_opts, c)
            return self._eq_finalize(counts, c), vio

        conv = keys[0]

        def conv_digest(s: DataFrame, pfx: str) -> DataFrame:
            return self._conv_digest(
                s, c, pfx, [F.col(conv), F.col(f"{pfx}pid").alias("_pid")])

        # the ref-side conv digest is immutable between snapshot
        # advances (O(convs) rows): routed through the runner's
        # RefAggCache so a rerun digests only the CURRENT side; the
        # drilldown below still reads raw ref rows, but only for the
        # rare digest-differing conversations
        ref_dig = self._ref_agg(
            f"eqdigest|{c.constraint_id}|{hash_backend_tag()}",
            lambda: conv_digest(ref, "_ref_"))
        conv_j = self._share(
            conv_digest(df, "_cur_").join(
                ref_dig, on=[conv, "_pid"], how="full_outer",
            )
        )
        ok = _digests_agree()
        # every conversation owning a non-ok (conv, pid) group — digest
        # mismatch, one-sided, or a partition shift between sides —
        # drills down to the exact per-turn plan over ALL of that
        # conversation's SOURCE rows (raw violation values are only ever
        # read for differing conversations). The drill key is the conv
        # alone, NOT (conv, pid): winners are picked per (conv, turn)
        # across partitions, so a stale duplicate of a turn can sit in a
        # bad partition while its winner's group is ok — a (conv, pid)
        # semi-join would re-derive the winner from the loser row alone
        # and double-count the turn (see test_digest_equality_stale_
        # duplicate_in_other_partition). Drilling the whole conversation
        # recomputes all of its groups exactly; its ok groups are
        # excluded from ok_counts below so nothing is counted twice.
        bad_convs = self._share(conv_j.where(~ok).select(conv).distinct())
        # digest-equal groups of non-drilled conversations contain the
        # same turn-winner multiset on both sides, so every key matches:
        # count them without touching turns. Groups of a drilled
        # conversation are excluded even when individually ok — the
        # drill recomputes the whole conversation and replaces their
        # contribution (counting both would double-count turns).
        ok_counts = (
            conv_j.where(ok)
            .join(bad_convs, on=[conv], how="left_anti")
            .groupBy("_pid")
            .agg(F.sum("_cur_n").alias("rows_checked"),
                 F.lit(0).cast("long").alias("violation_count"))
        )
        drill_cur = df.join(bad_convs, on=[conv], how="left_semi")
        drill_ref = ref.join(bad_convs, on=[conv], how="left_semi")
        drill_counts, vio = self._eq_turn_join(
            drill_cur, drill_ref, keys, col, norm_opts, c
        )
        counts = ok_counts.unionByName(drill_counts).groupBy("_pid").agg(
            F.sum("rows_checked").alias("rows_checked"),
            F.sum("violation_count").alias("violation_count"),
        )
        return self._eq_finalize(counts, c), vio

    def _eq_turn_join(
        self, cur: DataFrame, ref: DataFrame, keys: list, col: str,
        norm_opts: dict, c: Constraint,
    ) -> tuple[DataFrame, DataFrame]:
        """Exact per-turn classification WITHOUT a join.

        A full-outer join on a unique composite key is a cogroup, so it
        collapses into ONE hash aggregate over the side-tagged union:
        ``max(when(side, struct(order, payload)))`` picks each side's
        stable winner (W1+W3) per key in the same pass that aligns the
        sides. One 2n-row exchange replaces two n-row winner shuffles
        plus an n×n join — this is the engine's widest operation, so
        the collapse matters more than any other plan choice here.
        Missing/extra/mismatch fall out of winner-struct nullness.

        The exchange is VALUE-FREE: only keys + 64-bit hashes + the
        partition id ride the side-tagged union. Violation values (the
        truncated current text) are fetched afterwards by semi-joining
        the source against the violating key set — a bounded frame
        (violations are the rare case by contract), so the fetch reads
        the text column once for ~0.1% of keys instead of shipping 256
        chars per row through the engine's widest shuffle.

        Returns (per-pid counts, violation rows)."""
        sel = [*keys, "ts", col, "_pid"]
        tagged = (
            cur.select(*sel).withColumn("_is_cur", F.lit(True))
            .unionByName(ref.select(*sel)
                         .withColumn("_is_cur", F.lit(False)))
        )
        # same total order + payload as _stable_winner (see there for
        # the hashing / tie-break rationale); fused Arrow normalize+hash
        # projected ONCE pre-exchange (guide §4.2 — both winner structs
        # read the projected column, so the UDF runs exactly once per row)
        tagged = tagged.withColumn(
            "__nh_eq", norm_hash64_arrow(F.col(col), **norm_opts))
        order = _winner_order(col)
        winner = F.struct(*order, F.col("__nh_eq").alias("norm"),
                          F.col("_pid").alias("pid"))
        agg = tagged.groupBy(*keys).agg(
            F.max(F.when(F.col("_is_cur"), winner)).alias("_cw"),
            F.max(F.when(~F.col("_is_cur"), winner)).alias("_rw"),
        )
        status = (
            F.when(F.col("_cw").isNull(), F.lit("missing_in_current"))
            .when(F.col("_rw").isNull(), F.lit("extra_in_current"))
            .when(F.col("_cw.norm").eqNullSafe(F.col("_rw.norm")), F.lit("match"))
            .otherwise(F.lit("mismatch"))
        )
        # persisted: both the per-partition agg and the violation rows read
        # this; without it the dedup+alignment pipeline runs twice
        classified = self._share(
            agg.select(
                *keys,
                F.coalesce("_cw.pid", "_rw.pid").alias("_pid"),
                status.alias("_status"),
            )
        )

        counts = classified.groupBy("_pid").agg(
            F.count(F.lit(1)).alias("rows_checked"),
            F.sum((F.col("_status") != "match").cast("long"))
            .alias("violation_count"),
        )
        bad_keys = classified.where(F.col("_status") != "match")
        # post-fetch of violation values: re-derive the current winner's
        # truncated text for just the violating keys. The winner pick
        # uses the same (ts desc, raw-hash) total order, so on any tie
        # the tied raw hash pins the same text — the fetched value is
        # the value the in-exchange struct would have carried.
        # missing_in_current keys have no cur rows -> left join -> null,
        # matching the old _cw.val nullness.
        cur_vals = (
            cur.select(*keys, "ts", col)
            .join(bad_keys.select(*keys), on=keys, how="left_semi")
            .groupBy(*keys)
            .agg(F.max(F.struct(
                *order, self._sval(F.col(col)).alias("val"),
            )).alias("__w"))
            .select(*keys, F.col("__w.val").alias("_cur_val"))
        )
        vio = self._violation_rows(
            bad_keys.join(cur_vals, on=keys, how="left"), c, col,
            F.col("_cur_val"), F.col("_status"))
        return counts, vio

    @staticmethod
    def _eq_finalize(counts: DataFrame, c: Constraint) -> DataFrame:
        return _result_rows(
            counts, c.constraint_id,
            F.col("violation_count") / F.col("rows_checked"),
            c.params.get("max_mismatch_rate", 0.0),
        )

    def _ref_agg(self, key: str, build):
        """Route a reference-side aggregate through the runner-owned
        :class:`~chronominer_spark.checkpoint.RefAggCache` when armed
        (first run materializes + reads back; rerun of the same
        (snapshot, suite, wave) reads back with zero ref-side scan
        jobs). Unarmed (direct ``evaluate`` callers), just build."""
        if self.ref_agg_cache is None:
            return build()
        return self.ref_agg_cache.get_or_build(key, build)

    # -- drift (PSI / KS over binned histograms) ------------------------------
    @staticmethod
    def _bin_expr(expr: F.Column, bins: int, lo: float, hi: float) -> F.Column:
        width = (hi - lo) / bins
        return (
            F.when(expr.isNull(), F.lit(-1))
            .otherwise(
                F.least(F.lit(bins - 1),
                        F.greatest(F.lit(0),
                                   F.floor((expr - lo) / width)))
            )
        ).cast("int")

    @staticmethod
    def _histogram(df: DataFrame, b: F.Column, cnt_name: str) -> DataFrame:
        return df.groupBy("_pid", b.alias("bin")).agg(
            F.count(F.lit(1)).alias(cnt_name)
        )

    def _schema_match(
        self, df: DataFrame, ref: DataFrame | None, c: Constraint, shared=None,
    ) -> tuple[DataFrame, None]:
        """Metadata-only: diff the frame's schema against the declared
        one on the driver (no Spark job) and emit a single table-level
        result row — partition lineage does not apply to a property of
        the whole table."""
        diffs = schema_diff(df, c.params["expected"],
                            c.params.get("allow_extra", False))
        # rows_checked = declared columns checked (the frame also
        # carries the engine-internal _pid, which is no part of the
        # user's schema)
        return self.spark.createDataFrame(
            [("__table__", c.constraint_id, float(len(diffs)), 0.0,
              len(c.params["expected"]), len(diffs), len(diffs) == 0)],
            "partition_id string, constraint_id string, observed double, "
            "threshold double, rows_checked long, violation_count long, "
            "passed boolean",
        ), None

    def _row_count_drift(
        self, df: DataFrame, ref: DataFrame, c: Constraint, shared=None,
    ) -> tuple[DataFrame, None]:
        """Per-partition |cur/ref − 1| ≤ max_rel_change; a partition on
        only one side is uncertifiable (null observed, failed). Two
        count aggregates — the cheapest cross-snapshot check there is."""
        thr = c.params.get("max_rel_change", 0.0)
        cur_n = df.groupBy("_pid").agg(F.count(F.lit(1)).alias("__cn"))
        ref_n = self._ref_agg(
            f"rowcount|{c.constraint_id}",
            lambda: ref.groupBy("_pid").agg(
                F.count(F.lit(1)).alias("__rn")))
        joined = cur_n.join(ref_n, "_pid", "full_outer")
        both = F.col("__cn").isNotNull() & F.col("__rn").isNotNull()
        observed = F.when(both, F.abs(F.col("__cn") / F.col("__rn") - 1.0))
        return _result_rows(
            joined, c.constraint_id, observed, thr,
            rows_checked=F.coalesce("__cn", F.lit(0)),
            violation_count=F.abs(F.coalesce("__cn", F.lit(0))
                                  - F.coalesce("__rn", F.lit(0))),
            passed=_certify_or_fail(),
        ), None

    def _drift_quantile(
        self, df: DataFrame, ref: DataFrame, c: Constraint, shared=None,
    ) -> tuple[DataFrame, None]:
        """Largest per-quantile absolute difference between the two
        snapshots, per partition. One sketch aggregate per side (only
        ≤accuracy-sized sketches shuffle — the quantiles-family
        discipline), full-outer joined on partition; a partition
        missing from either side cannot be certified and fails with a
        null observed."""
        p = c.params
        qs = p["qs"]
        q_arr = F.array(*[F.lit(q) for q in qs])

        def side(frame: DataFrame, name: str, with_rows: bool) -> DataFrame:
            aggs = [F.percentile_approx(
                F.expr(p["expr"]).cast("double"), q_arr,
                F.lit(p.get("accuracy", 2500))).alias(name)]
            if with_rows:
                aggs.append(F.count(F.lit(1)).alias("rows_checked"))
            return frame.groupBy("_pid").agg(*aggs)

        ref_q = self._ref_agg(
            f"quantdrift|{c.constraint_id}",
            lambda: side(ref, "__qr", False))
        joined = side(df, "__qc", True).join(ref_q, "_pid", "full_outer")
        both = F.col("__qc").isNotNull() & F.col("__qr").isNotNull()
        observed = F.when(both, F.array_max(
            F.zip_with("__qc", "__qr", lambda a, b: F.abs(a - b))))
        return _result_rows(
            joined, c.constraint_id, observed, p.get("max_abs_diff", 0.0),
            rows_checked=F.coalesce("rows_checked", F.lit(0)),
            violation_count=F.lit(0), passed=_certify_or_fail(),
        ), None

    def _freshness(
        self, df: DataFrame, ref: DataFrame | None, c: Constraint, shared=None,
    ) -> tuple[DataFrame, None]:
        """Partition age vs an explicit ``as_of`` instant (spec
        rationale at :func:`~chronominer_spark.constraints.spec.
        freshness`). One max() per partition — map-side combined, a
        single long per group crosses the exchange."""
        p = c.params
        as_of = F.to_timestamp(F.lit(p["as_of"]))
        agg = df.groupBy("_pid").agg(
            F.max(F.col(p["ts_col"]).cast("timestamp")).alias("__newest"),
            F.count(F.lit(1)).alias("rows_checked"),
        )
        age = (as_of.cast("double")
               - F.col("__newest").cast("double"))
        return _result_rows(
            agg, c.constraint_id, age, p["max_age_seconds"],
            violation_count=F.lit(0), passed=_certify_or_fail(),
        ), None

    def _drift_categorical(
        self, df: DataFrame, ref: DataFrame, c: Constraint, shared=None,
    ) -> tuple[DataFrame, None]:
        """Category-frequency PSI per partition (spec rationale at
        :func:`~chronominer_spark.constraints.spec.drift_categorical`).
        Each side collapses to distinct (partition, category) count
        rows before anything shuffles — map-side combined, so a hot
        category costs one partial row per map split, never a hot
        reducer. The full-outer category join and the PSI fold
        (:func:`categorical_psi`) then run over at most (partitions ×
        union-cardinality) rows. A partition missing from either side,
        or whose union cardinality exceeds ``max_categories``, cannot be
        certified: null observed, failed."""
        p = c.params
        col = p["col"]
        cur_c = df.groupBy("_pid", col).agg(F.count(F.lit(1)).alias("_cn"))
        ref_c = self._ref_agg(
            f"catdrift|{c.constraint_id}",
            lambda: ref.groupBy("_pid", col).agg(
                F.count(F.lit(1)).alias("_rn")))
        return _result_rows(
            categorical_psi(cur_c, ref_c, "_pid", float(p["smooth"])),
            c.constraint_id, certified_psi(p["max_categories"]),
            float(p["max_psi"]), rows_checked="cur_total",
            violation_count=F.lit(0), passed=_certify_or_fail(),
        ), None

    def _drift_family(
        self, df: DataFrame, ref: DataFrame, constraints: list[Constraint],
    ) -> list[DataFrame]:
        """PSI / KS between current and reference per partition. Only bin
        counts are shuffled (bins × partitions rows), never raw data —
        the same partial/final discipline as A3.

        Constraints sharing the same (expr, bins, lo, hi) — the common
        "PSI and KS on the same column" suite shape — bin the inputs
        ONCE: the joined probability frame is persisted (it is tiny:
        bins × partitions rows) and both statistics derive from it, so
        the 2×n-row histogram scans run once instead of per-constraint."""
        by_group: dict[tuple, list[Constraint]] = {}
        for c in constraints:
            p = c.params
            by_group.setdefault(
                (p["expr"], p["bins"], p["lo"], p["hi"]), []
            ).append(c)

        # Joint-histogram fuse (guide §2.3 "aggregate before you
        # shuffle" + §1.2 "don't read twice"): several drift groups
        # (e.g. PSI@20 bins and KS@50 bins over the same column) each
        # scanned BOTH inputs to bin them. One aggregation over the
        # cross-binned keys (_pid, bin_g0, bin_g1, ...) reads each side
        # ONCE; every group's histogram is then a re-aggregation of the
        # tiny joint frame (≤ pids × Π bins rows — capped so a
        # pathological suite with many wide groups falls back to
        # per-group scans rather than exploding the joint key space).
        joint_cur = joint_ref = None
        gkeys = list(by_group)
        joint_cells = 1
        for _, bins, _, _ in gkeys:
            joint_cells *= max(1, int(bins))
        if len(gkeys) > 1 and joint_cells <= 100_000:
            bcols = [
                self._bin_expr(F.expr(e), b, lo, hi).alias(f"__jb{g}")
                for g, (e, b, lo, hi) in enumerate(gkeys)
            ]
            jnames = [f"__jb{g}" for g in range(len(gkeys))]

            def joint(frame: DataFrame) -> DataFrame:
                return self._share(
                    frame.select("_pid", *bcols)
                    .groupBy("_pid", *jnames)
                    .agg(F.count(F.lit(1)).alias("__jn"))
                )

            joint_cur = joint(df)
            # the ref-side joint histogram is immutable between snapshot
            # advances — cacheable as one frame for ALL groups
            joint_ref = self._ref_agg(
                "driftjoint|" + "|".join(map(repr, gkeys)),
                lambda: joint(ref))

        out: list[DataFrame] = []
        for key, cs in by_group.items():
            expr_s, bins, lo, hi = key
            gkey = f"drifthist|{expr_s}|{bins}|{lo}|{hi}"
            if joint_cur is not None:
                g = gkeys.index(key)

                def marginal(j: DataFrame, name: str) -> DataFrame:
                    return (
                        j.groupBy("_pid", F.col(f"__jb{g}").alias("bin"))
                        .agg(F.sum("__jn").alias(name))
                    )

                h_cur = marginal(joint_cur, "n_cur")
                h_ref = marginal(joint_ref, "n_ref")
            else:
                b = self._bin_expr(F.expr(expr_s), bins, lo, hi)
                h_cur = self._histogram(df, b, "n_cur")
                h_ref = self._ref_agg(
                    gkey,
                    lambda: self._histogram(ref, b, "n_ref"))
            joined = (
                h_cur.join(h_ref, ["_pid", "bin"], "full_outer")
                .fillna(0, ["n_cur", "n_ref"])
            )
            wp = W.partitionBy("_pid")
            probs = joined.withColumn(
                "p", F.col("n_cur") / F.sum("n_cur").over(wp)
            ).withColumn(
                "q", F.col("n_ref") / F.sum("n_ref").over(wp)
            )
            if len(cs) > 1:
                probs = self._share(probs)
            out.extend(self._drift_stat(probs, c) for c in cs)
        return out

    def _drift_stat(self, probs: DataFrame, c: Constraint) -> DataFrame:
        if c.kind == "drift_psi":
            stat = probs.groupBy("_pid").agg(
                F.sum(psi_term(F.col("p"), F.col("q"), eps=1e-9))
                .alias("observed"),
                F.sum("n_cur").alias("rows_checked"),
            )
        else:  # drift_ks: max |CDF_cur - CDF_ref| over ordered bins
            wcum = W.partitionBy("_pid").orderBy("bin") \
                    .rowsBetween(W.unboundedPreceding, 0)
            cdfs = probs.withColumn("cp", F.sum("p").over(wcum)) \
                        .withColumn("cq", F.sum("q").over(wcum))
            stat = cdfs.groupBy("_pid").agg(
                F.max(F.abs(F.col("cp") - F.col("cq"))).alias("observed"),
                F.sum("n_cur").alias("rows_checked"),
            )

        return _result_rows(stat, c.constraint_id, F.col("observed"),
                            c.params["threshold"], violation_count=F.lit(0))


# kind -> (family method, needs_ref). Every method is called as
# method(evaluator, df, ref, c, shared) and returns (results,
# violations | None); ``shared`` is the key-count frame evaluate() shares
# between a unique constraint and the group_stats it covers. A None
# method marks a kind evaluated by a suite-wide pass instead: the fused
# scan for row-level checks, column_stats and quantiles, and the shared
# histograms of _drift_family for drift_psi/drift_ks. The inline-vocab
# referential form is row-level and fuses; the dim-frame form is joined.
FAMILIES = {
    **{kind: (None, False) for kind in ROW_LEVEL_KINDS},
    "referential": (SuiteEvaluator._referential_join, False),
    "column_stats": (None, False),
    "quantiles": (None, False),
    "drift_psi": (None, True),
    "drift_ks": (None, True),
    "unique": (SuiteEvaluator._unique, False),
    "group_stats": (SuiteEvaluator._group_stats, False),
    "monotone": (SuiteEvaluator._monotone, False),
    "contiguous": (SuiteEvaluator._contiguous, False),
    "functional_dependency": (SuiteEvaluator._functional_dependency, False),
    "group_agg_check": (SuiteEvaluator._group_agg_check, False),
    "conversation_shape": (SuiteEvaluator._conversation_shape, False),
    "freshness": (SuiteEvaluator._freshness, False),
    "schema_match": (SuiteEvaluator._schema_match, False),
    "text_equality": (SuiteEvaluator._text_equality, True),
    "drift_quantile": (SuiteEvaluator._drift_quantile, True),
    "drift_categorical": (SuiteEvaluator._drift_categorical, True),
    "row_count_drift": (SuiteEvaluator._row_count_drift, True),
}

# constraint kinds that compare the current frame against a reference
# snapshot — evaluate() refuses to run them with ref_df=None
REF_REQUIRING_KINDS = {k for k, (_, needs_ref) in FAMILIES.items() if needs_ref}
