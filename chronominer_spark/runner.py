"""Driver loop: plan partitions -> skip completed -> evaluate -> commit.

The Spark re-expression of the reference's per-file lifecycle
(``/root/reference/modules/extract/file_processor.py:769-1161``):

1. resolve the table snapshot (analog: detect prior status),
2. anti-filter completed partitions via the checkpoint manifest
   (analog: skip-set before expensive work — skip happens *before* the
   scan, so completed partitions are pruned at the source),
3. evaluate the suite on the pending partitions only,
4. write results/violations with **dynamic partition overwrite** keyed by
   partition_id — idempotent per-partition commits, so a re-run never
   duplicates rows (the by-construction version of last-wins dedup,
   ``modules/extract/batch_output.py:108-128``),
5. commit the manifest per wave (durable progress, analog of the
   flush-per-record temp JSONL).

Waves: partitions are validated in groups of ``wave_size``; a crash
between waves loses at most one wave of work and the next run resumes
from the manifest (tested in tests/test_checkpoint.py).
"""

from __future__ import annotations

import hashlib
import logging
import os
import shutil
import time
import uuid
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from chronominer_spark.checkpoint import CheckpointManifest
from chronominer_spark.constraints.engine import SuiteEvaluator
from chronominer_spark.constraints.spec import ConstraintSuite

log = logging.getLogger(__name__)


@dataclass
class RunSummary:
    """Outcome accounting, mirroring the reference's exit-code contract
    statuses {complete, partial, failed, skipped}
    (``main/process_text_files.py:1239-1295``)."""

    run_id: str
    snapshot_id: int
    suite_hash: str
    completed: list[str] = field(default_factory=list)
    skipped: list[str] = field(default_factory=list)
    failed: list[str] = field(default_factory=list)
    wall_seconds: float = 0.0
    rows_validated: int = 0

    @property
    def status(self) -> str:
        if self.failed:
            return "partial" if self.completed else "failed"
        return "complete"

    @property
    def exit_code(self) -> int:
        return {"complete": 0, "partial": 1, "failed": 2}[self.status]


class SuiteRunner:
    def __init__(
        self,
        spark: SparkSession,
        suite: ConstraintSuite,
        output_root: str,
        vocab_dfs: dict[str, DataFrame] | None = None,
    ):
        self.spark = spark
        self.suite = suite
        self.output_root = output_root
        self.evaluator = SuiteEvaluator(spark, suite, vocab_dfs)
        self.manifest = CheckpointManifest(os.path.join(output_root, "manifest.json"))

    @property
    def results_path(self) -> str:
        return os.path.join(self.output_root, "results")

    @property
    def violations_path(self) -> str:
        return os.path.join(self.output_root, "violations")

    # ------------------------------------------------------------------
    def _partition_values(self, df: DataFrame) -> list:
        col = self.suite.partition_col
        return sorted(
            r[col] for r in df.select(col).distinct().collect()
        )

    def _partition_id(self, value) -> str:
        return self.suite.partition_fmt % value

    def _stamp(self, df: DataFrame, run_id: str) -> DataFrame:
        return df.withColumn("run_id", F.lit(run_id)).withColumn(
            "evaluated_at", F.current_timestamp()
        )

    def _write(self, df: DataFrame, path: str) -> None:
        # partitionOverwriteMode=dynamic (session conf): only the
        # partition_id directories present in `df` are replaced -> reruns
        # are idempotent per partition.
        (
            df.write.mode("overwrite")
            .partitionBy("partition_id")
            .parquet(path)
        )

    # ------------------------------------------------------------------
    def run(
        self,
        df: DataFrame,
        ref_df: DataFrame | None = None,
        snapshot_id: int = 0,
        run_id: str | None = None,
        wave_size: int | None = None,
        with_violations: bool = True,
    ) -> RunSummary:
        t0 = time.time()
        run_id = run_id or uuid.uuid4().hex[:12]
        suite_hash = self.suite.suite_hash()
        summary = RunSummary(run_id=run_id, snapshot_id=snapshot_id,
                             suite_hash=suite_hash)

        if self.manifest.has_drift(suite_hash):
            log.warning(
                "checkpoint manifest contains entries for a different "
                "suite_hash — config drift detected; completed work under "
                "the old config is NOT reused (refuse-on-drift semantics)"
            )

        # physical-strategy decisions (digest-vs-direct probes) cached by
        # (snapshot, suite_hash): a rerun of the same snapshot reuses the
        # measured choice instead of re-running the probe job
        self.evaluator.strategy_cache = self.manifest.strategy_decisions(
            snapshot_id, suite_hash)

        # reference-side aggregates (round-6 verdict item 1): the ref
        # snapshot is immutable between advances, so its per-partition
        # drift aggregates are landed under the output root on first
        # run and read back on rerun (zero ref-side scan jobs). Scoped
        # like everything else by (snapshot, suite_hash) — plus the
        # wave's partition set, baked in below — and directories of
        # OTHER (snapshot, suite) scopes are pruned here: a snapshot
        # advance physically invalidates the previous cache.
        ref_aggs_root = os.path.join(self.output_root, "ref_aggs")
        scope = f"snap={snapshot_id}_{suite_hash[:12]}"
        if os.path.isdir(ref_aggs_root):
            for d in os.listdir(ref_aggs_root):
                if d != scope:
                    shutil.rmtree(os.path.join(ref_aggs_root, d),
                                  ignore_errors=True)

        all_parts = self._partition_values(df)
        done = self.manifest.completed_partitions(snapshot_id, suite_hash)
        pending = [p for p in all_parts if self._partition_id(p) not in done]
        summary.skipped = [self._partition_id(p) for p in all_parts
                           if self._partition_id(p) in done]

        if not pending:
            summary.wall_seconds = time.time() - t0
            return summary

        waves: list[list]
        if wave_size is None or wave_size >= len(pending):
            waves = [pending]
        else:
            waves = [pending[i:i + wave_size]
                     for i in range(0, len(pending), wave_size)]

        pcol = self.suite.partition_col
        # the RefAggCache is scoped to one wave of this run: disarm it on
        # every exit so a later evaluate() outside run() (or a crash
        # mid-wave) never reads or writes a stale wave directory
        try:
            for wave in waves:
                sub = df.where(F.col(pcol).isin(wave))
                sub_ref = (ref_df.where(F.col(pcol).isin(wave))
                           if ref_df is not None else None)
                pids = [self._partition_id(p) for p in wave]
                if ref_df is not None:
                    from chronominer_spark.checkpoint import RefAggCache
                    wave_key = hashlib.sha1(
                        repr(sorted(pids)).encode()).hexdigest()[:12]
                    self.evaluator.ref_agg_cache = RefAggCache(
                        self.spark,
                        os.path.join(ref_aggs_root, scope, f"wave={wave_key}"))
                res, vio = self.evaluator.evaluate(
                    sub, sub_ref, snapshot_id=snapshot_id,
                    with_violations=with_violations,
                )
                self.manifest.save_strategy_decisions(
                    snapshot_id, suite_hash, self.evaluator.strategy_cache)
                # results are written BEFORE violations on purpose: the
                # first job populates the evaluator's persisted shares and
                # the second reads them from cache.
                self._write(self._stamp(res, run_id), self.results_path)
                if with_violations:
                    # dynamic partition overwrite only replaces partition dirs
                    # PRESENT in the frame: a re-validated partition that now
                    # has zero violations would leave its old violation files
                    # behind. A sentinel row per wave partition forces every
                    # wave partition dir to be rewritten; readers drop it.
                    vio = vio.unionByName(
                        self._violation_sentinels(vio, pids, snapshot_id)
                    )
                    self._write(self._stamp(vio, run_id), self.violations_path)
                self.evaluator.unpersist_all()
                self.manifest.mark_completed(
                    pids, snapshot_id, suite_hash, run_id)
                summary.completed.extend(pids)
        finally:
            self.evaluator.ref_agg_cache = None

        res_run = self.results(run_only=run_id)
        counted = (
            res_run.where(F.col("constraint_id").startswith("not_null:"))
            .groupBy("constraint_id").agg(F.sum("rows_checked").alias("n"))
            .agg(F.max("n")).collect()[0][0]
        )
        if counted is None:
            # suites without a not_null constraint: fall back to the
            # largest per-constraint row count instead of reporting 0
            counted = (
                res_run.groupBy("constraint_id")
                .agg(F.sum("rows_checked").alias("n"))
                .agg(F.max("n")).collect()[0][0]
            )
        summary.rows_validated = counted or 0
        summary.wall_seconds = time.time() - t0
        return summary

    VIOLATION_SENTINEL = "__no_violations__"

    def _violation_sentinels(
        self, vio: DataFrame, pids: list[str], snapshot_id: int
    ) -> DataFrame:
        base = self.spark.createDataFrame(
            [(p,) for p in pids], "partition_id string"
        )
        cols = []
        for f in vio.schema.fields:
            if f.name == "partition_id":
                cols.append(F.col("partition_id"))
            elif f.name == "constraint_id":
                cols.append(F.lit(self.VIOLATION_SENTINEL).alias("constraint_id"))
            elif f.name == "snapshot_id":
                cols.append(F.lit(snapshot_id).cast(f.dataType).alias(f.name))
            else:
                cols.append(F.lit(None).cast(f.dataType).alias(f.name))
        return base.select(*cols)

    # ------------------------------------------------------------------
    def results(self, run_only: str | None = None) -> DataFrame:
        df = self.spark.read.parquet(self.results_path)
        return df.where(F.col("run_id") == run_only) if run_only else df

    def violations(self, run_only: str | None = None) -> DataFrame:
        df = self.spark.read.parquet(self.violations_path).where(
            F.col("constraint_id") != self.VIOLATION_SENTINEL
        )
        return df.where(F.col("run_id") == run_only) if run_only else df

    def export(
        self, path: str, fmt: str = "csv", run_only: str | None = None,
        bom: bool = False,
    ) -> None:
        """Materialize results + violations as typed CSV or JSONL under
        ``path`` (S6 sinks: nullable-int repair, empty-cell nulls).
        ``run_only`` scopes BOTH datasets to one run — otherwise an
        export could pair one run's results with violation rows left by
        whichever runs last wrote each partition."""
        from chronominer_spark.sources.sinks import write_csv, write_jsonl

        import os as _os
        res = self.results(run_only=run_only)
        vio = self.violations(run_only=run_only)
        if fmt == "csv":
            write_csv(res, _os.path.join(path, "results"), bom=bom)
            write_csv(vio, _os.path.join(path, "violations"), bom=bom)
        elif fmt == "jsonl":
            write_jsonl(res, _os.path.join(path, "results"))
            write_jsonl(vio, _os.path.join(path, "violations"))
        elif fmt == "markdown":
            # human-readable single-file report (the reference's
            # Markdown metrics rendering, eval/metrics.py:677-746)
            from chronominer_spark.reporting import render_markdown_report

            _os.makedirs(path, exist_ok=True)
            md = render_markdown_report(res, vio)
            with open(_os.path.join(path, "report.md"), "w",
                      encoding="utf-8") as f:
                f.write(md)
        else:
            raise ValueError(f"unknown export format: {fmt!r}")
