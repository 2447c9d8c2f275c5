"""Structured-Streaming incremental validation of a constraint suite.

The stream runs the batch engine, not a restated copy: every micro-batch
is evaluated by :class:`~chronominer_spark.constraints.engine.SuiteEvaluator`
and its per-(partition, constraint) counts fold into durable state
through :class:`~chronominer_spark.streaming.dedup_stream.MergeableStateFold`.
Counts add, so any merge tree of the batches gives the batch answer
(mergeable summaries, Agarwal et al. 2012).

The reference's streaming-shaped mechanisms (SURVEY.md §2.9) map to:

- bounded-queue producer/consumer with constant memory (ST1,
  ``/root/reference/modules/extract/processing_strategy.py:880-981``)
  -> micro-batch flow control (``maxFilesPerTrigger``; Arrow batch
  iterators inside ``mapInPandas`` are already bounded);
- re-pass loop over pending units (ST3, ``modules/extract/
  file_processor.py:1099-1161``) -> ``Trigger.AvailableNow`` repeated
  passes over one streaming checkpoint;
- idempotent finalization (ST6, ``main/check_batches.py:145-176``)
  -> the fold's snapshot-log replay guard: a batch id already
  committed is skipped.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from chronominer_spark.constraints.engine import (
    ROW_LEVEL_KINDS,
    SuiteEvaluator,
    _result_rows,
)
from chronominer_spark.constraints.spec import ConstraintSuite
from chronominer_spark.streaming.dedup_stream import (
    MergeableStateFold,
    StreamFoldBase,
)


class IncrementalSuiteValidation(MergeableStateFold):
    """Streaming twin of the row-level constraint families: a suite's
    per-partition results maintained across micro-batches.

    Each batch's partial is the batch engine's own results frame
    (``SuiteEvaluator.evaluate``) reduced to ``rows_checked``,
    ``violation_count`` and ``threshold`` per ``(partition_id,
    constraint_id)``; the fold sums the two counts. :meth:`result`
    rebuilds ``observed`` and ``passed`` with the engine's results
    helper, so after any batch split the rows equal ``evaluate`` over
    the concatenated input. Only row-level kinds qualify: the other
    families' results (uniqueness, drift, statistics) do not add
    across batches. Commit/replay/bucket mechanics from
    :class:`MergeableStateFold`."""

    OP_PREFIX = "suite"

    def __init__(self, spark: SparkSession, state_root: str,
                 suite: ConstraintSuite,
                 vocab_dfs: dict[str, DataFrame] | None = None):
        not_additive = sorted({c.kind for c in suite.constraints}
                              - ROW_LEVEL_KINDS)
        if not_additive:
            raise ValueError(
                f"suite {suite.name!r} has kinds {not_additive} whose "
                "results do not add across micro-batches; the stream "
                f"folds only {sorted(ROW_LEVEL_KINDS)}")
        super().__init__(spark, state_root, ["partition_id", "constraint_id"])
        self.evaluator = SuiteEvaluator(spark, suite, vocab_dfs)

    def _partial(self, batch_df: DataFrame) -> DataFrame:
        res, _ = self.evaluator.evaluate(batch_df, with_violations=False)
        return res.select(*self.key_cols, "threshold",
                          "rows_checked", "violation_count")

    def _merge_exprs(self) -> list[Column]:
        return [F.first("threshold").alias("threshold"),
                F.sum("rows_checked").alias("rows_checked"),
                F.sum("violation_count").alias("violation_count")]

    def result(self) -> DataFrame:
        """Per-(partition, constraint) results over everything ingested
        so far: the engine's results columns minus ``snapshot_id``."""
        return _result_rows(
            self.table.read().withColumnRenamed("partition_id", "_pid"),
            F.col("constraint_id"),
            F.col("violation_count") / F.col("rows_checked"),
            F.col("threshold"),
        )


def incremental_validation_query(
    spark: SparkSession,
    source_dir: str,
    schema,
    twin: StreamFoldBase,
    checkpoint_path: str,
) -> StreamingQuery:
    """Fold every file under ``source_dir`` into ``twin``, one file per
    micro-batch (``maxFilesPerTrigger=1``). The query drains what is
    available now and terminates; a later call with the same checkpoint
    folds only files added since."""
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(source_dir)
    )
    return twin.attach(stream, checkpoint_path)


def run_available_now_pass(
    spark: SparkSession,
    source_dir: str,
    schema,
    suite: ConstraintSuite,
    state_root: str,
    checkpoint_path: str,
) -> IncrementalSuiteValidation:
    """One synchronous validation pass: fold every file currently in
    ``source_dir`` into the suite's state at ``state_root`` and return
    the twin. Repeated calls with the same checkpoint resume where the
    previous pass stopped."""
    twin = IncrementalSuiteValidation(spark, state_root, suite)
    incremental_validation_query(
        spark, source_dir, schema, twin, checkpoint_path).awaitTermination()
    return twin
