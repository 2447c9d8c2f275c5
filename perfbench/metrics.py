"""Metric catalogue of the benchmark: names, units and predictions.

``END_TO_END`` are what a user of the engine sees (printed by untraced
runs); ``PER_LAYER`` come from a traced run. Each per-layer entry
records, before any measurement, which end-to-end metric it should move
and on which workload (``-`` where the layer only explains a number).
``BENCHMARK.json`` lists the same names and units; the benchmark's own
tests keep the two in step.
"""

from __future__ import annotations

SV, SF = "snapshot_validate", "stream_fold"
WORKLOADS = (SV, SF)
BOTH = "both"

# name -> (unit, better)
END_TO_END = {
    "setup_s": ("s", "lower"),
    "first_op_s": ("s", "lower"),
    "op_p50_s": ("s", "lower"),
    "turns_per_s": ("1/s", "higher"),
    "peak_rss_mb": ("MB", "lower"),
}

# name -> (unit, better, end-to-end metric it should move, workload)
PER_LAYER = {
    # session: the one set-up of the run
    "session.build_s": ("s", "lower", "setup_s", BOTH),
    "session.first_udf_job_s": ("s", "lower", "setup_s", BOTH),
    # runner: seconds per SuiteRunner.run call (median), self time; the
    # five phases plus unattributed add up to runner.run_s
    "runner.run_s": ("s", "lower", "op_p50_s", SV),
    "runner.discover_s": ("s", "lower", "op_p50_s", SV),
    "runner.evaluate_call_s": ("s", "lower", "op_p50_s", SV),
    "runner.results_write_s": ("s", "lower", "turns_per_s", SV),
    "runner.violations_write_s": ("s", "lower", "turns_per_s", SV),
    "runner.readback_s": ("s", "lower", "op_p50_s", SV),
    "runner.unattributed_s": ("s", "lower", "op_p50_s", SV),
    # runner and checkpoint: the resumed run of the crash-and-resume cycle
    # in a traced stream_fold run (neither workload's ops reach them)
    "runner.waves": ("count", "lower", "-", SF),
    "runner.partitions_skipped": ("count", "higher", "-", SF),
    "checkpoint.manifest_commit_s": ("s", "lower", "-", SF),
    "checkpoint.refagg_save_s": ("s", "lower", "-", SF),
    "checkpoint.refagg_hits": ("count", "higher", "-", SF),
    "checkpoint.refagg_misses": ("count", "lower", "-", SF),
    "checkpoint.strategy_cache_hits": ("count", "higher", "-", SF),
    "checkpoint.resume_s": ("s", "lower", "-", SF),
    # constraints.engine: one family alone, noop sink
    "engine.row_checks_s": ("s", "lower", "turns_per_s", SV),
    "engine.unique_s": ("s", "lower", "turns_per_s", SV),
    "engine.referential_dim_s": ("s", "lower", "turns_per_s", SV),
    "engine.group_stats_s": ("s", "lower", "turns_per_s", SV),
    "engine.equality_direct_s": ("s", "lower", "turns_per_s", SV),
    "engine.equality_digest_s": ("s", "lower", "-", SV),
    "engine.drift_s": ("s", "lower", "op_p50_s", SV),
    # functions.text: kernel on in-memory batches, no Spark
    "text.norm_hash64_rows_per_s": ("1/s", "higher", "turns_per_s", SV),
    # Spark execution: event-log totals per op
    "spark.jobs": ("count", "lower", "op_p50_s", BOTH),
    "spark.tasks": ("count", "lower", "op_p50_s", BOTH),
    "spark.busy_ratio": ("ratio", "higher", "op_p50_s", BOTH),
    "spark.task_run_s": ("s", "lower", "turns_per_s", SV),
    "spark.task_cpu_s": ("s", "lower", "turns_per_s", SV),
    "spark.task_noncpu_s": ("s", "lower", "turns_per_s", SV),
    "spark.gc_s": ("s", "lower", "peak_rss_mb", BOTH),
    "spark.shuffle_write_bytes": ("bytes", "lower", "turns_per_s", SV),
    "spark.shuffle_read_bytes": ("bytes", "lower", "turns_per_s", SV),
    "spark.input_bytes": ("bytes", "lower", "turns_per_s", SV),
    "spark.spill_bytes": ("bytes", "lower", "peak_rss_mb", BOTH),
    "spark.exchanges": ("count", "lower", "turns_per_s", SV),
    # streaming + tables: seconds per micro-batch (median)
    "streaming.exact_dedup.batch_s": ("s", "lower", "op_p50_s", SF),
    "streaming.tdigest.batch_s": ("s", "lower", "op_p50_s", SF),
    "streaming.near_dup.batch_s": ("s", "lower", "op_p50_s", SF),
    "tables.commit_s": ("s", "lower", "op_p50_s", SF),
    "tables.snapshots_list_s": ("s", "lower", "op_p50_s", SF),
    "streaming.state_bytes": ("bytes", "lower", "peak_rss_mb", SF),
    "streaming.near_dup.candidate_pairs": ("count", "lower", "peak_rss_mb",
                                           SF),
    # operators: the batch twins over the concatenated micro-batches
    "operators.exact_dedup_s": ("s", "lower", "-", SF),
    "operators.lsh_pairs_s": ("s", "lower", "-", SF),
    # tracing itself: compare with the untraced op_p50_s
    "trace.op_p50_s": ("s", "lower", "-", BOTH),
}
