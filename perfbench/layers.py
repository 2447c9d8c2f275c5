"""Per-layer numbers of a traced run.

Runner, streaming and table numbers are medians per op of span time
(self time, except for runner phases and a twin's whole batch). Checkpoint numbers
come from the one crash-and-resume cycle of a traced ``stream_fold``
run; engine families, the text kernel and the batch operators are timed
alone after the ops. Spark numbers are event-log totals over the jobs
started inside op spans, per op.
"""

from __future__ import annotations

import glob
import os

import eventlog
import host
from tracing import median
from workloads import text_kernel_rows_per_s

RUNNER_PHASES = ("discover", "evaluate_call", "results_write",
                 "violations_write", "readback")


def traced_extras(wl, tracer) -> dict:
    """The traced-only part of a workload: what its ops do not time on
    their own."""
    if wl.name == "snapshot_validate":
        wl.families(tracer)
        return {"text_rows_per_s": text_kernel_rows_per_s(
            [os.path.join(wl.data, "cur")])}
    out = {"text_rows_per_s": text_kernel_rows_per_s(wl.batches),
           "state_bytes": wl.state_bytes(),
           "candidate_pairs": wl.candidate_pairs()}
    # the checkpoint layer is reached by neither workload's ops; its
    # cycle runs here, where the traced run has time to spare
    with tracer.span("checkpoint.cycle") as cycle:
        wl.crash_and_resume(tracer)
    out["cycle"] = cycle
    return out


def _spark(tracer, roots, walls, log_dir) -> dict:
    (path,) = glob.glob(os.path.join(log_dir, "*"))
    log = eventlog.parse_event_log(path)
    groups = {f"pb:{d.id}" for r in roots for d in tracer.descendants(r)}
    t = eventlog.totals(log, groups)
    n = len(roots)
    return {
        "spark.jobs": t["jobs"] / n,
        "spark.tasks": t["tasks"] / n,
        "spark.busy_ratio": t["run_s"] / (sum(walls) * host.cores()),
        "spark.task_run_s": t["run_s"] / n,
        "spark.task_cpu_s": t["cpu_s"] / n,
        "spark.task_noncpu_s": (t["run_s"] - t["cpu_s"]) / n,
        "spark.gc_s": t["gc_s"] / n,
        "spark.shuffle_write_bytes": t["shuffle_write"] / n,
        "spark.shuffle_read_bytes": t["shuffle_read"] / n,
        "spark.input_bytes": t["input"] / n,
        "spark.spill_bytes": t["spill"] / n,
        "spark.exchanges": t["exchanges_per_plan"],
    }


def per_layer(name, tracer, loop, setup, extra, log_dir) -> dict:
    """Every metric of ``metrics.PER_LAYER``; the layers this workload
    does not reach, or a traced part that failed, read 0."""
    from metrics import PER_LAYER

    roots = loop["roots"]
    out = dict.fromkeys(PER_LAYER, 0.0)
    out["session.build_s"], out["session.first_udf_job_s"] = setup
    out["trace.op_p50_s"] = median(loop["walls"][1:] or loop["walls"])
    out["text.norm_hash64_rows_per_s"] = extra.get("text_rows_per_s", 0.0)
    out.update(_spark(tracer, roots, loop["walls"], log_dir))

    def per_op(name):
        return median(tracer.self_per_root(roots, name))

    def one(name):
        spans = tracer.named(name)
        return spans[0].seconds if spans else 0.0

    if name == "snapshot_validate":
        # phases in inclusive time (checkpoint spans nest inside them),
        # so they and the run's self time add up to its wall
        for phase in RUNNER_PHASES:
            out[f"runner.{phase}_s"] = median(
                sum(s.seconds for s in tracer.named(f"runner.{phase}", r))
                for r in roots)
        out["runner.unattributed_s"] = per_op("runner.run")
        out["runner.run_s"] = median(
            s.seconds for r in roots for s in tracer.named("runner.run", r))
        for fam in ("row_checks", "unique", "referential_dim",
                    "group_stats", "equality_direct", "equality_digest",
                    "drift"):
            out[f"engine.{fam}_s"] = one(f"engine.{fam}")
    else:
        for twin in ("exact_dedup", "tdigest", "near_dup"):
            out[f"streaming.{twin}.batch_s"] = median(
                s.seconds for r in roots
                for s in tracer.named(f"streaming.{twin}.batch", r))
        out["tables.commit_s"] = per_op("tables.commit")
        out["tables.snapshots_list_s"] = per_op("tables.snapshots_list")
        out["streaming.state_bytes"] = extra.get("state_bytes", 0)
        out["streaming.near_dup.candidate_pairs"] = extra.get(
            "candidate_pairs", 0)
        out["operators.exact_dedup_s"] = one("operators.exact_dedup")
        out["operators.lsh_pairs_s"] = one("operators.lsh_pairs")
    if "cycle" in extra:
        resume = tracer.named("checkpoint.resume", extra["cycle"])[0]
        run = tracer.named("runner.run", resume)[0]
        loads = tracer.named("checkpoint.refagg_load", resume)
        st = tracer.self_times()
        out.update({
            "runner.waves": len(tracer.named("runner.evaluate_call", run)),
            "runner.partitions_skipped": run.attrs["skipped"],
            "checkpoint.manifest_commit_s": sum(
                st[s.id] for s in tracer.named(
                    "checkpoint.manifest_commit", resume)),
            "checkpoint.refagg_save_s": sum(
                st[s.id] for s in tracer.named(
                    "checkpoint.refagg_save", resume)),
            "checkpoint.refagg_hits": sum(s.attrs["hit"] for s in loads),
            "checkpoint.refagg_misses": sum(not s.attrs["hit"]
                                            for s in loads),
            "checkpoint.strategy_cache_hits":
                run.attrs["strategy_cache_hits"],
            "checkpoint.resume_s": resume.seconds,
        })
    return out
