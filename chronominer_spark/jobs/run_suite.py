"""spark-submit entry point: run a constraint suite over a transcripts
table with checkpoint resume.

Usage (cluster)::

    spark-submit --py-files chronominer_spark.zip \
        chronominer_spark/jobs/run_suite.py \
        --table /data/transcripts --ref /data/transcripts_ref \
        --output /data/validation_out [--snapshot N] [--wave-size K]

Usage (sandbox, synthetic data)::

    python -m chronominer_spark.jobs.run_suite --synthetic 1000000 \
        --output /tmp/cm_out

Exit codes mirror the reference's contract
(``/root/reference/main/process_text_files.py:1239-1295``):
0 complete, 1 partial, 2 failed; 3 = ``--fail-on-regression`` tripped
(the run itself completed but a verdict regressed vs ``--diff-prev``).
Precedence: 2 beats 3 — a FAILED run keeps exit 2 even when it also
regressed, so the harder signal is never masked; only complete/partial
runs (0/1) escalate to 3. An unreadable ``--diff-prev`` path is a
clean exit-64 usage error (EX_USAGE), never a traceback — and never
exit 2, which is reserved for real data failures; it is checked before
the run, so it writes no results and no manifest.
"""

from __future__ import annotations

import argparse
import json
import sys

from pyspark.sql import functions as F


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--table", help="transcripts parquet/snapshot-table path")
    ap.add_argument("--ref", help="reference snapshot path (equality/drift)")
    ap.add_argument("--synthetic", type=int, default=0,
                    help="generate N synthetic turns instead of reading --table")
    ap.add_argument("--output", required=True)
    ap.add_argument("--snapshot", type=int, default=0)
    ap.add_argument("--wave-size", type=int, default=None)
    ap.add_argument("--master", default=None)
    ap.add_argument("--json", action="store_true", help="one-line JSON summary")
    ap.add_argument("--diff-prev", default=None, metavar="RUN_ROOT",
                    help="previous run's output root: report verdict "
                         "transitions (regressed/resolved/...) vs it")
    ap.add_argument("--fail-on-regression", action="store_true",
                    help="with --diff-prev: exit 3 when any (partition, "
                         "constraint) verdict regressed pass -> fail")
    ap.add_argument("--report", default=None, metavar="DIR",
                    help="also export this run's human-readable Markdown "
                         "report (DIR/report.md)")
    args = ap.parse_args(argv)

    from chronominer_spark.constraints.spec import default_transcript_suite
    from chronominer_spark.datagen import (
        ROLE_VOCAB,
        TOOL_VOCAB,
        TranscriptGenConfig,
        generate_reference_snapshot,
        generate_transcripts,
    )
    from chronominer_spark.runner import SuiteRunner
    from chronominer_spark.session import build_session

    spark = build_session("run_suite", master=args.master)

    if args.diff_prev:
        # a usage error, so it is raised before the run writes anything
        from pyspark.errors import AnalysisException
        try:
            prev = spark.read.parquet(f"{args.diff_prev}/results")
        except AnalysisException as e:
            # EX_USAGE (64), NOT 2: exit 2 is reserved for a FAILED
            # validation run, and an orchestrator branching on exit
            # codes must be able to tell a mis-typed path from real
            # data failures (round-5 ADVICE)
            print(f"error: --diff-prev {args.diff_prev!r} has no readable "
                  f"results table ({e.getErrorClass() or e})", file=sys.stderr)
            spark.stop()
            return 64
        # held in memory before the run: --diff-prev may name --output
        # itself, whose result files the run replaces
        prev = prev.localCheckpoint()

    if args.synthetic:
        cfg = TranscriptGenConfig(n_turns=args.synthetic,
                                  n_convs=max(200, args.synthetic // 200))
        # MEMORY_AND_DISK: the suite makes several passes; plain cache()
        # re-runs the generator (incl. its row_number shuffle) on every
        # scan once execution memory evicts it
        from pyspark import StorageLevel
        df = generate_transcripts(spark, cfg) \
            .persist(StorageLevel.MEMORY_AND_DISK)
        ref = generate_reference_snapshot(spark, cfg) \
            .persist(StorageLevel.MEMORY_AND_DISK)
    else:
        if not args.table:
            ap.error("--table or --synthetic required")
        df = spark.read.parquet(args.table)
        ref = spark.read.parquet(args.ref) if args.ref else None

    from chronominer_spark.constraints.engine import REF_REQUIRING_KINDS
    from chronominer_spark.constraints.spec import default_vocab_dfs

    suite = default_transcript_suite(list(ROLE_VOCAB), list(TOOL_VOCAB))
    if ref is None:
        # the engine refuses to silently skip cross-snapshot families
        # (evaluate() raises); a ref-less CLI run subsets the suite
        # EXPLICITLY and says so — the dropped ids go to stderr and the
        # smaller suite changes the checkpoint config fingerprint, so a
        # later ref-ful run cannot silently reuse these results
        dropped = [c.constraint_id for c in suite.constraints
                   if c.kind in REF_REQUIRING_KINDS]
        if dropped:
            print(f"notice: no --ref given; skipping cross-snapshot "
                  f"constraints {dropped}", file=sys.stderr)
            import dataclasses
            suite = dataclasses.replace(
                suite, name=f"{suite.name}_noref",
                constraints=tuple(c for c in suite.constraints
                                  if c.kind not in REF_REQUIRING_KINDS))
    runner = SuiteRunner(spark, suite, args.output,
                         vocab_dfs=default_vocab_dfs(spark, list(TOOL_VOCAB)))
    summary = runner.run(df, ref, snapshot_id=args.snapshot,
                         wave_size=args.wave_size)
    if args.report:
        # a fully-skipped rerun wrote no rows under its own run_id:
        # report the table's current state instead of an empty file
        runner.export(args.report, fmt="markdown",
                      run_only=summary.run_id if summary.completed else None)

    payload = {
        "status": summary.status,
        "run_id": summary.run_id,
        "completed": len(summary.completed),
        "skipped": len(summary.skipped),
        "failed": len(summary.failed),
        "rows_validated": summary.rows_validated,
        "wall_seconds": round(summary.wall_seconds, 2),
        "turns_per_sec": round(
            summary.rows_validated / summary.wall_seconds, 1
        ) if summary.wall_seconds else None,
    }
    exit_code = summary.exit_code
    if args.diff_prev:
        # operational regression gate: classify every (partition,
        # constraint) verdict transition vs a previous run's results
        # (the reference's failed-set reconciliation between retry
        # ledgers, as a results-table diff — O(partitions x constraints))
        from chronominer_spark.reporting import diff_validation_results

        cur = spark.read.parquet(f"{args.output}/results")
        diff = diff_validation_results(prev, cur)
        counts = {r["transition"]: r["n"] for r in
                  diff.groupBy("transition")
                  .agg(F.count(F.lit(1)).alias("n")).collect()}
        payload["diff"] = counts
        regressed = counts.get("regressed", 0)
        if regressed:
            payload["regressed_rows"] = [
                {"partition_id": r["partition_id"],
                 "constraint_id": r["constraint_id"],
                 "violations_cur": r["violations_cur"]}
                for r in diff.where(F.col("transition") == "regressed")
                .orderBy("partition_id", "constraint_id").limit(50).collect()
            ]
            if args.fail_on_regression:
                # never mask a harder failure: a run that FAILED (2)
                # keeps its own code; only complete/partial runs (0/1)
                # escalate to the regression code
                exit_code = 3 if exit_code < 2 else exit_code
    if args.json:
        print(json.dumps(payload))
    else:
        for k, v in payload.items():
            print(f"{k}: {v}")
    spark.stop()
    return exit_code


if __name__ == "__main__":
    sys.exit(main())
