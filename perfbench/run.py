"""Benchmark of the chronominer_spark validation engine.

Run from the root of a checkout::

    python3 perfbench/run.py --workload snapshot_validate --seed 1 \\
        --seconds 10 --trace 0

One process, one client, closed loop: each op starts after the previous
one ends, on ``local[min(nproc, 4)]``. The run sets the session up once
(``setup_s``: session build plus the first pandas-UDF job, the cost a
user pays per process), makes its inputs from the seed (cached under
``.perfbench/``, outside every timed window), then
runs ops until ``--seconds`` have passed (``stream_fold``: until the
stream in progress ends; a ``snapshot_validate`` op outlasts
``--seconds``, so its run is one cold op, the latency of certifying a
snapshot in a fresh process). Every op's output
is gated (pins, cross-checks, see ``workloads.py``); a failed gate or a
raised op counts as failed. Each run appends its host-health stamp
(``bench._host_health``) and result to ``.perfbench/runs.jsonl``, so a
draw taken on a degraded host is labelled.

``--trace 0`` prints the end-to-end metrics of ``metrics.END_TO_END``;
``--trace 1`` runs the same ops with spans, then the traced-only parts,
and prints every metric of ``metrics.PER_LAYER`` (layers a workload
does not reach read 0). The last stdout line is the JSON result.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import tempfile
import time
import traceback
import uuid

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import host  # noqa: E402
import layers  # noqa: E402
import metrics as M  # noqa: E402
from tracing import NullTracer, Tracer, class_wrappers, median  # noqa: E402
from workloads import SCALES, WORKLOADS, GateError  # noqa: E402

def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=M.WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=("bench", "tiny"), default="bench",
                    help="input sizes; tiny is for the benchmark's tests")
    return ap.parse_args(argv)


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def run_ops(wl, tracer, seconds: float) -> dict:
    """The closed loop: ops until ``seconds`` have passed and the stream
    in progress has ended. Returns per-op walls and turns, the op spans,
    and the attempted/failed counts."""
    walls, turns, roots = [], [], []
    attempted = failed = 0
    t_end = time.perf_counter() + seconds
    i = 0
    while i == 0 or time.perf_counter() < t_end or i % wl.ops_per_stream:
        attempted += 1
        try:
            with tracer.span("op") as root:
                wall, n = wl.op(i, tracer)
            walls.append(wall)
            turns.append(n)
            roots.append(root)
            wl.check(i, tracer)
        except Exception as e:  # an op's failure is counted, not fatal
            failed += e.ops if isinstance(e, GateError) else 1
            log(f"op {i} failed: {e!r}")
            if not isinstance(e, GateError):
                traceback.print_exc(file=sys.stderr)
        i += 1
    return {"walls": walls, "turns": turns, "roots": roots,
            "attempted": attempted, "failed": min(failed, attempted)}


def end_to_end(setup_s, loop, peak_mb) -> dict:
    # the first op is the cold one; a run of one op (a snapshot_validate
    # op outlasts --seconds) reports it as its median too
    warm_w = loop["walls"][1:] or loop["walls"]
    warm_n = loop["turns"][1:] or loop["turns"]
    return {
        "setup_s": setup_s,
        "first_op_s": loop["walls"][0],
        "op_p50_s": median(warm_w),
        "turns_per_s": sum(warm_n) / sum(warm_w),
        "peak_rss_mb": peak_mb,
    }


def main(argv=None) -> int:
    args = parse_args(argv)
    root = os.getcwd()
    if not (os.path.isfile(os.path.join(root, "chronominer_spark",
                                        "__init__.py"))
            and os.path.isfile(os.path.join(root, "bench.py"))):
        log("run from the root of a chronominer_spark checkout")
        return 2
    host.export_pythonpath(root)
    work = os.path.join(root, ".perfbench")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tempfile.tempdir = tmp
    with open(os.path.join(HERE, "pins.json"), encoding="utf-8") as f:
        pins = json.load(f)

    t_start = time.perf_counter()
    health = host.host_health()
    log(f"host health ({time.perf_counter() - t_start:.1f}s): "
        f"{json.dumps(health)}")
    run_id = uuid.uuid4().hex[:12]
    event_dir = os.path.join(work, "trace", run_id) if args.trace else None
    spark, build_s, udf_s = host.set_up(
        work, os.path.join(event_dir, "events") if event_dir else None)
    tracer = Tracer(run_id, spark.sparkContext) if args.trace \
        else NullTracer()
    wl = WORKLOADS[args.workload](spark, work, args.seed,
                                  SCALES[args.scale][args.workload], pins)
    t0 = time.perf_counter()
    wl.prepare()
    log(f"set-up {build_s:.2f}s + {udf_s:.2f}s, "
        f"inputs ready in {time.perf_counter() - t0:.1f}s")

    try:
        with host.PeakRss() as mem, class_wrappers(tracer):
            t0 = time.perf_counter()
            loop = run_ops(wl, tracer, args.seconds)
            log(f"loop {time.perf_counter() - t0:.1f}s")
            extra = {}
            if args.trace:
                try:
                    extra = layers.traced_extras(wl, tracer)
                except Exception as e:  # a failed cross-check fails the run
                    loop["failed"] += 1
                    loop["attempted"] += 1
                    log(f"traced part failed: {e!r}")
                    traceback.print_exc(file=sys.stderr)
    finally:
        host.tear_down(spark)

    if not loop["walls"]:
        log("no op completed")
        return 1
    if args.trace:
        tracer.write(os.path.join(event_dir, "spans.jsonl"))
        values = layers.per_layer(wl.name, tracer, loop, (build_s, udf_s),
                                  extra, os.path.join(event_dir, "events"))
        catalogue = M.PER_LAYER
    else:
        values = end_to_end(build_s + udf_s, loop, mem.peak_mb)
        catalogue = M.END_TO_END
    log(f"ops {loop['attempted']} failed {loop['failed']} "
        f"health {health['status']} walls "
        f"{[round(w, 3) for w in loop['walls']]} "
        f"run {time.perf_counter() - t_start:.1f}s")
    result = {
        "correct": loop["failed"] == 0,
        "attempted": loop["attempted"],
        "failed": loop["failed"],
        "metrics": {k: {"value": float(values[k]), "unit": spec[0]}
                    for k, spec in catalogue.items()},
    }
    with open(os.path.join(work, "runs.jsonl"), "a", encoding="utf-8") as f:
        f.write(json.dumps({"workload": args.workload, "seed": args.seed,
                            "trace": args.trace, "scale": args.scale,
                            "host_health": health, **result}) + "\n")
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
