"""Benchmark entry point.

    python3 perfbench/run.py --workload backup_chain --seed 1 --seconds 24 --trace 0

Starts Spark as ``local[nproc]`` from the package's own session factory,
builds the workload's inputs from the seed, sets up and warms up, then
measures for ``--seconds`` seconds and checks every output. The last
line of standard output is one JSON object::

    {"correct": true, "attempted": N, "failed": 0, "metrics": {...}}

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` installs the
span tracer (``tracing.py``), writes the spans to
``.bench_work/traces/<workload>-<seed>.jsonl`` and prints the per-layer
metrics. Exits non-zero without a result when the package is missing
or the run breaks.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import traceback

import harness


def parse_args(argv=None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=("backup_chain", "catalog_fleet", "analytics_mix"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tiny", action="store_true", help="self-test input sizes")
    return ap.parse_args(argv)


def run(args: argparse.Namespace) -> dict:
    work = harness.WORK_ROOT / f"{args.workload}-{args.seed}-{os.getpid()}"
    harness.prepare_env(work)

    import metrics
    import workloads
    from tracing import Tracer

    clock = harness.Clock()
    spark = harness.start_spark(work)
    start_s = clock.elapsed()
    harness.log(f"session start: {start_s:.2f} s")
    try:
        tracer = Tracer(spark) if args.trace else None
        size = workloads.TINY if args.tiny else workloads.FULL
        wl = workloads.WORKLOADS[args.workload](spark, work, args.seed, harness.nproc(), size, tracer)
        wl.setup()
        wl.run(args.seconds)
        if tracer is not None:
            values = {
                **tracer.layer_metrics(),
                **wl.workload_metrics(),
                "session.start_s": start_s,
                "session.warmup_s": wl.warmup_s,
                "trace.overhead_ms_p50": wl.tracing_overhead_ms(),
            }
            trace_dir = harness.WORK_ROOT / "traces"
            trace_dir.mkdir(parents=True, exist_ok=True)
            tracer.write(str(trace_dir / f"{args.workload}-{args.seed}.jsonl"))
            shown = metrics.render(values, metrics.PER_LAYER)
        else:
            shown = metrics.render(wl.end_to_end(start_s), metrics.END_TO_END)
        return {
            "correct": wl.failed == 0,
            "attempted": wl.attempted,
            "failed": wl.failed,
            "metrics": shown,
        }
    finally:
        harness.stop_spark(spark)
        workloads.cleanup(work)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not harness.package_present():
        print(f"hbacker_spark package not found under {harness.ROOT}", file=sys.stderr)
        return 2
    try:
        result = run(args)
    except Exception:  # noqa: BLE001 - report and exit non-zero, never print a result
        traceback.print_exc(file=sys.stderr)
        return 1
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
