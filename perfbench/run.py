#!/usr/bin/env python3
"""Benchmark driver for s2geo_spark.

    python3 perfbench/run.py --workload flagship --seed 42 --seconds 10 --trace 0

Runs one workload (see perfbench/README.md) in a fresh local Spark session,
checks every operation's output, and prints as its last stdout line one JSON
object: {"correct", "attempted", "failed", "metrics"}. With --trace 0 the
metrics are the end-to-end ones; with --trace 1 the per-layer ones. The line
before it is the detailed record (sample counts, set-up parts, host notes);
the same record, with the trace spans, is written under .perfbench/results/.
"""

from __future__ import annotations

import time

T0 = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402
from concurrent.futures import ThreadPoolExecutor  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=42)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "s2geo_spark", "__init__.py")):
        print(f"perfbench: no s2geo_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench import harness, workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".perfbench", f"{args.workload}-s{args.seed}-{os.getpid()}")
    harness.prepare_env(work)
    make_inputs, run_workload = workloads.WORKLOADS[args.workload]
    try:
        # inputs need no Spark: generate them while the JVM starts
        with ThreadPoolExecutor(1) as pool:
            pending = pool.submit(make_inputs, work, args.seed)
            spark = harness.start_spark(work, harness.nproc())
            try:
                t_session = time.perf_counter() - T0
                inputs = pending.result()
                run = workloads.Run(spark, work, args.seed, args.seconds, bool(args.trace), T0)
                report = run_workload(run, inputs)
            finally:
                harness.stop_spark(spark)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    detail = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "error_rate": run.failed / max(1, run.attempted),
        "failures": run.failures,
        "setup": dict(run.setup, session_s=t_session),
        "host": harness.host_info(),
        **report,
    }
    results = os.path.join(ROOT, ".perfbench", "results")
    os.makedirs(results, exist_ok=True)
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
    with open(os.path.join(results, name), "w") as f:
        json.dump(dict(detail, spans=run.tracer.spans, ops=run.ops), f, default=str)
    print(json.dumps({"perfbench": detail}, default=str))
    print(json.dumps(workloads.result_line(run, report)), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
