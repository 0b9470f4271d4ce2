"""Benchmark entry point.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Runs one workload from the checkout this file sits in, checks its
outputs, and prints one JSON object as the last line of standard
output: ``correct``, ``attempted``, ``failed`` and ``metrics`` (the
end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``).  See README.md for the workloads and metrics.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, BENCH_DIR)
sys.path.insert(1, os.path.dirname(BENCH_DIR))

WORKLOADS = ("offline_batch", "online_serving")


def units() -> dict[str, str]:
    """Every metric's unit, as ``BENCHMARK.json`` declares it."""
    with open(os.path.join(os.path.dirname(BENCH_DIR), "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument(
        "--scale", type=float, default=1.0,
        help="table size relative to sf0.1 (the smoke tests use 0.1)",
    )
    args = ap.parse_args(argv)
    unit = units()

    # fail before any set-up when the program is not beside the benchmark
    import feast_spark  # noqa: F401

    import harness
    import spans as tracing

    if args.workload == "offline_batch":
        from w_batch import Batch as Workload
    else:
        from w_serving import Serving as Workload

    with harness.Run(args.workload, traced=bool(args.trace)) as run:
        tracer = tracing.Tracer() if args.trace else tracing.NullTracer()
        work = Workload(run, args.seed, args.scale, tracer)
        try:
            t0 = time.monotonic()
            work.build()
            setup_s = time.monotonic() - t0
            work.measure(args.seconds)
            # before the checks, whose oracles run in this process
            rss = run.peak_rss_mb()
            metrics = work.report()
            metrics["setup_s"] = setup_s
            metrics["peak_rss_mb"] = rss["python"] + rss["jvm"]
            if args.trace:
                metrics = tracer.layer_metrics(work)
                tracer.write(os.path.join(
                    harness.CHECKOUT, ".perfbench_spans",
                    f"{args.workload}-{args.seed}.jsonl",
                ))
        finally:
            work.close()
        settings = harness.spark_settings(run.root)
    print(json.dumps({
        "workload": args.workload,
        "seed": args.seed,
        "spark": {k: settings[k] for k in (
            "spark.master", "spark.driver.memory", "spark.sql.shuffle.partitions"
        )},
        "setup": work.setup,
        "peak_rss_mb": rss,
        "samples": getattr(work, "samples", {}),
        "failures": work.failures[:20],
    }))
    print(json.dumps({
        "correct": work.failed == 0,
        "attempted": work.attempted,
        "failed": work.failed,
        "metrics": {
            k: {"value": float(v), "unit": unit[k]}
            for k, v in sorted(metrics.items())
        },
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
