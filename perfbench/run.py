"""Benchmark harness for mhtml_to_html_spark.

    python3 perfbench/run.py --workload crawl|images --seed N \
        --seconds S --trace 0|1

Starts one Spark session on local[<cores>], builds the workload's inputs
from the seed, computes the reference without Spark, warms up with a
fixed number of untimed calls, then drives the workload's public entry
point in a closed loop for about S seconds (one client; the next call
starts when the previous returns, and only while the loop is short of S
by more than half a mean call). The rate and CPU per item are medians
over the timed calls. Every call is checked against the reference.
``setup_s`` is session start + storing the inputs + the warm-up; the
reference is timed apart.

The last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0``
the metrics are the end-to-end ones; with ``--trace 1`` they are the
per-layer ones, and a trace file is written under ``.perfbench/traces``.
Everything the run writes stays under ``.perfbench`` in the checkout.
"""

from __future__ import annotations

import argparse
import json
import shutil
import sys
import time

import harness
from harness import log


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    shutil.rmtree(harness.WORK, ignore_errors=True)
    harness.isolate_environment()
    try:
        import mhtml_to_html_spark  # noqa: F401
    except ImportError as exc:
        log(f"cannot import the package under test: {exc}")
        return 2
    import workloads

    if args.workload not in workloads.WORKLOADS:
        log(f"unknown workload {args.workload!r}")
        return 2

    calls: list[dict] = []
    started = time.time()
    t0 = time.perf_counter()
    spark = harness.start_spark()
    try:
        session_s = time.perf_counter() - t0
        t = time.perf_counter()
        workload = workloads.WORKLOADS[args.workload](spark, args.seed, harness.WORK)
        workload.prepare(harness.CORES)
        inputs_s = time.perf_counter() - t
        t = time.perf_counter()
        workload.reference(harness.CORES)
        reference_s = time.perf_counter() - t
        t = time.perf_counter()
        for warm in workload.warmups():
            harness.call_once(warm, calls, "warm")
        warm_s = time.perf_counter() - t
        setup = {"session_s": session_s, "inputs_s": inputs_s,
                 "reference_s": reference_s, "warm_s": warm_s}
        log(f"setup {json.dumps(setup)}")
        setup["started"] = started

        loop = harness.closed_loop(workload, args.seconds, calls, "timed")
        correct = all(c["ok"] for c in calls)
        attempted, failed = loop["attempted"], loop["failed"]
        if args.trace:
            import layers

            result = layers.traced_run(spark, workload, args, setup, loop, calls)
            correct = correct and result.pop("correct")
            attempted += result.pop("attempted")
            failed += result.pop("failed")
            metrics = result["metrics"]
        else:
            setup_s = session_s + inputs_s + warm_s
            metrics = {
                "setup_s": {"value": setup_s, "unit": "s"},
                "items_per_s": {"value": loop["items_per_s"], "unit": "1/s"},
                "cpu_ms_per_item": {"value": loop["cpu_ms_per_item"], "unit": "ms"},
                "worker_rss_mb": {"value": loop["worker_rss_mb"], "unit": "MB"},
            }
            print(
                f"{args.workload}: setup_s={setup_s:.3f} s  "
                f"items_per_s={loop['items_per_s']:.2f} 1/s ({workload.item})  "
                f"cpu_ms_per_item={loop['cpu_ms_per_item']:.3f} ms  "
                f"failed_ratio={failed / attempted:.4f} (calls)  "
                f"worker_rss_mb={loop['worker_rss_mb']:.1f} MB",
                flush=True,
            )
        print("calls " + json.dumps([
            {k: (round(v, 4) if isinstance(v, float) else v) for k, v in c.items()}
            for c in calls
        ]), flush=True)
    finally:
        harness.stop_spark(spark)
        shutil.rmtree(harness.WORK, ignore_errors=True)

    print(json.dumps({
        "correct": bool(correct),
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
