"""The traced run: per-layer metrics, measured from outside the package.

After the untraced timed loop, the same loop runs again with tracing on:
a span per public call, the call's Spark jobs tagged with a job group
and read back from the status store, PySpark's UDF profiler
(``spark.sql.pyspark.udf.profiler=perf``) for Python UDF time, and a
span around every ``SnapshotCatalog.write_snapshot`` (the crawl's round
boundary). Layers the workload leaves idle are then run once each so
every traced run reports every layer: a small checkpointed crawl (when
the workload is not ``crawl``) and one ``stream_crawl_job`` over a
crawl world. Last comes the no-Spark kernel sample. Spans and per-call
drift readings go to one trace file.
"""

from __future__ import annotations

import contextlib
import json
import os
import shutil
import statistics
import time
from datetime import datetime

import harness
import kernels
import procfs
import workloads as wl
from tracing import Tracer, covered

# the crawl world run for the idle frontier / plans layers on images
SWEEP_HOSTS = 30
ENTRY = {
    "crawl": "frontier.crawl_spark",
    "images": "operators.split_archives+extract_images",
}


def _snapshot_mb(span, snapshot_id, args):
    catalog = args[0]
    span["snapshot_mb"] = procfs.dir_mb(
        os.path.join(catalog.root, "snapshots", f"snap_{snapshot_id:06d}")
    )


class Profiled:
    """Context-manager factory: call ``i`` runs in a traced span that
    records its Spark jobs and its Python UDF time from PySpark's perf
    profiler."""

    def __init__(self, tracer: Tracer, spark, name: str):
        self.tracer, self.spark, self.name = tracer, spark, name
        self.spans: list[dict] = []

    @contextlib.contextmanager
    def __call__(self, index: int):
        self.spark.profile.clear()
        with self.tracer.spark_call(self.name, call=f"{self.name}#{index}") as rec:
            yield rec
        rec["udf_s"] = sum(
            st.total_tt for st in self.spark._profiler_collector._perf_profile_results.values()
        )
        self.spans.append(rec)


def _mean(values, default=0.0):
    values = list(values)
    return statistics.fmean(values) if values else default


def frontier_metrics(tracer: Tracer, call_span: dict, result) -> dict:
    """Round boundaries are the ends of the call's write_snapshot spans."""
    snaps = sorted(tracer.children(call_span, "plans.write_snapshot"), key=lambda s: s["start"])
    jobs = tracer.descendants(call_span, "spark.job")
    bounds = [call_span["start"]] + [s["end"] for s in snaps]
    rounds = []
    for lo, hi in zip(bounds, bounds[1:]):
        mine = [j for j in jobs if lo <= j["start"] < hi]
        busy = covered([(j["start"], j["end"]) for j in mine], lo, hi)
        rounds.append({"wall": hi - lo, "gap": hi - lo - busy, "jobs": len(mine)})
    n = max(1, len(rounds))
    m = result.metrics
    fetched = sum(r["fetched"] for r in m)
    snap_jobs = [len(tracer.descendants(s, "spark.job")) for s in snaps]
    return {
        "frontier.jobs_per_round": len(jobs) / n,
        "frontier.round_s": _mean(r["wall"] for r in rounds),
        "frontier.driver_gap_s": _mean(r["gap"] for r in rounds),
        "frontier.executor_run_s": sum(j["executor_run_s"] for j in jobs) / n,
        "frontier.shuffle_write_mb": sum(j["shuffle_write_bytes"] for j in jobs) / n / 1e6,
        "frontier.fetched": fetched,
        "frontier.fetch_failed": sum(r["failed"] for r in m),
        "frontier.deferred": sum(r["deferred"] for r in m),
        "frontier.blocked": sum(r["blocked"] for r in m),
        "frontier.attempts_per_fetch": sum(r["attempts"] for r in m) / max(1, fetched),
        "plans.write_s": _mean(s["end"] - s["start"] for s in snaps),
        "plans.jobs_per_snapshot": _mean(snap_jobs),
        "plans.snapshot_mb": _mean(s["snapshot_mb"] for s in snaps),
    }


def operator_metrics(tracer: Tracer, spans: list[dict], cores: int) -> dict:
    udf, run_s, jobs, busy = [], [], [], []
    for span in spans:
        job_spans = tracer.descendants(span, "spark.job")
        executor = sum(j["executor_run_s"] for j in job_spans)
        udf.append(span["udf_s"])
        run_s.append(executor)
        jobs.append(len(job_spans))
        busy.append(executor / ((span["end"] - span["start"]) * cores))
    return {
        "operators.udf_s": _mean(udf),
        "operators.boundary_s": _mean(r - u for r, u in zip(run_s, udf)),
        "operators.jobs_per_call": _mean(jobs),
        "operators.slot_busy_ratio": _mean(busy),
    }


def stream_layers(spark, tracer, crawl: wl.Crawl, calls) -> tuple[dict, bool]:
    """One stream_crawl_job over ``crawl``'s world; micro-batch and
    state-commit times come from the queries' progress reports."""
    from pyspark.sql.streaming.readwriter import DataStreamWriter

    from mhtml_to_html_spark.streaming.feeder import stream_crawl_job

    queries = []
    work_dir = os.path.join(crawl.work_dir, "stream")
    p = crawl.params
    t = time.perf_counter()
    with tracer.wrap(DataStreamWriter, "start", "streaming.pass",
                     lambda span, q, args: queries.append(q)):
        with tracer.spark_call("streaming.stream_crawl_job", call="stream") as stream_span:
            out = stream_crawl_job(
                spark, crawl.seeds, work_dir=work_dir, max_rounds=p["max_rounds"],
                host_budget=p["host_budget"], fanout=p["fanout"], n_hosts=p["n_hosts"],
                use_robots=True, decode_payload=True,
            )
    wall = time.perf_counter() - t
    keys = ("fetched", "ok", "failed", "deferred", "blocked")
    ok = [{k: r[k] for k in keys} for r in out["rounds"]] == [
        {k: r[k] for k in keys} for r in crawl.oracle.metrics
    ]
    calls.append({"phase": "stream", "wall_s": wall, "ok": ok,
                  "items": sum(r["ok"] for r in out["rounds"])})
    shutil.rmtree(work_dir, ignore_errors=True)
    batches = [pr for q in queries for pr in q.recentProgress]
    for pr in batches:
        start = datetime.fromisoformat(pr["timestamp"].replace("Z", "+00:00")).timestamp()
        tracer.spans.append({
            "id": len(tracer.spans), "name": "streaming.micro_batch",
            "parent": stream_span["id"], "call": "stream", "start": start,
            "end": start + pr["durationMs"].get("triggerExecution", 0) / 1000.0,
            "duration_ms": dict(pr["durationMs"]),
        })
    return {
        "streaming.batch_ms": _mean(pr["durationMs"].get("triggerExecution", 0) for pr in batches),
        "streaming.state_commit_ms": _mean(
            sum(op.get("commitTimeMs", 0) for op in pr["stateOperators"]) for pr in batches
        ),
        "streaming.rounds": len(out["rounds"]),
    }, ok


def traced_run(spark, workload, args, setup: dict, untraced: dict, calls: list[dict]) -> dict:
    from mhtml_to_html_spark.plans.catalog import SnapshotCatalog

    tracer = Tracer(spark)
    metrics: dict[str, float] = {}
    t = setup["started"]
    for name in ("session_s", "inputs_s", "reference_s", "warm_s"):
        if name != "reference_s":  # benchmark-side work, not set-up
            metrics[f"setup.{name}"] = setup[name]
        tracer.spans.append({"id": len(tracer.spans), "name": f"setup.{name[:-2]}",
                             "parent": None, "call": "setup", "start": t,
                             "end": t + setup[name]})
        t += setup[name]

    checks: list[bool] = []
    prof = Profiled(tracer, spark, ENTRY[workload.name])
    outputs = []
    spark.conf.set("spark.sql.pyspark.udf.profiler", "perf")
    with tracer.wrap(SnapshotCatalog, "write_snapshot", "plans.write_snapshot", _snapshot_mb):
        traced = harness.closed_loop(workload, args.seconds, calls, "traced", around=prof,
                                     outputs=outputs)
        metrics.update(operator_metrics(tracer, prof.spans, harness.CORES))
        if workload.name == "crawl":
            metrics.update(frontier_metrics(tracer, prof.spans[-1], outputs[-1]))
            world = workload
        else:
            world = wl.Crawl(spark, workload.seed, harness.WORK, hosts=SWEEP_HOSTS)
            world.reference(1)
            sweep = Profiled(tracer, spark, ENTRY["crawl"])
            out, ok = harness.call_once(world, calls, "sweep", around=sweep(len(calls)))
            checks.append(ok)
            if ok:
                metrics.update(frontier_metrics(tracer, sweep.spans[-1], out))
    spark.conf.unset("spark.sql.pyspark.udf.profiler")
    layer, ok = stream_layers(spark, tracer, world, calls)
    metrics.update(layer)
    checks.append(ok)

    # images the decoders rejected; the call's check holds them to the reference
    metrics["media.rejected"] = (
        workload.n_images - len(outputs[-1]) if workload.name == "images" else 0
    )
    metrics.update(kernels.sample(workload))
    metrics["trace.overhead_ratio"] = untraced["items_per_s"] / traced["items_per_s"]

    with open(os.path.join(harness.ROOT, "BENCHMARK.json")) as fh:
        units = {m["name"]: m["unit"] for m in json.load(fh)["per_layer"]}
    missing = [m for m in units if m not in metrics]
    if missing:
        raise RuntimeError(f"per-layer metrics not measured: {missing}")
    os.makedirs(os.path.join(harness.STATE, "traces"), exist_ok=True)
    path = os.path.join(harness.STATE, "traces", f"trace_{workload.name}_seed{args.seed}.json")
    tracer.write(path, {"workload": workload.name, "seed": args.seed, "calls": calls,
                        "metrics": metrics})
    harness.log(f"trace written to {os.path.relpath(path, harness.ROOT)}")
    return {
        "correct": all(checks) and traced["failed"] == 0,
        "attempted": traced["attempted"] + len(checks),
        "failed": traced["failed"] + sum(not c for c in checks),
        "metrics": {m: {"value": metrics[m], "unit": unit} for m, unit in units.items()},
    }

