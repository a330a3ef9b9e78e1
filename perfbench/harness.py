"""Shared harness pieces: paths, the Spark session and its shutdown,
and the checked closed loop of calls.

Everything a run writes stays under ``.perfbench`` in the checkout.
"""

from __future__ import annotations

import contextlib
import os
import signal
import statistics
import subprocess
import sys
import time
import traceback

import procfs

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(ROOT, ".perfbench")
WORK = os.path.join(STATE, "work")
CORES = len(os.sched_getaffinity(0))


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def isolate_environment() -> None:
    """Keep every file Spark, the JVM and Python write inside WORK."""
    for sub in ("tmp", "spark-local"):
        os.makedirs(os.path.join(WORK, sub), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    # the launcher JVM and the driver JVM: no hsperfdata file in /tmp
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={os.environ['TMPDIR']}"
    sys.path.insert(0, ROOT)


def start_spark():
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master(f"local[{CORES}]")
        .appName("perfbench")
        .config("spark.sql.shuffle.partitions", str(2 * CORES))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", "2g")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.local.dir", os.path.join(WORK, "spark-local"))
        .config("spark.sql.warehouse.dir", os.path.join(WORK, "warehouse"))
        .config(
            "spark.driver.extraJavaOptions",
            f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(WORK, 'tmp')} "
            f"-Dderby.system.home={WORK}",
        )
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session, close the JVM and wait for it and for every
    process under it (PySpark daemon and workers) to end."""
    from pyspark import SparkContext

    jvm = procfs.jvm_pid()
    tree = [jvm, *procfs.descendants(jvm)] if jvm else []
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        proc = gateway.proc
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.time() + 30
    for pid in tree:
        while os.path.exists(f"/proc/{pid}") and time.time() < deadline:
            time.sleep(0.1)
        if os.path.exists(f"/proc/{pid}"):
            try:
                os.kill(pid, signal.SIGKILL)
            except OSError:
                pass


def call_once(workload, calls: list[dict], phase: str, around=None):
    """One checked call; appends its record (wall, ok, items, drift
    readings) to ``calls`` and returns (output, ok). ``around`` is a
    context manager entered around the call alone."""
    out, wall = None, 0.0
    try:
        with around or contextlib.nullcontext():
            t = time.perf_counter()
            try:
                out = workload.call()
            finally:
                wall = time.perf_counter() - t
        ok, items = workload.check(out)
    except Exception:
        traceback.print_exc()
        ok, items = False, 0
    calls.append({
        "phase": phase, "wall_s": wall, "ok": ok, "items": items if ok else 0,
        "jvm_rss_mb": procfs.jvm_rss_mb(),
        "scratch_mb": procfs.dir_mb(os.path.join(WORK, "spark-local")),
    })
    if not ok:
        log(f"{phase} call {len(calls)} did not match the reference")
    return out, ok


def closed_loop(workload, seconds: float, calls: list[dict], phase: str,
                around=None, outputs: list | None = None) -> dict:
    """Calls back to back for about ``seconds``; returns the loop's
    end-to-end figures. A call starts only while the loop is short of
    ``seconds`` by more than half a mean call, so the loop ends within
    half a call of ``seconds`` and always makes at least one call.
    Each call's rate and CPU per item are read on their own and the
    loop reports their medians, so one disturbed call does not move
    the figure. ``around(i)`` gives a context manager to wrap call
    ``i``; ``outputs`` collects each call's output."""
    first = len(calls)
    start = time.perf_counter()
    rss = 0.0
    while True:
        cpu0, steal0 = procfs.tree_cpu_s(), procfs.steal_s()
        out, _ok = call_once(workload, calls, phase, around(len(calls)) if around else None)
        calls[-1]["cpu_s"] = procfs.tree_cpu_s() - cpu0
        # host interference, for reading a slow run; not in any metric
        calls[-1]["steal_s"] = procfs.steal_s() - steal0
        if outputs is not None:
            outputs.append(out)
        rss = max(rss, procfs.worker_peak_rss_mb())
        elapsed = time.perf_counter() - start
        if elapsed + elapsed / (len(calls) - first) / 2 >= seconds:
            break
    mine = calls[first:]
    done = [c for c in mine if c["items"]]
    return {
        "attempted": len(mine),
        "failed": sum(not c["ok"] for c in mine),
        "items_per_s": statistics.median(c["items"] / c["wall_s"] for c in mine),
        "cpu_ms_per_item": statistics.median(
            c["cpu_s"] * 1000.0 / c["items"] for c in done
        ) if done else 0.0,
        "worker_rss_mb": rss,
    }
