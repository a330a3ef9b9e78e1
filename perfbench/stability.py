"""Stability proof: run the benchmark once per seed and report each
end-to-end metric's quartile spread against its bound.

    python3 perfbench/stability.py --workload crawl --seeds 1-10 [--sets 2]

Each run measures BENCHMARK.json's ``run_seconds``. Spread is
(Q3 - Q1) / median over the runs of a set, with quartiles from
``statistics.quantiles(values, n=4)``; the target is a third of the
metric's bound in BENCHMARK.json (``setup_s``'s spread is not judged).
With ``--sets 2`` or more the same seeds run again and each later set's
median of every metric, ``setup_s`` too, is compared with the first
set's: it may be worse by at most the bound. Drift is checked
inside each run: the per-call rate of the last third of a run's
same-sized calls over that of its first third, and the JVM's resident
size at the last call over the first, so a trend reads as a trend and
not as noise between runs. The rate drift is empty for a run with one
timed call, as a ``crawl`` run usually is.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def seeds_arg(text: str) -> list[int]:
    lo, _, hi = text.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def thirds_ratio(values: list[float]) -> float | None:
    if len(values) < 2:
        return None
    k = max(1, len(values) // 3)
    return statistics.fmean(values[-k:]) / statistics.fmean(values[:k])


def one_run(workload: str, seed: int, seconds: int) -> tuple[dict, list[dict]]:
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
        cwd=ROOT, capture_output=True, text=True, timeout=400,
    )
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        raise RuntimeError(f"seed {seed}: exit {proc.returncode}\n{proc.stderr[-2000:]}")
    calls = next(json.loads(ln[6:]) for ln in lines if ln.startswith("calls "))
    return json.loads(lines[-1]), calls


def one_set(workload: str, seeds: list[int], seconds: int) -> dict[str, list[float]]:
    values: dict[str, list[float]] = {}
    for seed in seeds:
        result, calls = one_run(workload, seed, seconds)
        timed = [c for c in calls if c["phase"] == "timed"]
        rate = thirds_ratio([c["items"] / c["wall_s"] for c in timed])
        rss = thirds_ratio([c["jvm_rss_mb"] for c in calls])
        # CPUs' worth of time the hypervisor took during the timed calls
        steal = sum(c["steal_s"] for c in timed) / sum(c["wall_s"] for c in timed)
        row = {k: v["value"] for k, v in result["metrics"].items()}
        for k, v in row.items():
            values.setdefault(k, []).append(v)
        print(json.dumps({
            "seed": seed, "correct": result["correct"], "attempted": result["attempted"],
            "failed": result["failed"], **{k: round(v, 4) for k, v in row.items()},
            "drift_rate_last_over_first": rate and round(rate, 4),
            "drift_jvm_rss_last_over_first": rss and round(rss, 4),
            "host_steal_cpus": round(steal, 4),
        }), flush=True)
    return values


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", type=seeds_arg, default=seeds_arg("1-10"))
    ap.add_argument("--sets", type=int, default=1)
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)

    medians: list[dict[str, float]] = []
    for n in range(1, args.sets + 1):
        print(f"set {n}", flush=True)
        values = one_set(args.workload, args.seeds, bench["run_seconds"])
        medians.append({k: statistics.median(v) for k, v in values.items()})
        for metric in bench["end_to_end"]:
            vals = values[metric["name"]]
            q1, _q2, q3 = statistics.quantiles(vals, n=4)
            med = statistics.median(vals)
            spread = (q3 - q1) / med
            target = metric["bound"] / 3
            verdict = "(not judged)" if metric["name"] == "setup_s" else (
                "ok" if spread < target else "above target" if spread <= metric["bound"]
                else "TOO NOISY"
            )
            print(f"set {n} {args.workload}/{metric['name']}: median {med:.4f} {metric['unit']}  "
                  f"spread {spread:.4f}  (bound {metric['bound']}, target < {target:.4f}) "
                  f"{verdict}", flush=True)

    for n, later in enumerate(medians[1:], start=2):
        for metric in bench["end_to_end"]:
            name = metric["name"]
            shift = later[name] / medians[0][name] - 1.0
            worse = shift if metric["better"] == "lower" else -shift
            print(f"set {n} vs set 1 {args.workload}/{name}: median {medians[0][name]:.4f} -> "
                  f"{later[name]:.4f} {metric['unit']}  worse by {worse:+.4f}  "
                  f"(bound {metric['bound']}) {'ok' if worse <= metric['bound'] else 'TOO FAR'}")


if __name__ == "__main__":
    main()
