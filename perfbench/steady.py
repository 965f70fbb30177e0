"""Steadiness check: run one workload once per seed and report, for
every end-to-end metric, the median and the spread (inter-quartile
range over the median, ``statistics.quantiles(n=4)``) across the runs.

    python3 perfbench/steady.py --workload olap_queries --seconds 10 \\
        --seeds 101-110 --out perfbench/results/steady_olap_queries.json \\
        --seeds 201-210 --out perfbench/results/steady2_olap_queries.json

Runs are sequential; each is one ``run.py`` process. With several
``--seeds`` sets (one ``--out`` each) the sets are interleaved, one run
of each in turn, so a drift in the host's speed over the minutes they
take falls on every set alike. A run whose outputs fail their check is
kept in its set (its timings are still measurements) and listed; the
command then exits with 1.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from stats import spread  # noqa: E402


def seeds_arg(text: str) -> list[int]:
    if "-" in text:
        a, b = text.split("-")
        return list(range(int(a), int(b) + 1))
    return [int(x) for x in text.split(",")]


def cpu_steal_s() -> float:
    """CPU time the host has held this machine's virtual CPUs
    descheduled (steal), summed over CPUs, since boot."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


def run_once(workload: str, seed: int, seconds: int, trace: int) -> dict | None:
    t0, steal0 = time.time(), cpu_steal_s()
    p = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=900)
    lines = p.stdout.strip().splitlines()
    if len(lines) < 2 or p.returncode not in (0, 1):  # 1: printed, some output failed
        print(f"seed {seed}: exit {p.returncode}\n{p.stderr[-2000:]}", file=sys.stderr)
        return None
    result = json.loads(lines[-1])
    steal = cpu_steal_s() - steal0
    print(f"seed {seed}: {time.time() - t0:.1f}s steal={steal:.1f}s correct={result['correct']} "
          + " ".join(f"{k}={v['value']:.4g}" for k, v in result["metrics"].items()),
          flush=True)
    return {"seed": seed, "wall_s": time.time() - t0, "steal_s": steal, "result": result,
            "record": json.loads(lines[-2])["record"]}


def summarize(args, seeds: list[int], runs: list[dict], out_path: str | None) -> list[int]:
    summary = {}
    for name in runs[0]["result"]["metrics"]:
        vals = [r["result"]["metrics"][name]["value"] for r in runs]
        summary[name] = {"median": statistics.median(vals), "spread": spread(vals),
                         "unit": runs[0]["result"]["metrics"][name]["unit"]}
        print(f"{name:>28}: median {summary[name]['median']:.4g} "
              f"spread {summary[name]['spread']:.3f}")
    incorrect = [r["seed"] for r in runs if not r["result"]["correct"]]
    if incorrect:
        print(f"incorrect runs (seeds): {incorrect}", file=sys.stderr)
    out = {"workload": args.workload, "seconds": args.seconds, "trace": args.trace,
           "seeds": seeds, "incorrect_seeds": incorrect, "summary": summary,
           "wall_s_total": sum(r["wall_s"] for r in runs), "runs": runs}
    if out_path:
        with open(out_path, "w") as f:
            json.dump(out, f, indent=1, default=str)
    return incorrect


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", type=seeds_arg, action="append", required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--out", action="append", default=[])
    args = ap.parse_args()
    if args.out and len(args.out) != len(args.seeds):
        ap.error("give one --out per --seeds set")
    runs: list[list[dict]] = [[] for _ in args.seeds]
    for i in range(max(map(len, args.seeds))):
        for k, seeds in enumerate(args.seeds):
            if i < len(seeds):
                run = run_once(args.workload, seeds[i], args.seconds, args.trace)
                if run is None:
                    return 1
                runs[k].append(run)
    incorrect = []
    for k, seeds in enumerate(args.seeds):
        print(f"set {k + 1}: seeds {seeds[0]}-{seeds[-1]}")
        incorrect += summarize(args, seeds, runs[k], args.out[k] if args.out else None)
    return 1 if incorrect else 0


if __name__ == "__main__":
    sys.exit(main())
