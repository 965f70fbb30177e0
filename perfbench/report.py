"""The evidence report: the steadiness of every end-to-end metric (from
the ``steady_<workload>.json`` files ``steady.py`` writes) and the
traced attribution table (one ``--trace 1`` run per workload, set
against an untraced run of the same seed for the tracing overhead).

    python3 perfbench/report.py --results perfbench/results --trace-seed 1

Writes ``report.md`` into the results dir, and each traced run's full
record beside it (``traced_<workload>.json``); without ``--trace-seed``
it reuses the traced runs already there.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from steady import run_once  # noqa: E402

WORKLOADS = ["olap_queries", "corpus_dedup", "tick_stream"]

ROWS = [
    ("plans.build_s", "s"), ("plans.build_self_s", "s"), ("plans.build_jobs", ""),
    ("py4j.calls", ""), ("spark.plan_s", "s"), ("spark.exec_s", "s"),
    ("spark.jobs", ""), ("spark.stages", ""), ("spark.tasks", ""),
    ("spark.task_run_s", "s"), ("spark.task_cpu_s", "s"), ("spark.task_gc_s", "s"),
    ("spark.sched_delay_s", "s"), ("spark.shuffle_write_mb", "MB"),
    ("spark.shuffle_read_mb", "MB"), ("spark.input_mb", "MB"), ("spark.stage_skew", ""),
    ("sources.load_s", "s"), ("sources.load_calls", ""), ("sources.write_s", "s"),
    ("sources.write_calls", ""), ("sources.files_written", ""),
    ("sources.bytes_written_mb", "MB"), ("sources.bytes_per_row", "B"),
    ("operators.dedup.self_s", "s"), ("operators.similarity.self_s", "s"),
    ("operators.quantize.self_s", "s"), ("operators.pq.self_s", "s"),
    ("operators.silver.self_s", "s"), ("operators.gold.self_s", "s"),
    ("operators.interpolation.self_s", "s"), ("operators.sketch.self_s", "s"),
    ("functions.self_s", "s"), ("functions.calls", ""),
    ("streaming.batches", ""), ("streaming.batch_s", "s"), ("streaming.add_batch_s", "s"),
    ("streaming.overhead_s", "s"), ("streaming.rows_per_batch", ""),
    ("streaming.state_rows", ""), ("streaming.state_commit_s", "s"),
    ("streaming.input_lag_files", ""), ("streaming.generator_late_s", "s"),
    ("ml.fit_s", "s"), ("ml.fit_calls", ""), ("ml.fit_jobs", ""), ("ml.publish_s", "s"),
    ("ml.load_s", "s"), ("session.start_s", "s"), ("session.warmup_s", "s"),
]


def fmt(v: float) -> str:
    if v == 0:
        return "0"
    return f"{v:.3g}" if abs(v) < 1000 else f"{v:,.0f}"


def steal_range(steady_set: dict) -> str:
    xs = sorted(r["steal_s"] for r in steady_set["runs"] if "steal_s" in r)
    if not xs:
        return "not recorded"
    mid = (xs[(len(xs) - 1) // 2] + xs[len(xs) // 2]) / 2
    return f"{xs[0]:.0f} / {mid:.0f} / {xs[-1]:.0f}"


def traced_run(workload: str, seed: int, seconds: int, out_dir: str) -> dict:
    """A traced run of ``seed``, just after an untraced run of the same
    seed: the tracing overhead is taken against that run's ``run_s``, so
    a drift in the host's speed between far-apart runs does not enter it."""
    base = run_once(workload, seed, seconds, 0)
    run = run_once(workload, seed, seconds, 1)
    if base is None or run is None:
        raise RuntimeError(f"{workload}: a run did not print its result")
    run.update(seconds=seconds, untraced_run_s=base["result"]["metrics"]["run_s"]["value"])
    with open(os.path.join(out_dir, f"traced_{workload}.json"), "w") as f:
        json.dump(run, f, indent=1, default=str)
    return run


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--results", required=True,
                    help="dir with steady*_<workload>.json; traced_<workload>.json go here")
    ap.add_argument("--trace-seed", type=int,
                    help="make a fresh traced run per workload with this seed")
    ap.add_argument("--seconds", type=int, default=10)
    args = ap.parse_args()
    traced = {}
    for w in WORKLOADS:
        path = os.path.join(args.results, f"traced_{w}.json")
        if args.trace_seed is not None:
            traced[w] = traced_run(w, args.trace_seed, args.seconds, args.results)
        elif os.path.exists(path):
            with open(path) as f:
                traced[w] = json.load(f)
    m = {w: {k: v["value"] for k, v in t["result"]["metrics"].items()} for w, t in traced.items()}
    sets: dict[str, list[dict]] = {}
    for w in WORKLOADS:
        for path in glob.glob(os.path.join(args.results, f"steady*_{w}.json")):
            with open(path) as f:
                sets.setdefault(w, []).append(json.load(f))
        sets.get(w, []).sort(key=lambda d: d["seeds"][0])  # set 1 = lowest seeds
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        e2e = json.load(f)["end_to_end"]
    bounds = {e["name"]: e["bound"] for e in e2e}
    better = {e["name"]: e["better"] for e in e2e}
    lines = ["# perfbench evidence", "",
             "## Steadiness (untraced)", "",
             "Per set of runs (one run per seed): median and spread (inter-quartile range "
             "over the median, `statistics.quantiles(n=4)`) of each end-to-end metric; "
             "the last column is how much worse the second set's median is than the "
             "first's, against the bound from `BENCHMARK.json`.", "",
             "| workload | metric | set 1 median | set 1 spread | set 2 median | set 2 spread "
             "| set 2 worse by | bound |", "|---|---|---|---|---|---|---|---|"]
    for w, ds in sets.items():
        for k, v in ds[0]["summary"].items():
            cells = [f"{fmt(v['median'])} {v['unit']}", f"{v['spread']:.3f}"]
            if len(ds) > 1:
                v2 = ds[1]["summary"][k]
                worse = (v2["median"] - v["median"]) / v["median"]
                if better.get(k) == "higher":
                    worse = -worse
                cells += [f"{fmt(v2['median'])} {v2['unit']}", f"{v2['spread']:.3f}",
                          f"{worse:+.3f}"]
            else:
                cells += ["-", "-", "-"]
            lines.append(f"| {w} | `{k}` | " + " | ".join(cells) + f" | {bounds.get(k, '-')} |")
    lines += ["", "Seeds: " + "; ".join(
        f"{w} " + ", ".join(f"{d['seeds'][0]}–{d['seeds'][-1]}" for d in ds)
        for w, ds in sets.items())]
    lines += ["", "Runs with an output that failed its check (seeds): " + "; ".join(
        f"{w} " + ", ".join(str(d.get("incorrect_seeds") or "none") for d in ds)
        for w, ds in sets.items())]
    lines += ["", "CPU steal per run (time the host held this machine's CPUs descheduled, "
              "summed over CPUs; min / median / max s per set): " + "; ".join(
                  f"{w} " + ", ".join(steal_range(d) for d in ds) for w, ds in sets.items())]
    if not m:
        return write(lines, args.results)
    seed = next(iter(traced.values()))["seed"]
    lines += ["", f"## Traced attribution (seed {seed})", "",
              "Per-layer metrics of one `--trace 1` run per workload, inside the timed "
              "run only. Times are seconds summed over the run.", ""]
    lines += ["## Op time split (query ops)", "",
              "| workload | plans.build_s | spark.plan_s | spark.exec_s | build share | exec share |",
              "|---|---|---|---|---|---|"]
    for w in WORKLOADS:
        b, p_, e = m[w]["plans.build_s"], m[w]["spark.plan_s"], m[w]["spark.exec_s"]
        tot = b + p_ + e
        if tot:
            lines.append(f"| {w} | {fmt(b)} | {fmt(p_)} | {fmt(e)} | {b / tot:.0%} | {e / tot:.0%} |")
        else:
            lines.append(f"| {w} | - | - | - | n/a (no query ops) | n/a |")
    lines += ["", "## Tracing overhead", "",
              "| workload | traced run_s | untraced run_s (same seed, run just before) "
              "| overhead |", "|---|---|---|---|"]
    for w in WORKLOADS:
        base = traced[w].get("untraced_run_s")
        tr = m[w]["trace.run_s"]
        over = f"{tr - base:+.2f} s ({(tr - base) / base:+.0%})" if base else "n/a"
        lines.append(f"| {w} | {tr:.2f} | {base:.2f} | {over} |" if base else
                     f"| {w} | {tr:.2f} | n/a | n/a |")
    lines += ["", "## All per-layer metrics", "",
              "| metric | " + " | ".join(WORKLOADS) + " |",
              "|---|" + "---|" * len(WORKLOADS)]
    for k, unit in ROWS:
        lines.append(f"| `{k}`{' (' + unit + ')' if unit else ''} | "
                     + " | ".join(fmt(m[w].get(k, 0)) for w in WORKLOADS) + " |")
    return write(lines, args.results)


def write(lines: list[str], out_dir: str) -> int:
    with open(os.path.join(out_dir, "report.md"), "w") as f:
        f.write("\n".join(lines) + "\n")
    print("\n".join(lines))
    return 0


if __name__ == "__main__":
    sys.exit(main())
