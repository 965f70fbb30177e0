"""The repository benchmark: one command, three workloads.

    python3 perfbench/run.py --workload olap_queries --seed 1 --seconds 10 --trace 0

Run from the repository root. It builds its own inputs from ``--seed``
under ``.perfbench_work/`` (removed at exit), starts ``bda_spark`` on
``local[<cpus>]``, sets up and warms the workload, measures it for
``--seconds``, checks every output, and prints a JSON run record
followed, on the last line, by the result:

    {"correct": true, "attempted": N, "failed": 0, "metrics": {...}}

It exits with 1 when an output fails its check (after printing the
result), and with 2 when it is not run from a repository checkout.
``--trace 0`` reports the end-to-end metrics; ``--trace 1`` is a
separate run that records spans around the calls into each layer and
reports the per-layer metrics instead (see README.md).
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import stats  # noqa: E402

WORKLOAD_NAMES = ["olap_queries", "corpus_dedup", "tick_stream"]


def proc_tree_peak_rss_mb() -> float:
    """Peak RSS (VmHWM) of this process plus every live descendant (the
    JVM and its Python workers), read from /proc."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(d))
    total_kb, todo = 0, [os.getpid()]
    while todo:
        pid = todo.pop()
        todo.extend(children.get(pid, []))
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            continue
    return total_kb / 1024.0


def git_head() -> str | None:
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                             text=True, timeout=10)
    except (OSError, subprocess.TimeoutExpired):
        return None
    return out.stdout.strip() or None


class Bench:
    """What every workload shares: arguments, work dir, the session,
    the tracer (traced runs only) and the op ledger."""

    def __init__(self, args, work: str):
        self.args = args
        self.seed = args.seed
        self.seconds = args.seconds
        self.trace = bool(args.trace)
        self.work = work
        self.tracer = None
        self.patch = None
        self.spark = None
        self.phases: dict[str, float] = {}
        self.lat: dict[str, list[float]] = {}  # op type -> latencies
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.record: dict = {}

    # ------------------------------------------------------------ session
    def start_session(self) -> None:
        from bda_spark.session import get_spark

        cpus = len(os.sched_getaffinity(0))
        self.master = f"local[{cpus}]"
        confs = {
            "spark.local.dir": os.path.join(self.work, "local"),
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        }
        if self.trace:
            from tracing import LayerPatch, Tracer

            log = os.path.join(self.work, "eventlog")
            os.makedirs(log, exist_ok=True)
            confs["spark.eventLog.enabled"] = "true"
            confs["spark.eventLog.dir"] = "file://" + log
            confs["spark.eventLog.rolling.enabled"] = "false"
            confs["spark.eventLog.compress"] = "false"
            self.tracer = Tracer()
        t0 = time.perf_counter()
        self.spark = get_spark("perfbench", master=self.master, extra_confs=confs)
        self.spark.sparkContext.setLogLevel("ERROR")
        self.phases["session.start_s"] = time.perf_counter() - t0
        if self.trace:
            self.patch = LayerPatch(self.tracer).apply()
            self.patch.count_py4j(self.spark.sparkContext)

    def describe(self, **extra) -> None:
        sc = self.spark.sparkContext
        self.record.update({
            "workload": self.args.workload, "seed": self.seed,
            "seconds": self.seconds, "trace": int(self.trace),
            "master": self.master, "cpus_effective": sc.defaultParallelism,
            "spark": self.spark.version,
            "java": sc._jvm.System.getProperty("java.version"),
            "python": platform.python_version(), "git_head": git_head(),
        })
        self.record.update(extra)

    # ---------------------------------------------------------------- ops
    def batch_op(self, kind: str, build, n: int):
        """Run one query op: build the DataFrame, then collect it.

        Untraced, the op is timed as one interval. Traced, it runs as
        three spans under job groups ``<op>.build|plan|exec``: the
        Python construction (``plans.build``, with any jobs it starts
        eagerly), Catalyst planning (``spark.plan``, the executed plan)
        and execution plus collection (``spark.exec``). Returns
        (columns, rows, seconds)."""
        if not self.trace:
            t0 = time.perf_counter()
            df = build()
            rows = df.collect()
            return df.columns, rows, time.perf_counter() - t0
        sc, tr = self.spark.sparkContext, self.tracer
        op = f"{kind}#{n}"
        tr.op = op
        t0 = time.perf_counter()
        try:
            sc.setJobGroup(f"{op}.build", op)
            with tr.span("plans.build"):
                df = build()
            tr.count("plans.build_jobs", len(sc.statusTracker().getJobIdsForGroup(f"{op}.build")))
            sc.setJobGroup(f"{op}.plan", op)
            with tr.span("spark.plan"):
                df._jdf.queryExecution().executedPlan()
            sc.setJobGroup(f"{op}.exec", op)
            with tr.span("spark.exec"):
                rows = df.collect()
        finally:
            sc.setJobGroup("-", "")
            tr.op = None
        return df.columns, rows, time.perf_counter() - t0

    def timed_op(self, kind: str, fn, n: int) -> float:
        """Run an op that is not a single query (it writes its own
        outputs); traced, its spans carry the op id."""
        if self.tracer is not None:
            self.tracer.op = f"{kind}#{n}"
        t0 = time.perf_counter()
        try:
            fn()
        finally:
            if self.tracer is not None:
                self.tracer.op = None
        return time.perf_counter() - t0

    def run_window(self, start: bool) -> None:
        """Mark the start or end of the timed run: the traced run records
        spans only inside it, and Spark jobs are attributed to it by
        submission time."""
        self.record["run_window" if start else "run_window_end"] = time.time()
        if self.tracer is not None:
            self.tracer.enabled = start

    def ok(self, n: int = 1) -> None:
        self.attempted += n

    def fail(self, what: str, n: int = 1) -> None:
        self.attempted += n
        self.failed += n
        if len(self.failures) < 20:
            self.failures.append(what)

    # ------------------------------------------------------------ metrics
    def end_to_end(self, run_s: float, rows_per_s: float,
                   lat: dict[str, list[float]] | None = None,
                   by_type: dict[str, list[float]] | None = None) -> dict:
        """``lat`` holds the op latencies the percentiles pool, by op
        type; ``by_type`` the ones the geomean is taken over, when they
        differ (default: ``lat``)."""
        lat = lat if lat is not None else self.lat
        by_type = by_type if by_type is not None else lat
        pooled = [x for v in lat.values() for x in v]
        t = stats.tail(pooled)
        self.record["op_tail"] = {k: t[k] for k in ("pct", "n", "beyond")}
        self.record["ops_measured"] = len(pooled)
        if len(pooled) <= 100:
            self.record["op_latencies"] = lat
        return {
            "setup_s": (self.phases["setup_s"], "s"),
            "run_s": (run_s, "s"),
            "op_p50_s": (stats.median(pooled), "s"),
            "op_tail_s": (t["value"], "s"),
            "op_geomean_s": (stats.geomean_of_medians(by_type), "s"),
            "rows_per_s": (rows_per_s, "rows/s"),
            "peak_rss_mb": (proc_tree_peak_rss_mb(), "MB"),
        }

    def finish(self) -> None:
        """Stop the session, then the JVM it launched, and wait for it:
        the JVM exits when its stdin closes (its Python workers go with it)."""
        from pyspark import SparkContext

        if self.patch is not None:
            self.patch.restore()
        if self.spark is None:
            return
        gateway = SparkContext._gateway
        self.spark.stop()
        self.spark = None
        proc = getattr(gateway, "proc", None)
        if proc is None:
            return
        gateway.shutdown()
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def per_layer(bench: Bench) -> dict:
    """The per-layer metrics of a traced run (after the session stops,
    so the event log is complete)."""
    from tracing import OPERATOR_MODULES, read_event_log, spark_totals

    tr = bench.tracer
    table = tr.layer_table()
    out: dict[str, tuple[float, str]] = {}

    def row(name):
        return table.get(name, {"calls": 0, "total_s": 0.0, "self_s": 0.0})

    out["session.start_s"] = (bench.phases["session.start_s"], "s")
    out["session.warmup_s"] = (bench.phases.get("session.warmup_s", 0.0), "s")
    out["plans.build_s"] = (row("plans.build")["total_s"], "s")
    out["plans.build_self_s"] = (row("plans.build")["self_s"], "s")
    out["plans.build_jobs"] = (tr.counts.get("plans.build_jobs", 0), "count")
    out["py4j.calls"] = (tr.counts.get("py4j.calls", 0), "count")
    out["spark.plan_s"] = (row("spark.plan")["total_s"], "s")
    out["spark.exec_s"] = (row("spark.exec")["total_s"], "s")
    ev = read_event_log(os.path.join(bench.work, "eventlog"))
    lo, hi = bench.record["run_window"], bench.record["run_window_end"]
    in_run = [j for j, job in ev["jobs"].items() if lo <= job["time"] <= hi]
    for k, v in spark_totals(ev, in_run).items():
        unit = ("count" if k in ("jobs", "stages", "tasks", "failed_tasks")
                else "MB" if k.endswith("_mb") else "ratio" if k == "stage_skew" else "s")
        out[f"spark.{k}"] = (v, unit)
    by_group: dict[str, list[int]] = {}
    for j in in_run:
        by_group.setdefault(ev["jobs"][j]["group"], []).append(j)
    bench.record["spark_groups"] = {g: spark_totals(ev, js) for g, js in by_group.items()}
    load, write = row("sources.load"), row("sources.write")
    out["sources.load_s"] = (load["total_s"], "s")
    out["sources.load_calls"] = (load["calls"], "count")
    out["sources.write_s"] = (write["total_s"], "s")
    out["sources.write_calls"] = (write["calls"], "count")
    files, nbytes = written_files(bench)
    rows_written = bench.record.get("rows_written", 0)
    out["sources.files_written"] = (files, "count")
    out["sources.bytes_written_mb"] = (nbytes / 1024.0 / 1024.0, "MB")
    out["sources.bytes_per_row"] = (nbytes / rows_written if rows_written else 0.0, "B")
    for m in OPERATOR_MODULES:
        r = row(f"operators.{m}")
        out[f"operators.{m}.self_s"] = (r["self_s"], "s")
        out[f"operators.{m}.calls"] = (r["calls"], "count")
    fn = row("functions")
    out["functions.self_s"] = (fn["self_s"], "s")
    out["functions.calls"] = (fn["calls"], "count")
    s = bench.record.get("stream_layer", {})
    for k, unit in (("batches", "count"), ("batch_s", "s"), ("add_batch_s", "s"),
                    ("overhead_s", "s"), ("rows_per_batch", "rows"),
                    ("state_rows", "rows"), ("state_commit_s", "s"),
                    ("input_lag_files", "count"), ("generator_late_s", "s")):
        out[f"streaming.{k}"] = (s.get(k, 0), unit)
    fit = row("ml.fit")
    out["ml.fit_s"] = (fit["total_s"], "s")
    out["ml.fit_calls"] = (fit["calls"], "count")
    out["ml.fit_jobs"] = (fit_jobs(bench, ev), "count")
    out["ml.publish_s"] = (row("ml.publish")["total_s"], "s")
    out["ml.load_s"] = (row("ml.load")["total_s"], "s")
    out["trace.run_s"] = (bench.record["run_s"], "s")  # minus untraced run_s = overhead
    bench.record["layer_table"] = table
    return out


def written_files(bench: Bench) -> tuple[int, int]:
    """Data files and bytes under the workload's output dirs, counted on
    disk after the run (bookkeeping files excluded)."""
    n = size = 0
    for out in bench.record.get("output_dirs", []):
        for dirpath, _, files in os.walk(out):
            for f in files:
                if f.endswith(".parquet"):
                    n += 1
                    size += os.path.getsize(os.path.join(dirpath, f))
    return n, size


def fit_jobs(bench: Bench, ev: dict) -> int:
    """Jobs submitted inside an ``ml.fit`` span (the fit runs on a
    streaming callback thread, so jobs are matched by time)."""
    offset = time.time() - time.perf_counter()  # spans use perf_counter
    fits = [(s["start"] + offset, s["end"] + offset) for s in bench.tracer.spans
            if s["name"] == "ml.fit" and s["end"] is not None]
    return sum(any(a <= job["time"] <= b for a, b in fits) for job in ev["jobs"].values())


def emit(bench: Bench, metrics: dict) -> None:
    bench.record["failures"] = bench.failures
    bench.record["phases"] = bench.phases
    bench.record["output_dirs"] = [os.path.relpath(d, ROOT)
                                   for d in bench.record.get("output_dirs", [])]
    print(json.dumps({"record": bench.record}, default=str))
    result = {
        "correct": bench.failed == 0 and bench.attempted > 0,
        "attempted": bench.attempted,
        "failed": bench.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    print(json.dumps(result), flush=True)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "bda_spark", "session.py")):
        print(f"perfbench: no bda_spark package under {ROOT}; run from a "
              "checkout of the repository", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    os.environ["TZ"] = "UTC"
    time.tzset()
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    # keep every temporary file of this process and its JVMs in the work dir
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(filter(None, [
        os.environ.get("JAVA_TOOL_OPTIONS"), f"-Djava.io.tmpdir={tmp}", "-XX:-UsePerfData"]))

    import workloads

    bench = Bench(args, work)
    try:
        try:
            metrics = workloads.RUNNERS[args.workload](bench)
        finally:
            bench.finish()
        if bench.trace:
            metrics = per_layer(bench)
            out = os.path.join(ROOT, ".perfbench_out")
            os.makedirs(out, exist_ok=True)
            bench.tracer.dump(os.path.join(out, f"spans_{args.workload}_{args.seed}.json"))
        emit(bench, metrics)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass
    return 0 if bench.failed == 0 and bench.attempted > 0 else 1


if __name__ == "__main__":
    sys.exit(main())
