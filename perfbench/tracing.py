"""The traced run: spans around calls into each layer, from outside.

Nothing in ``bda_spark/`` changes. ``LayerPatch`` rebinds each traced
function in every ``bda_spark`` module that holds it (the binding its
callers look up), so a call from a plan into an operator, or from an
operator into a helper, opens a span; ``restore()`` puts the originals
back. Spark-side work is attributed after the run from the Spark event
log, by the job group the benchmark sets around each phase of an op.
"""

from __future__ import annotations

import contextlib
import functools
import glob
import importlib
import inspect
import json
import operator
import os
import pkgutil
import threading
import time
from collections import defaultdict

from stats import median, self_times

# module prefix -> layer name; the first match wins
LAYER_OF_MODULE = [
    ("bda_spark.functions.", "functions"),
    ("bda_spark.operators.", "operators."),  # + module name
]
# (module, attribute, layer): single functions timed under a layer name
NAMED = [
    ("bda_spark.sources.batch", "load_table", "sources.load"),
    ("bda_spark.sources.batch", "read_parquet", "sources.load"),
    ("bda_spark.sources.sinks", "overwrite_parquet", "sources.write"),
    ("bda_spark.sources.sinks", "append_parquet", "sources.write"),
    ("bda_spark.sources.sinks", "idempotent_merge_parquet", "sources.write"),
    ("bda_spark.streaming.batchdir", "write_batch_dir", "sources.write"),
    ("bda_spark.streaming.batchdir", "compact_batch_dirs", "sources.write"),
]
OPERATOR_MODULES = ["dedup", "similarity", "quantize", "pq", "silver", "gold",
                    "interpolation", "sketch"]


class Tracer:
    """In-memory spans (name, start, end, parent, op) and counters.

    The current span is per thread, so streaming callbacks running on
    their own threads nest under nothing rather than under the op that
    happens to be open on the main thread."""

    def __init__(self) -> None:
        self.enabled = False  # spans and counts only inside the timed run
        self.spans: list[dict] = []
        self.counts: dict[str, int] = defaultdict(int)
        self._local = threading.local()
        self._lock = threading.Lock()
        self.op: str | None = None

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def begin(self, name: str) -> dict:
        stack = self._stack()
        with self._lock:
            span = {"id": len(self.spans), "name": name,
                    "parent": stack[-1] if stack else None,
                    "op": self.op if threading.current_thread() is threading.main_thread() else None,
                    "start": time.perf_counter(), "end": None}
            self.spans.append(span)
        stack.append(span["id"])
        return span

    def end(self, span: dict) -> None:
        span["end"] = time.perf_counter()
        self._stack().pop()

    @contextlib.contextmanager
    def span(self, name: str):
        s = self.begin(name)
        try:
            yield s
        finally:
            self.end(s)

    def count(self, name: str, n: int = 1) -> None:
        with self._lock:
            self.counts[name] += n

    def layer_table(self) -> dict[str, dict]:
        """Per span name: calls, total (inclusive) and self seconds."""
        done = [s for s in self.spans if s["end"] is not None]
        selfs = self_times(done)
        out: dict[str, dict] = defaultdict(lambda: {"calls": 0, "total_s": 0.0, "self_s": 0.0})
        for s in done:
            row = out[s["name"]]
            row["calls"] += 1
            row["total_s"] += s["end"] - s["start"]
            row["self_s"] += selfs[s["id"]]
        return dict(out)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans, "counts": dict(self.counts)}, f)


class _Timed:
    """A traced stand-in for a function or method. Pickles as the
    original, so a UDF closure that captured it ships the untraced
    function."""

    def __init__(self, fn, layer: str, tracer: Tracer):
        self.fn, self.layer, self.tracer = fn, layer, tracer
        self.__name__ = getattr(fn, "__name__", layer)
        self.__doc__ = getattr(fn, "__doc__", None)
        self.__wrapped__ = fn

    def __call__(self, *a, **k):
        if not self.tracer.enabled:
            return self.fn(*a, **k)
        s = self.tracer.begin(self.layer)
        try:
            return self.fn(*a, **k)
        finally:
            self.tracer.end(s)

    def __get__(self, obj, objtype=None):
        return self if obj is None else functools.partial(self, obj)

    def __reduce__(self):
        return operator.itemgetter(0), ((self.fn,),)


class LayerPatch:
    """Rebind traced functions everywhere callers look them up."""

    def __init__(self, tracer: Tracer):
        self.tracer = tracer
        self._undo: list[tuple[object, str, object, bool]] = []

    def _set(self, owner, attr: str, value) -> None:
        had = attr in vars(owner)
        self._undo.append((owner, attr, vars(owner).get(attr), had))
        setattr(owner, attr, value)

    def apply(self) -> "LayerPatch":
        import bda_spark

        mods = {}
        for info in pkgutil.walk_packages(bda_spark.__path__, "bda_spark."):
            mods[info.name] = importlib.import_module(info.name)
        targets: dict[int, tuple[object, str]] = {}  # id(fn) -> (fn, layer)
        for name, mod in mods.items():
            for prefix, layer in LAYER_OF_MODULE:
                if not name.startswith(prefix):
                    continue
                short = name[len(prefix):]
                if layer.endswith("."):
                    if short not in OPERATOR_MODULES:
                        break
                    layer += short
                for attr, fn in vars(mod).items():
                    if (inspect.isfunction(fn) and fn.__module__ == name
                            and not attr.startswith("_")
                            and not hasattr(fn, "returnType")):
                        targets[id(fn)] = (fn, layer)
                break
        for modname, attr, layer in NAMED:
            fn = getattr(mods[modname], attr)
            targets[id(fn)] = (fn, layer)
        wrapped = {i: _Timed(fn, layer, self.tracer) for i, (fn, layer) in targets.items()}
        for mod in mods.values():
            for attr, val in list(vars(mod).items()):
                if id(val) in wrapped and val is targets[id(val)][0]:
                    self._set(mod, attr, wrapped[id(val)])
        self._patch_ml()
        return self

    def _patch_ml(self) -> None:
        from pyspark.ml.regression import LinearRegression

        from bda_spark.ml.persistence import ModelStore

        for owner, attr, layer in ((ModelStore, "save", "ml.publish"),
                                   (ModelStore, "current", "ml.load"),
                                   (LinearRegression, "fit", "ml.fit")):
            self._set(owner, attr, _Timed(getattr(owner, attr), layer, self.tracer))

    def count_py4j(self, sc) -> None:
        """Count every command the gateway client sends to the JVM."""
        client = sc._gateway._gateway_client
        orig = client.send_command
        tracer = self.tracer

        def send_command(*a, **k):
            if not tracer.enabled:
                return orig(*a, **k)
            tracer.count("py4j.calls")
            if tracer.op is not None and threading.current_thread() is threading.main_thread():
                tracer.count(f"py4j.calls@{tracer.op}")
            return orig(*a, **k)

        self._set(client, "send_command", send_command)

    def restore(self) -> None:
        for owner, attr, old, had in reversed(self._undo):
            if had:
                setattr(owner, attr, old)
            else:
                delattr(owner, attr)
        self._undo.clear()


class StreamProgress:
    """A StreamingQueryListener that keeps every progress report."""

    def __init__(self):
        from pyspark.sql.streaming import StreamingQueryListener

        reports = self.reports = []

        class _Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                p = event.progress
                reports.append({
                    "run": str(p.runId), "batch": p.batchId, "at": p.timestamp,
                    "rows": p.numInputRows, "ms": dict(p.durationMs),
                    "state_rows": sum(s.numRowsTotal for s in p.stateOperators),
                    "state_commit_ms": sum(s.commitTimeMs for s in p.stateOperators),
                })

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self.listener = _Listener()


def read_event_log(log_dir: str) -> dict:
    """Jobs (group, submission time, stages) and per-stage task metrics
    from the Spark event log (JSON lines, one file per application)."""
    jobs: dict[int, dict] = {}
    tasks: dict[int, list[dict]] = defaultdict(list)
    for path in glob.glob(os.path.join(log_dir, "*")):
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    jobs[ev["Job ID"]] = {
                        "group": props.get("spark.jobGroup.id") or "-",
                        "time": ev.get("Submission Time", 0) / 1000.0,
                        "stages": ev.get("Stage IDs", []),
                    }
                elif kind == "SparkListenerTaskEnd":
                    info, m = ev["Task Info"], ev.get("Task Metrics") or {}
                    sr = m.get("Shuffle Read Metrics") or {}
                    dur = (info["Finish Time"] - info["Launch Time"]) / 1000.0
                    run = m.get("Executor Run Time", 0) / 1000.0
                    delay = dur - run - (m.get("Executor Deserialize Time", 0)
                                         + m.get("Result Serialization Time", 0)
                                         + info.get("Getting Result Time", 0)) / 1000.0
                    tasks[ev["Stage ID"]].append({
                        "dur": dur, "run": run,
                        "cpu": m.get("Executor CPU Time", 0) / 1e9,
                        "gc": m.get("JVM GC Time", 0) / 1000.0,
                        "delay": max(0.0, delay),
                        "sw": (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0),
                        "sr": sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0),
                        "spill": m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0),
                        "input": (m.get("Input Metrics") or {}).get("Bytes Read", 0),
                        "failed": bool(info.get("Failed")),
                    })
    return {"jobs": jobs, "tasks": dict(tasks)}


def spark_totals(ev: dict, job_ids) -> dict:
    """Counts and task metrics summed over ``job_ids``; ``stage_skew`` is
    max/median task time in the slowest stage of each job, median over
    jobs with more than one task in that stage (1.0 when there are none)."""
    mb = 1024.0 * 1024.0
    stages = {s for j in job_ids for s in ev["jobs"][j]["stages"] if s in ev["tasks"]}
    ts = [t for s in stages for t in ev["tasks"][s]]
    skews = []
    for j in job_ids:
        st = [s for s in ev["jobs"][j]["stages"] if s in ev["tasks"]]
        if not st:
            continue
        durs = [t["dur"] for t in ev["tasks"][max(st, key=lambda s: sum(t["dur"] for t in ev["tasks"][s]))]]
        if len(durs) > 1 and median(durs) > 0:
            skews.append(max(durs) / median(durs))
    return {
        "jobs": len(job_ids), "stages": len(stages), "tasks": len(ts),
        "task_run_s": sum(t["run"] for t in ts),
        "task_cpu_s": sum(t["cpu"] for t in ts),
        "task_gc_s": sum(t["gc"] for t in ts),
        "sched_delay_s": sum(t["delay"] for t in ts),
        "shuffle_write_mb": sum(t["sw"] for t in ts) / mb,
        "shuffle_read_mb": sum(t["sr"] for t in ts) / mb,
        "spill_mb": sum(t["spill"] for t in ts) / mb,
        "input_mb": sum(t["input"] for t in ts) / mb,
        "failed_tasks": sum(t["failed"] for t in ts),
        "stage_skew": median(skews) if skews else 1.0,
    }
