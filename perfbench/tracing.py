"""Tracing from outside the program: spans around calls into each layer's
public functions, plus Spark's own counters read back after the run.

Only the traced run installs any of this. The untraced run uses
`NullTracer`, whose spans are no-ops, so its end-to-end numbers carry no
instrumentation cost. Spans stay in memory and are written once, when the
run ends.
"""

from __future__ import annotations

import contextlib
import functools
import importlib
import inspect
import re
import sys
import threading
import time
from typing import Any, Iterator

# Layer name -> module whose public functions get a span.
LAYER_MODULES = {
    "tables": "team_126_spark.tables",
    "operators.relational": "team_126_spark.operators.relational",
    "operators.dedup": "team_126_spark.operators.dedup",
    "operators.vector": "team_126_spark.operators.vector",
    "operators.textops": "team_126_spark.operators.textops",
    "operators.geo": "team_126_spark.operators.geo",
}

# The pyspark calls the program makes on DataFrames, grouped as layers.
DATAFRAME_LAYERS = {
    "materialize": ("localCheckpoint", "checkpoint", "persist", "cache"),
    "driver": ("collect", "first", "count", "take"),
}

PYTHON_METRICS = ("data sent to Python workers", "data returned from Python workers")


class NullTracer:
    def span(self, layer: str, name: str) -> contextlib.AbstractContextManager:
        return contextlib.nullcontext()


class Tracer:
    """Spans: (id, parent, layer, name, start, end). Each thread keeps its
    own stack, so a program thread that calls a wrapped function gets a
    correct parent."""

    def __init__(self) -> None:
        self.spans: list[dict[str, Any]] = []
        self._local = threading.local()
        self._lock = threading.Lock()
        self._saved: list[tuple[Any, str, Any]] = []
        self.unreached: list[str] = []

    def _stack(self) -> list[dict[str, Any]]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextlib.contextmanager
    def span(self, layer: str, name: str) -> Iterator[None]:
        stack = self._stack()
        parent = stack[-1] if stack else None
        rec = {
            "layer": layer,
            "name": name,
            "parent": parent["id"] if parent else None,
            # a call is "outer" for its layer when no caller above it on
            # the stack belongs to the same layer
            "outer": all(s["layer"] != layer for s in stack),
            "start": time.time(),
        }
        with self._lock:
            rec["id"] = len(self.spans)
            self.spans.append(rec)
        stack.append(rec)
        try:
            yield
        finally:
            stack.pop()
            rec["end"] = time.time()

    def _wrap(self, layer: str, name: str, fn):
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with tracer.span(layer, name):
                return fn(*args, **kwargs)

        return traced

    def _patch(self, owner: Any, attr: str, layer: str) -> None:
        original = getattr(owner, attr)
        self._saved.append((owner, attr, original))
        setattr(owner, attr, self._wrap(layer, attr, original))

    def install(self) -> None:
        from pyspark.sql.classic.dataframe import DataFrame

        originals: dict[int, str] = {}
        for layer, modname in LAYER_MODULES.items():
            mod = importlib.import_module(modname)
            for name, fn in inspect.getmembers(mod, inspect.isfunction):
                if name.startswith("_") or fn.__module__ != modname:
                    continue
                self._patch(mod, name, layer)
                originals[id(fn)] = f"{layer}.{name}"
        for layer, methods in DATAFRAME_LAYERS.items():
            for m in methods:
                self._patch(DataFrame, m, layer)
        self.unreached = unreached_bindings(originals)

    def uninstall(self) -> None:
        for owner, attr, original in reversed(self._saved):
            setattr(owner, attr, original)
        self._saved.clear()


def covered(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of intervals."""
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


def unreached_bindings(originals: dict[int, str]) -> list[str]:
    """Module globals of the program that still point at an unwrapped
    original: a caller bound the name with `from … import`, so its calls
    bypass the span."""
    found = []
    for modname, mod in sorted(sys.modules.items()):
        if not modname.startswith("team_126_spark") or mod is None:
            continue
        for name, value in vars(mod).items():
            if id(value) in originals:
                found.append(f"{modname}.{name} -> {originals[id(value)]}")
    return found


class SparkProbe:
    """Reads Spark's counters back over py4j: the status store (jobs,
    stages, task metrics), the SQL status store (Python worker bytes),
    CodegenMetrics/CodeGenerator (compiles) and QueryExecution.tracker
    (planning phases)."""

    def __init__(self, spark) -> None:
        sc = spark.sparkContext
        self.jvm = sc._jvm
        self.gateway = sc._gateway
        self.store = sc._jsc.sc().statusStore()
        self.sql_store = spark._jsparkSession.sharedState().statusStore()
        self.conv = self.jvm.scala.jdk.javaapi.CollectionConverters

    def codegen(self) -> tuple[int, float]:
        """(classes compiled, compile milliseconds) since the JVM started."""
        count = self.jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME().getCount()
        nanos = self.jvm.org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime()
        return int(count), nanos / 1e6

    def jobs(self, t0: float, t1: float) -> list[dict[str, Any]]:
        """Jobs submitted inside [t0, t1] (epoch seconds)."""
        out = []
        for j in self.conv.asJava(self.store.jobsList(None)):
            sub = j.submissionTime()
            if not sub.isDefined():
                continue
            start = sub.get().getTime() / 1000.0
            if not t0 <= start <= t1:
                continue
            done = j.completionTime()
            out.append(
                {
                    "id": j.jobId(),
                    "start": start,
                    "end": done.get().getTime() / 1000.0 if done.isDefined() else t1,
                    "stages": list(self.conv.asJava(j.stageIds())),
                    "status": j.status().toString(),
                }
            )
        return sorted(out, key=lambda j: j["id"])

    def stage_totals(self, stage_ids: set[int]) -> dict[str, float]:
        keys = ("stages", "tasks_ok", "tasks_failed", "run_ms", "cpu_ns", "gc_ms",
                "shuffle_write", "shuffle_read", "spill")
        tot = dict.fromkeys(keys, 0)
        no_quantiles = self.gateway.new_array(self.jvm.double, 0)
        for sid in sorted(stage_ids):
            try:
                attempts = self.conv.asJava(self.store.stageData(sid, False, None, False, no_quantiles))
            except Exception:  # stage evicted or never ran (skipped)
                continue
            for st in attempts:
                if st.status().toString() == "SKIPPED":
                    continue
                tot["stages"] += 1
                tot["tasks_ok"] += st.numCompleteTasks()
                tot["tasks_failed"] += st.numFailedTasks()
                tot["run_ms"] += st.executorRunTime()
                tot["cpu_ns"] += st.executorCpuTime()
                tot["gc_ms"] += st.jvmGcTime()
                tot["shuffle_write"] += st.shuffleWriteBytes()
                tot["shuffle_read"] += st.shuffleReadBytes()
                tot["spill"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
        return tot

    def python_bytes(self, t0: float, t1: float, parse_bytes) -> int:
        """Bytes sent to plus returned from Python workers, summed over the
        SQL executions submitted inside [t0, t1]."""
        total = 0
        execs = self.sql_store.executionsList()
        for i in range(execs.size()):
            e = execs.apply(i)
            if not t0 <= e.submissionTime() / 1000.0 <= t1:
                continue
            listing = e.metrics().toString()
            if "Python workers" not in listing:
                continue
            ids = [
                int(m.group(2))
                for m in re.finditer(r"SQLPlanMetric\(([^,]+),(\d+),", listing)
                if m.group(1) in PYTHON_METRICS
            ]
            vals = self.sql_store.executionMetrics(e.executionId())
            for acc in ids:
                if vals.contains(acc):
                    total += parse_bytes(vals.apply(acc))
        return total

    @staticmethod
    def plan_ms(df) -> float:
        """Catalyst analysis + optimization + planning time of a DataFrame's
        own QueryExecution (plans it first if its action ran through a
        separate write command)."""
        qe = df._jdf.queryExecution()
        qe.executedPlan()
        phases = qe.tracker().phases()
        return sum(
            phases.apply(p).durationMs()
            for p in ("analysis", "optimization", "planning")
            if phases.contains(p)
        )


def _within(t: float, intervals: list[tuple[float, float]]) -> bool:
    return any(a <= t <= b for a, b in intervals)


def _clip(intervals, windows):
    """Parts of `intervals` that fall inside any of `windows`."""
    return [
        (max(a, wa), min(b, wb))
        for a, b in intervals
        for wa, wb in windows
        if min(b, wb) > max(a, wa)
    ]


def layer_record(tracer: Tracer, probe: SparkProbe, outcomes, units: int, parse_bytes) -> dict:
    """Per-layer totals over the timed operations, divided by `units` (the
    workload's unit: one request, or one pass over the loop rows). Only work
    inside an operation's span counts; the output checks between
    operations are left out."""
    windows = [(o.extra["start"], o.extra["end"]) for o in outcomes]
    t0, t1 = min(a for a, _ in windows), max(b for _, b in windows)
    spans = [s for s in tracer.spans if "end" in s and _within(s["start"], windows)]
    per_layer: dict[str, dict[str, float]] = {}
    for s in spans:
        rec = per_layer.setdefault(s["layer"], {"calls": 0, "iv": []})
        rec["iv"].append((s["start"], s["end"]))
        rec["calls"] += s["outer"]
    layer = {k: {"calls": v["calls"], "s": covered(v["iv"])} for k, v in per_layer.items()}

    jobs = [j for j in probe.jobs(t0, t1) if _within(j["start"], windows)]
    builds = [(s["start"], s["end"], s["name"]) for s in spans if s["layer"] == "queries.build"]
    build_jobs = [j for j in jobs if any(a <= j["start"] <= b for a, b, _ in builds)]
    stage = probe.stage_totals({sid for j in jobs for sid in j["stages"]})
    busy = covered(_clip([(j["start"], j["end"]) for j in jobs], windows))
    op_s = sum(b - a for a, b in windows)
    tasks = stage["tasks_ok"] + stage["tasks_failed"]
    plan_ms = 0.0
    for o in outcomes:
        if o.error is None:
            plan_ms += probe.plan_ms(o.output["df"])
    compiles = sum(o.extra.get("codegen", (0, 0))[0] for o in outcomes)
    compile_ms = sum(o.extra.get("codegen", (0, 0))[1] for o in outcomes)
    py_bytes = probe.python_bytes(t0, t1, parse_bytes)

    def lt(name: str, key: str) -> float:
        return layer.get(name, {}).get(key, 0.0) / units

    mib = 2.0**20
    metrics = {
        "queries.build_s": (lt("queries.build", "s"), "s"),
        "queries.build_jobs": (len(build_jobs) / units, "count"),
        "queries.action_s": (lt("queries.action", "s"), "s"),
        "materialize.calls": (lt("materialize", "calls"), "count"),
        "materialize.s": (lt("materialize", "s"), "s"),
        "driver.actions": (lt("driver", "calls"), "count"),
        "driver.actions_s": (lt("driver", "s"), "s"),
    }
    for name in LAYER_MODULES:
        metrics[f"{name}.calls"] = (lt(name, "calls"), "count")
        metrics[f"{name}.s"] = (lt(name, "s"), "s")
    metrics.update(
        {
            "spark.jobs": (len(jobs) / units, "count"),
            "spark.stages": (stage["stages"] / units, "count"),
            "spark.tasks": (tasks / units, "count"),
            "spark.driver_gap_s": ((op_s - busy) / units, "s"),
            "spark.plan_ms": (plan_ms / units, "ms"),
            "spark.codegen_compiles": (compiles / units, "count"),
            "spark.codegen_ms": (compile_ms / units, "ms"),
            "spark.task_cpu_s": (stage["cpu_ns"] / 1e9 / units, "s"),
            "spark.task_run_s": (stage["run_ms"] / 1e3 / units, "s"),
            "spark.gc_s": (stage["gc_ms"] / 1e3 / units, "s"),
            "spark.shuffle_write_mb": (stage["shuffle_write"] / mib / units, "MiB"),
            "spark.shuffle_read_mb": (stage["shuffle_read"] / mib / units, "MiB"),
            "spark.spill_mb": (stage["spill"] / mib / units, "MiB"),
            "spark.task_success_frac": (stage["tasks_ok"] / tasks if tasks else 1.0, "ratio"),
            "functions.python_mb": (py_bytes / mib / units, "MiB"),
        }
    )
    rows = {}
    for a, b, name in builds:
        rows.setdefault(name, []).append(sum(1 for j in build_jobs if a <= j["start"] <= b))
    return {
        "metrics": metrics,
        "op_s": op_s,
        "units": units,
        "build_jobs_per_row": rows,
        "jobs": jobs,
        "unreached": tracer.unreached,
    }
