"""Span recording and Spark counters for traced benchmark runs.

Spans are taken from outside the engine: ``install`` rebinds the public
functions named in ``WRAPPED`` (in their defining module and in every
engine module that imported them by name) to thin wrappers, and the
workloads open a span around each operation and each step of it. The
engine's source files are never edited. Spans stay in memory and are
written out once, when the run ends.

Spark-side counters are read per operation from the live application
status store: every job and stage the scheduler created between the
operation's start and end (their ids are allocated sequentially) is
summed after the listener bus has drained.
"""

from __future__ import annotations

import contextlib
import functools
import json
import os
import statistics
import sys
import time

# (module, attribute, span name) — the engine boundaries the benchmark
# records spans at. Wrapped only while a traced run is active.
WRAPPED = [
    ("etl_data_warehouse_spark.sources.catalog", "load_table",
     "sources.catalog.load_table"),
    ("etl_data_warehouse_spark.sources.sinks", "merge_upsert",
     "sources.sinks.merge_upsert"),
    ("etl_data_warehouse_spark.sources.sinks", "merge_upsert_stable",
     "sources.sinks.merge_upsert"),
]

# Tables the daily cycle writes through the sinks (run_pipeline's five
# star tables, then the sales stream's rollup); one timing metric each.
SINK_TABLES = [
    "dim_date", "dim_customers", "dim_products", "fact_orders",
    "fact_daily_sales", "daily_sales",
]
PIPELINE_TABLES = SINK_TABLES[:5]

# Stages of the audit run_day2_ingest returns (its ``stage_sec``).
DAY2_STAGES = [
    "curation", "clean_funnel", "minhash_pairs", "semantic_verdicts",
    "cluster_maintenance", "keep_verdicts", "index_appends", "shard_append",
]

# Per-layer metrics a traced run reports for every workload (median per
# traced operation; 0 where the workload does not reach the layer).
LAYER_UNITS = {
    "plans.build_s": "s",
    "sources.catalog.load_table_calls": "count",
    "sources.catalog.load_table_s": "s",
    "catalyst.plan_s": "s",
    "exec.wall_s": "s",
    "spark.jobs": "count",
    "spark.tasks": "count",
    "scan.input_rows": "count",
    "shuffle.write_bytes": "bytes",
    "spill.disk_bytes": "bytes",
    "exec.run_s": "s",
    "exec.cpu_s": "s",
    "exec.busy_ratio": "ratio",
    "session.jvm_gc_s": "s",
    "session.heap_used_mb": "MB",
    "sources.sinks.merge_upsert_s": "s",
    **{f"sources.sinks.merge_upsert_s.{t}": "s" for t in SINK_TABLES},
    "sources.sinks.jobs_per_call": "count",
    "sources.sinks.write_amp": "ratio",
    "plans.pipeline.run_s": "s",
    "plans.pipeline.self_s": "s",
    "stream.drain_s": "s",
    "stream.add_batch_s": "s",
    "stream.source_s": "s",
    "stream.commit_s": "s",
    "stream.batches": "count",
    "stream.useful_batch_ratio": "ratio",
    "state.rows_total": "count",
    "state.rows_dropped_by_watermark": "count",
    "day2.ingest_s": "s",
    **{f"day2.{st}_s": "s" for st in DAY2_STAGES},
    "day2.state_bytes": "bytes",
    "trace.overhead_s": "s",
}


def dir_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total


class SparkProbe:
    """Reads scheduler ids and stage metrics through the py4j gateway."""

    def __init__(self, spark):
        self.sc = spark.sparkContext._jsc.sc()
        self.jvm = spark.sparkContext._jvm
        self.cores = spark.sparkContext.defaultParallelism

    def ids(self) -> tuple[int, int]:
        dag = self.sc.dagScheduler()
        return dag.nextJobId(), dag.nextStageId()

    def gc_s(self) -> float:
        beans = self.jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
        return sum(max(0, b.getCollectionTime()) for b in beans) / 1000.0

    def heap_used_mb(self) -> float:
        mem = self.jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
        return mem.getHeapMemoryUsage().getUsed() / 2**20

    def first_job_epoch(self, j0: int, j1: int) -> float | None:
        """Submission time (epoch seconds) of the first job in ``[j0, j1)``
        that reached the status store."""
        self.sc.listenerBus().waitUntilEmpty()
        store = self.sc.statusStore()
        for jid in range(j0, j1):
            try:
                sub = store.job(jid).submissionTime()
            except Exception:  # job ids can be skipped
                continue
            if sub.isDefined():
                return sub.get().getTime() / 1000.0
        return None

    def stage_totals(self, s0: int, s1: int) -> dict:
        """Sum the metrics of stages ``[s0, s1)`` once the bus drained."""
        self.sc.listenerBus().waitUntilEmpty()
        store = self.sc.statusStore()
        tot = dict(tasks=0, input_rows=0, shuffle_write=0, spill=0,
                   run_ms=0, cpu_ns=0, output_bytes=0)
        for sid in range(s0, s1):
            try:
                sd = store.lastStageAttempt(sid)
            except Exception:  # skipped stages never reach the store
                continue
            tot["tasks"] += sd.numCompleteTasks()
            tot["input_rows"] += sd.inputRecords()
            tot["shuffle_write"] += sd.shuffleWriteBytes()
            tot["spill"] += sd.diskBytesSpilled()
            tot["run_ms"] += sd.executorRunTime()
            tot["cpu_ns"] += sd.executorCpuTime()
            tot["output_bytes"] += sd.outputBytes()
        return tot


class Tracer:
    """In-memory span recorder. ``active`` gates the wrappers so a traced
    run can interleave untraced operations to measure its own overhead."""

    def __init__(self, probe: SparkProbe | None):
        self.probe = probe
        self.active = False
        self.spans: list[dict] = []
        self.op_id: int | None = None
        self._stack: list[int] = []
        self._originals: list[tuple[object, str, object]] = []

    # --- spans -------------------------------------------------------------
    def span(self, name: str, **attrs):
        if not self.active:
            return contextlib.nullcontext({})
        return _Span(self, name, attrs)

    def op_spans(self, op_id: int) -> list[dict]:
        return [s for s in self.spans if s["op"] == op_id]

    # --- wrapping ------------------------------------------------------------
    def install(self) -> None:
        for mod_name, attr, span_name in WRAPPED:
            mod = sys.modules.get(mod_name) or __import__(mod_name, fromlist=[attr])
            original = getattr(mod, attr)
            wrapper = self._wrap(original, span_name)
            for m in list(sys.modules.values()):
                name = getattr(m, "__name__", "") or ""
                if name.startswith("etl_data_warehouse_spark") and \
                        getattr(m, attr, None) is original:
                    self._originals.append((m, attr, original))
                    setattr(m, attr, wrapper)

    def uninstall(self) -> None:
        for m, attr, original in reversed(self._originals):
            setattr(m, attr, original)
        self._originals.clear()

    def _wrap(self, fn, span_name: str):
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            # merge_upsert_stable calls merge_upsert: one span per sink call
            if not tracer.active or (
                tracer._stack and tracer.spans[tracer._stack[-1]]["name"] == span_name
            ):
                return fn(*args, **kwargs)
            attrs = {}
            if span_name == "sources.sinks.merge_upsert":
                path = args[2] if len(args) > 2 else kwargs["path"]
                attrs["table"] = os.path.basename(os.path.normpath(path))
                j0, s0 = tracer.probe.ids()
            with tracer.span(span_name, **attrs) as sp:
                out = fn(*args, **kwargs)
            if span_name == "sources.sinks.merge_upsert":
                # stage metrics are summed after the operation, off the clock
                j1, s1 = tracer.probe.ids()
                sp.update(jobs=j1 - j0, stages=[s0, s1], table_bytes=dir_bytes(path))
            return out

        return wrapper

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(s) + "\n")


class _Span:
    def __init__(self, tracer: Tracer, name: str, attrs: dict):
        self.t, self.name, self.attrs = tracer, name, attrs

    def __enter__(self) -> dict:
        t = self.t
        self.rec = {
            "id": len(t.spans), "name": self.name, "op": t.op_id,
            "parent": t._stack[-1] if t._stack else None,
            "epoch": time.time(), "start": time.perf_counter(), "end": None,
            **self.attrs,
        }
        t.spans.append(self.rec)
        t._stack.append(self.rec["id"])
        return self.rec

    def __exit__(self, *exc) -> None:
        self.rec["end"] = time.perf_counter()
        self.t._stack.pop()


def dur(s: dict) -> float:
    return s["end"] - s["start"]


def op_layers(tracer: Tracer, op_id: int, wall: float, before: dict,
              after: dict, extra: dict) -> dict:
    """Per-layer values of one traced operation."""
    spans = tracer.op_spans(op_id)
    probe = tracer.probe

    def named(name: str) -> list[dict]:
        return [s for s in spans if s["name"] == name]

    def total(name: str) -> float:
        return sum(dur(s) for s in named(name))

    # Catalyst time of a noop-sink write: from the call to the first job
    # it submits (analysis, optimization and physical planning of the
    # write's own query execution); the rest of the call is execution.
    plan_s = 0.0
    for s in named("exec.write"):
        first = probe.first_job_epoch(s["job0"], after["job"])
        if first is not None:
            plan_s += min(dur(s), max(0.0, first - s["epoch"]))
    sinks = named("sources.sinks.merge_upsert")
    tot = probe.stage_totals(before["stage"], after["stage"])
    row = {k: 0.0 for k in LAYER_UNITS}
    row.update({
        "plans.build_s": total("plans.build"),
        "sources.catalog.load_table_calls": float(len(named("sources.catalog.load_table"))),
        "sources.catalog.load_table_s": total("sources.catalog.load_table"),
        "catalyst.plan_s": plan_s,
        "exec.wall_s": total("exec.write") - plan_s,
        "spark.jobs": float(after["job"] - before["job"]),
        "spark.tasks": float(tot["tasks"]),
        "scan.input_rows": float(tot["input_rows"]),
        "shuffle.write_bytes": float(tot["shuffle_write"]),
        "spill.disk_bytes": float(tot["spill"]),
        "exec.run_s": tot["run_ms"] / 1000.0,
        "exec.cpu_s": tot["cpu_ns"] / 1e9,
        "exec.busy_ratio": tot["run_ms"] / 1000.0 / max(1e-9, wall * probe.cores),
        "session.jvm_gc_s": after["gc"] - before["gc"],
        "session.heap_used_mb": after["heap"],
        "sources.sinks.merge_upsert_s": sum(dur(s) for s in sinks),
        "plans.pipeline.run_s": total("plans.pipeline.run_pipeline"),
        "stream.drain_s": total("stream.drain"),
        "day2.ingest_s": total("day2.ingest"),
    })
    for t in SINK_TABLES:
        row[f"sources.sinks.merge_upsert_s.{t}"] = sum(
            dur(s) for s in sinks if s["table"] == t)
    if row["plans.pipeline.run_s"]:
        row["plans.pipeline.self_s"] = row["plans.pipeline.run_s"] - sum(
            dur(s) for s in sinks if s["table"] in PIPELINE_TABLES)
    row.update(extra)
    # Sink per-call ratios are medians over calls, kept per op as lists.
    row["_sink_jobs"] = [s["jobs"] for s in sinks]
    row["_sink_amp"] = [
        probe.stage_totals(*s["stages"])["output_bytes"] / max(1, s["table_bytes"])
        for s in sinks
    ]
    return row


def snapshot(probe: SparkProbe) -> dict:
    job, stage = probe.ids()
    return {"job": job, "stage": stage, "gc": probe.gc_s(), "heap": probe.heap_used_mb()}


def summarize(rows: list[dict], overhead: float) -> dict:
    """Median per operation of every layer metric over the traced ops."""
    out = {}
    for k in LAYER_UNITS:
        vals = [r[k] for r in rows]
        out[k] = float(statistics.median(vals)) if vals else 0.0
    calls_jobs = [j for r in rows for j in r["_sink_jobs"]]
    calls_amp = [a for r in rows for a in r["_sink_amp"]]
    out["sources.sinks.jobs_per_call"] = float(statistics.median(calls_jobs)) if calls_jobs else 0.0
    out["sources.sinks.write_amp"] = statistics.median(calls_amp) if calls_amp else 0.0
    out["trace.overhead_s"] = overhead
    return out
