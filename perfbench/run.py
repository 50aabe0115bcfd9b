"""Benchmark entry point.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout. One run is one process with its own
SparkSession on ``local[nproc]``: it generates the workload's inputs
from the seed, warms the engine, runs the workload's operations as a
closed loop with one client for at least ``--seconds``, checks the
outputs, and prints one JSON line as the last line of stdout:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics, ``--trace 1`` the
per-layer metrics (see README.md). Everything the run writes stays
under ``.perfbench_out/`` in the checkout; the per-run record (env,
calibration, every latency, spans) lands in ``.perfbench_out/runs/``.
``--scale tiny`` shrinks every input for the self-test.
"""

from __future__ import annotations

import argparse
import gc
import hashlib
import json
import math
import os
import resource
import shlex
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

E2E_UNITS = {
    "setup_s": "s",
    "op_p50_s": "s",
    "op_p75_s": "s",
    "peak_rss_mb": "MB",
}
DATAGEN_REPEATS = 3
DRIVER_MEM = "2g"


class Ctx:
    def __init__(self, **kw):
        self.__dict__.update(kw)

    def log(self, msg: str) -> None:
        print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def nearest_rank(values: list[float], p: float) -> float:
    s = sorted(values)
    return s[max(0, math.ceil(p * len(s)) - 1)]


def calibrate() -> dict:
    """CPU diagnostic (not a metric): a single-thread md5 loop and a
    numpy matmul, so a noisy host window shows up in the run record."""
    import numpy as np

    t0 = time.perf_counter()
    h = hashlib.md5()
    block = b"x" * 4096
    for _ in range(20_000):
        h.update(block)
    md5_s = time.perf_counter() - t0
    a = np.random.default_rng(0).random((384, 384))
    t0 = time.perf_counter()
    for _ in range(10):
        a @ a
    return {"md5_s": md5_s, "matmul_s": time.perf_counter() - t0}


def spark_jvms() -> list[int]:
    """PIDs of running Spark driver JVMs (other than our own)."""
    found = []
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as fh:
                cmd = fh.read()
        except OSError:
            continue
        if b"java" in cmd and b"org.apache.spark.deploy.SparkSubmit" in cmd:
            found.append(int(pid))
    return found


def refuse_if_spark_running(ctx, timeout: float = 30.0) -> None:
    """Wait up to ``timeout`` for other Spark JVMs to exit, else exit 3:
    two Spark workloads at once distort each other's timings."""
    deadline = time.time() + timeout
    while spark_jvms():
        if time.time() > deadline:
            ctx.log(f"another Spark JVM is running (pids {spark_jvms()}); refusing to start")
            sys.exit(3)
        time.sleep(1.0)


def configure_env(work: str) -> dict:
    """Pin the engine to the host's cores and keep every scratch file
    inside the run's work directory."""
    nproc = len(os.sched_getaffinity(0))
    local = os.path.join(work, "spark-local")
    tmp = os.path.join(work, "tmp")
    for d in (local, tmp):
        os.makedirs(d, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc)
    # A small fixed heap keeps memory use low on a shared host and makes
    # the JVM's resident size repeatable from run to run.
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    # every JVM (the launcher's too): temp files here, no /tmp/hsperfdata
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    conf = {
        "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
        "spark.driver.extraJavaOptions": f"-Xms{DRIVER_MEM}",
        "spark.ui.showConsoleProgress": "false",
    }
    args = [a for k, v in conf.items() for a in ("--conf", f"{k}={v}")]
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join([*args, "pyspark-shell"])
    return {
        "nproc": nproc,
        "SPARK_GRAFT_CPUS": os.environ["SPARK_GRAFT_CPUS"],
        "SPARK_LOCAL_DIRS": local,
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
    }


def jvm_peak_rss_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def stop_spark(spark) -> None:
    """Stop the session, then close the gateway and wait for the JVM."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def settle(spark, quiet_s: float = 0.5, limit_s: float = 10.0) -> float:
    """Untimed, before each unit: flush dirty pages to disk, collect
    garbage in Python and the JVM, then wait until the JIT compiler has
    been idle for ``quiet_s`` (at most ``limit_s``), so no unit pays for
    work set-up left behind. Returns the seconds spent."""
    t0 = time.perf_counter()
    os.sync()
    gc.collect()
    jvm = spark.sparkContext._jvm
    jvm.java.lang.System.gc()
    jit = jvm.java.lang.management.ManagementFactory.getCompilationMXBean()
    last = jit.getTotalCompilationTime()
    while time.perf_counter() - t0 < limit_s:
        time.sleep(quiet_s)
        now = jit.getTotalCompilationTime()
        if now == last:
            break
        last = now
    return time.perf_counter() - t0


def measure(wl, ctx, seconds: float, trace: bool) -> dict:
    """The closed loop: operations back to back until the workload's
    stopping rule holds; per-op wall time and layer rows."""
    from tracing import op_layers, snapshot

    tracer = ctx.tracer
    lat, split, failed, layers, settled = [], ([], []), 0, [], []
    t_start = time.perf_counter()
    i = 0
    while not wl.done(i, time.perf_counter() - t_start, seconds, trace):
        traced = trace and wl.traced(i)
        wl.prepare(i)
        if i % wl.unit_ops == 0:
            settled.append(settle(ctx.spark))
        tracer.op_id, tracer.active = i, traced
        before = snapshot(ctx.probe) if traced else None
        ok = True
        t0 = time.perf_counter()
        try:
            with tracer.span("op", workload=wl.name, index=i):
                wl.op(i)
        except Exception as ex:
            ctx.log(f"op {i} failed: {ex!r}")
            ok = False
        wall = time.perf_counter() - t0
        tracer.active = False
        if traced:
            layers.append(op_layers(tracer, i, wall, before, snapshot(ctx.probe),
                                    wl.layer_extra(i)))
        ok = ok and wl.verify(i)
        if ok:
            lat.append(wall)
            split[traced].append(wall)
        else:
            failed += 1
        i += 1
    return {"lat": lat, "untraced": split[False], "traced": split[True],
            "ops": i, "settle_s": settled,
            "failed": failed, "layers": layers}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=("full", "tiny"), default="full")
    args = ap.parse_args(argv)

    root = os.getcwd()
    ctx = Ctx(root=root, seed=args.seed, scale=args.scale)
    if not os.path.isdir(os.path.join(root, "etl_data_warehouse_spark")):
        ctx.log("no etl_data_warehouse_spark/ here: run from the root of a checkout")
        return 2
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        ctx.log(f"unknown workload {args.workload!r}; expected one of {sorted(WORKLOADS)}")
        return 2
    sys.path.insert(0, root)
    out = os.path.join(root, ".perfbench_out")
    ctx.work = os.path.join(out, f"work-{os.getpid()}")
    shutil.rmtree(ctx.work, ignore_errors=True)
    env = configure_env(ctx.work)
    refuse_if_spark_running(ctx)
    record = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
              "trace": args.trace, "scale": args.scale, "env": env,
              "calibration_before": calibrate()}
    # Set-up starts with no earlier run's file writes and deletions
    # still queued for the disk.
    os.sync()
    try:
        result = run(args, ctx, record)
    finally:
        shutil.rmtree(ctx.work, ignore_errors=True)
    record["calibration_after"] = calibrate()
    runs = os.path.join(out, "runs")
    os.makedirs(runs, exist_ok=True)
    stem = os.path.join(runs, f"{args.workload}-seed{args.seed}-trace{args.trace}-{os.getpid()}")
    with open(stem + ".json", "w") as fh:
        json.dump({**record, "result": result}, fh, indent=1, default=str)
    if args.trace:
        ctx.tracer.dump(stem + ".spans.jsonl")
    print(json.dumps(result))
    return 0


def run(args, ctx, record: dict) -> dict:
    from tracing import LAYER_UNITS, SparkProbe, Tracer, summarize
    from workloads import WORKLOADS

    t0 = time.perf_counter()
    from etl_data_warehouse_spark.session import get_spark

    spark = get_spark("perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    jvm_s = time.perf_counter() - t0
    ctx.spark, ctx.probe = spark, SparkProbe(spark)
    ctx.tracer = Tracer(ctx.probe)
    try:
        record["env"]["driver_memory"] = spark.conf.get("spark.driver.memory", None)
        record["env"]["master"] = spark.sparkContext.master
        wl = WORKLOADS[args.workload](ctx)
        if args.trace:
            ctx.tracer.install()
        parts = wl.setup()
        gen = [parts["datagen_s"]]
        for _ in range(DATAGEN_REPEATS - 1):
            t = time.perf_counter()
            parts["regen"]()
            gen.append(time.perf_counter() - t)
        setup_s = jvm_s + statistics.median(gen) + parts["warm_s"]
        record["setup"] = {"jvm_s": jvm_s, "datagen_s": gen, "warm_s": parts["warm_s"]}
        m = measure(wl, ctx, args.seconds, bool(args.trace))
        wl.finish()
        jvm_pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
        peak = (resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0
                + jvm_peak_rss_mb(jvm_pid))
    finally:
        ctx.tracer.uninstall()
        stop_spark(spark)
    lat = m["lat"]
    record["latencies_s"] = lat
    record["layers_per_op"] = m["layers"]
    record["ops"] = m["ops"]
    record["settle_s"] = m["settle_s"]
    record["op_details"] = wl.details
    attempted = m["ops"] + wl.checks
    failed = m["failed"] + wl.check_failures
    if args.trace:
        over = 0.0
        if m["traced"] and m["untraced"]:
            over = statistics.median(m["traced"]) - statistics.median(m["untraced"])
        units = LAYER_UNITS
        values = summarize(m["layers"], over)
    else:
        values = {
            "setup_s": setup_s,
            "op_p50_s": statistics.median(lat) if lat else 0.0,
            "op_p75_s": nearest_rank(lat, 0.75) if lat else 0.0,
            "peak_rss_mb": peak,
        }
        units = E2E_UNITS
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": values[k], "unit": u} for k, u in units.items()},
    }


if __name__ == "__main__":
    sys.exit(main())
