from __future__ import annotations

import os
import pathlib
import re
import shutil
import signal
import subprocess
import sys
import tempfile
import time

import pytest

sys.path.insert(0, str(pathlib.Path(__file__).resolve().parents[1]))

from etl_data_warehouse_spark.session import get_spark

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    s = get_spark("tests", shuffle_partitions=8)
    s.sparkContext.setLogLevel("ERROR")
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


# --- whole-suite auto-sharding ------------------------------------------------
#
# The full suite is ~60 min serial on this box (585 Spark tests, many of
# them streaming drains): the r13 driver's `pytest tests/ -q` run TIMED
# OUT at 12% and recorded tests_ok=false despite zero failures — a
# verification gate that cannot finish is a gate that does not run (r13
# VERDICT task #1). When the plain whole-suite invocation is detected,
# split the test FILES across N subprocess workers (separate CWDs so
# derby metastore_db / spark-warehouse never collide; per-worker
# SPARK_GRAFT_CPUS so N local-mode JVMs don't oversubscribe the box)
# and aggregate their exit codes. The invocation's other options reach
# every shard (relative paths made absolute, rootdir pinned so nodeids
# and --deselect match the in-process run). Any targeted invocation
# (-k, -m, specific files/nodeids), a cache-driven one (--lf, --ff,
# --nf, --sw) and an informational one (--collect-only, --fixtures,
# --markers, --version, --help) runs in-process exactly as before, and
# SPARK_GRAFT_TEST_SERIAL=1 opts out entirely. The run reports the whole
# suite, as an in-process run would: its last line is one pytest-style
# summary summed over the shards, and --junitxml gets one report that
# holds every shard's test cases (each shard writes its own file, and
# they are merged at the end).

_SHARD_ENV = "SPARK_GRAFT_TEST_SHARD"
_N_SHARDS = 4
# Wall-clock weights (seconds: per-file sums of the test-case times in
# the merged --junitxml report of a whole-suite run, the same figures
# --durations=0 prints per shard; 4-core host, 2 CPUs per shard) for
# the files that dominate a shard; everything else defaults to ~7s.
# Balancing by these keeps the slowest shard near max(total/N, the
# slowest file).
_FILE_WEIGHTS = {
    "test_day2_pipeline.py": 674,
    "test_oracle_parity.py": 532,
    "test_pipeline_models_plans.py": 264,
    "test_extensions.py": 251,
    "test_property_based.py": 242,
    "test_sinks_incremental_streaming.py": 170,
    "test_containment_index.py": 141,
    "test_semantic_dedup_incremental.py": 127,
    "test_dedup_index.py": 123,
    "test_ann_index.py": 87,
    "test_pq.py": 81,
    "test_bpe_trainer.py": 50,
    "test_cluster_index.py": 40,
    "test_containment.py": 30,
    "test_graph.py": 26,
    "test_web_curation.py": 25,
    "test_training_shards.py": 16,
    "test_decontamination.py": 14,
    "test_manifest_shards.py": 13,
    "test_curation_stream.py": 13,
    "test_sketches.py": 11,
}


def _shard_files(config, tests_dir: str, n: int) -> list[list[str]]:
    # a file passed by name escapes --ignore, so apply it here
    files = sorted(
        f for f in os.listdir(tests_dir)
        if f.startswith("test_") and f.endswith(".py")
        and not config.hook.pytest_ignore_collect(
            collection_path=pathlib.Path(tests_dir, f), config=config
        )
    )
    weighted = sorted(
        files, key=lambda f: -_FILE_WEIGHTS.get(f, 7)
    )
    shards: list[list[str]] = [[] for _ in range(n)]
    loads = [0] * n
    for f in weighted:
        i = loads.index(min(loads))
        shards[i].append(os.path.join(tests_dir, f))
        loads[i] += _FILE_WEIGHTS.get(f, 7)
    return [s for s in shards if s]


# Options that select by keyword/marker, read the cache of an earlier
# run, or only report: sharding cannot honour them, so they run
# in-process.
_IN_PROCESS_OPTIONS = (
    "keyword", "markexpr", "lf", "failedfirst", "newfirst", "stepwise",
    "stepwise_skip", "collectonly", "showfixtures",
    "show_fixtures_per_test", "markers", "version", "help",
)


_JUNIT_OPTIONS = ("--junitxml", "--junit-xml")


def _forwarded_args(config) -> list[str]:
    """The invocation's own arguments minus its test paths and its
    --junitxml (each shard gets its own), with every relative path made
    absolute (a shard runs in its own cwd) and the rootdir pinned (so
    nodeids, hence --deselect values, match)."""
    inv = config.invocation_params
    positional = set(config.args)
    out: list[str] = []
    args = iter(inv.args)
    for a in args:
        if a in positional:
            continue
        if a in _JUNIT_OPTIONS:
            next(args, None)  # its value
            continue
        if a.partition("=")[0] in _JUNIT_OPTIONS:
            continue
        opt, eq, val = a.partition("=") if a.startswith("-") else ("", "", a)
        nodeid = "--deselect" in (opt, out[-1] if out else "")
        path = os.path.join(str(inv.dir), val)
        if val and not nodeid and not os.path.isabs(val) \
                and os.path.exists(path):
            a = opt + eq + os.path.abspath(path)
        out.append(a)
    if not any(a.startswith("--rootdir") for a in out):
        out.append(f"--rootdir={config.rootpath}")
    if not config.option.verbose:
        out.append("-q")
    return out


# The counts of a pytest summary line ("3 failed, 550 passed, 1 skipped,
# 2 warnings in 801.46s (0:13:21)"), in the order pytest prints them.
_SUMMARY = re.compile(r"=*\s*(\d+ \w+(?:, \d+ \w+)*) in [\d.]+s")
_COUNT = re.compile(r"(\d+) (\w+)")
_OUTCOMES = ("failed", "passed", "skipped", "deselected", "xfailed",
             "xpassed", "warnings", "errors")


def _summary_counts(line: str) -> dict[str, int]:
    counts: dict[str, int] = {}
    m = _SUMMARY.match(line)
    for n, word in _COUNT.findall(m.group(1) if m else ""):
        word = {"warning": "warnings", "error": "errors"}.get(word, word)
        if word in _OUTCOMES:
            counts[word] = counts.get(word, 0) + int(n)
    return counts


def _merge_junit(paths: list[str], dest: str, wall: float) -> None:
    """Write one <testsuite> holding the test cases of every shard's
    report, its counts summed and its time the whole run's wall time."""
    import xml.etree.ElementTree as ET

    merged = ET.Element("testsuite", name="pytest")
    totals = dict.fromkeys(("errors", "failures", "skipped", "tests"), 0)
    for p in paths:
        if not os.path.exists(p):  # a killed shard wrote no report
            continue
        for suite in ET.parse(p).getroot().iter("testsuite"):
            for k in totals:
                totals[k] += int(suite.get(k, 0))
            for k in ("timestamp", "hostname"):
                if suite.get(k) and k not in merged.attrib:
                    merged.set(k, suite.get(k))
            merged.extend(suite)
    merged.attrib.update({k: str(v) for k, v in totals.items()})
    merged.set("time", f"{wall:.3f}")
    root = ET.Element("testsuites")
    root.append(merged)
    os.makedirs(os.path.dirname(dest) or ".", exist_ok=True)
    ET.ElementTree(root).write(dest, encoding="utf-8",
                               xml_declaration=True)


def pytest_cmdline_main(config):
    if os.environ.get(_SHARD_ENV) or os.environ.get(
        "SPARK_GRAFT_TEST_SERIAL"
    ):
        return None
    opt = config.option
    if any(getattr(opt, o, None) for o in _IN_PROCESS_OPTIONS):
        return None
    tests_dir = os.path.dirname(os.path.abspath(__file__))
    repo_root = os.path.dirname(tests_dir)
    resolved = sorted(
        {os.path.abspath(a.rstrip("/")) for a in (config.args or [])}
    )
    if resolved not in ([tests_dir], [repo_root]):
        return None  # targeted invocation: run in-process

    t0 = time.time()
    forwarded = _forwarded_args(config)
    shards = _shard_files(config, tests_dir, _N_SHARDS)
    if not shards:
        return None  # everything ignored: let pytest report it
    cpus_total = int(
        os.environ.get("SPARK_GRAFT_CPUS", len(os.sched_getaffinity(0)))
    )
    worker_cpus = str(max(2, cpus_total // len(shards)))
    xmlpath = getattr(opt, "xmlpath", None)
    print(
        f"[conftest] whole-suite run: auto-sharding {sum(map(len, shards))} "
        f"test files across {len(shards)} workers "
        f"(SPARK_GRAFT_CPUS={worker_cpus} each; "
        "set SPARK_GRAFT_TEST_SERIAL=1 to disable)",
        flush=True,
    )
    procs = []
    for i, files in enumerate(shards):
        cwd = tempfile.mkdtemp(prefix=f"pytest_shard{i}_")
        # four default 8g driver heaps outgrow a 16 GB host
        env = {
            "SPARK_GRAFT_DRIVER_MEM": "2g",
            **os.environ,
            _SHARD_ENV: str(i),
            "SPARK_GRAFT_CPUS": worker_cpus,
            # a killed shard's output must already be in its file
            "PYTHONUNBUFFERED": "1",
        }
        cmd = [sys.executable, "-m", "pytest", *files, *forwarded,
               "-p", "no:cacheprovider"]
        if xmlpath:
            cmd.append(f"--junitxml={os.path.join(cwd, 'junit.xml')}")
        out = open(os.path.join(cwd, "pytest.out"), "w+")
        procs.append(
            (
                i,
                subprocess.Popen(
                    cmd, cwd=cwd, env=env,
                    stdout=out, stderr=subprocess.STDOUT,
                ),
                out,
            )
        )
    # No deadline of its own: the caller's budget is the deadline. A
    # SIGTERM (timeout's signal) or SIGINT kills every shard and reports
    # each one's tail, so a hung shard loses no other shard's output.
    def interrupt(signum, frame):
        raise KeyboardInterrupt(signal.Signals(signum).name)

    signal.signal(signal.SIGTERM, interrupt)
    ended: dict[int, float] = {}
    try:
        while len(ended) < len(procs):
            for i, p, _ in procs:
                if i not in ended and p.poll() is not None:
                    ended[i] = time.time()
            time.sleep(1)
    except KeyboardInterrupt as e:
        print(f"[conftest] {e or 'SIGINT'}: killing shards", flush=True)
        for _, p, _ in procs:
            p.kill()
    failed = 0
    totals: dict[str, int] = {}
    for i, p, out in procs:
        rc = p.wait()
        out.seek(0)
        text = out.read()
        out.close()
        tail = [ln for ln in text.splitlines() if ln.strip()][-15:]
        for k, n in _summary_counts(tail[-1] if tail else "").items():
            totals[k] = totals.get(k, 0) + n
        took = f"{ended.get(i, time.time()) - t0:.0f}s"
        if i not in ended or rc not in (0, 5):  # 5: all deselected
            failed += 1
            why = f"FAILED rc={rc}" if i in ended else "KILLED"
            print(f"[shard {i}] {why} after {took}; tail:", flush=True)
            print("\n".join(tail), flush=True)
        else:
            print(f"[shard {i}] {took}: {tail[-1] if tail else 'ok'}",
                  flush=True)
    wall = time.time() - t0
    cwds = [os.path.dirname(out.name) for _, _, out in procs]
    if xmlpath:
        _merge_junit(
            [os.path.join(cwd, "junit.xml") for cwd in cwds],
            os.path.join(str(config.invocation_params.dir), xmlpath),
            wall,
        )
    # every tail is printed and every report merged: the shard dirs
    # hold nothing left to read
    for cwd in cwds:
        shutil.rmtree(cwd, ignore_errors=True)
    status = "ALL SHARDS PASSED" if failed == 0 else f"{failed} SHARDS FAILED"
    print(
        f"===== auto-shard: {status} "
        f"({len(shards)} shards, wall {wall:.0f}s) =====",
        flush=True,
    )
    counts = ", ".join(
        f"{totals[k]} {k}" for k in _OUTCOMES if totals.get(k)
    ) or "no tests ran"
    print(f"===== {counts} in {wall:.2f}s (all {len(shards)} shards) =====",
          flush=True)
    if len(ended) < len(procs):
        return pytest.ExitCode.INTERRUPTED
    return 0 if failed == 0 else 1
