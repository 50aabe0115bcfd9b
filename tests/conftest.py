from __future__ import annotations

import os
import pathlib
import subprocess
import sys
import tempfile
import time

import pytest

sys.path.insert(0, "/root/repo")

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
# SPARK_GRAFT_TEST_SERIAL=1 opts out entirely.

_SHARD_ENV = "SPARK_GRAFT_TEST_SHARD"
_N_SHARDS = 4
# Wall-clock weights (seconds, measured r14 on this box at CPUS=8) for
# the files that dominate a shard; everything else defaults to ~20s.
# Balancing by these keeps the slowest shard near total/N.
_FILE_WEIGHTS = {
    "test_day2_pipeline.py": 420,
    "test_day2_stream.py": 300,
    "test_cdc_stream.py": 120,
    "test_sinks_incremental_streaming.py": 230,
    "test_property_based.py": 330,
    "test_extensions.py": 260,
    "test_pipeline_models_plans.py": 110,
    "test_ann_stream.py": 80,
    "test_neardup_stream.py": 70,
    "test_whitened_semdedup.py": 75,
    "test_containment_index.py": 120,
    "test_dedup_index.py": 90,
    "test_oracle_parity.py": 150,
    "test_bpe_trainer.py": 70,
    "test_external_skew_stateful.py": 60,
    "test_cluster_index.py": 50,
    "test_streaming_corpus.py": 60,
    "test_session_window_stream.py": 50,
    "test_sketch_stream.py": 50,
    "test_event_dedup_stream.py": 40,
    "test_curation_stream.py": 40,
    "test_ann_index.py": 60,
    "test_semantic_dedup_incremental.py": 50,
    "test_pq.py": 80,
    "test_containment.py": 45,
    "test_graph.py": 40,
    "test_corpus_pipeline.py": 45,
    "test_scd2.py": 40,
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
        files, key=lambda f: -_FILE_WEIGHTS.get(f, 20)
    )
    shards: list[list[str]] = [[] for _ in range(n)]
    loads = [0] * n
    for f in weighted:
        i = loads.index(min(loads))
        shards[i].append(os.path.join(tests_dir, f))
        loads[i] += _FILE_WEIGHTS.get(f, 20)
    return [s for s in shards if s]


# Options that select by keyword/marker, read the cache of an earlier
# run, or only report: sharding cannot honour them, so they run
# in-process.
_IN_PROCESS_OPTIONS = (
    "keyword", "markexpr", "lf", "failedfirst", "newfirst", "stepwise",
    "stepwise_skip", "collectonly", "showfixtures",
    "show_fixtures_per_test", "markers", "version", "help",
)


def _forwarded_args(config) -> list[str]:
    """The invocation's own arguments minus its test paths, with every
    relative path made absolute (a shard runs in its own cwd) and the
    rootdir pinned (so nodeids, hence --deselect values, match)."""
    inv = config.invocation_params
    positional = set(config.args)
    out: list[str] = []
    for a in inv.args:
        if a in positional:
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
    cpus_total = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    worker_cpus = str(max(2, cpus_total // len(shards)))
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
        env = dict(
            os.environ,
            **{_SHARD_ENV: str(i), "SPARK_GRAFT_CPUS": worker_cpus},
        )
        cmd = [sys.executable, "-m", "pytest", *files, *forwarded,
               "-p", "no:cacheprovider"]
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
    failed = 0
    deadline = time.time() + 3300  # leave headroom under outer budgets
    for i, p, out in procs:
        try:
            rc = p.wait(timeout=max(30, deadline - time.time()))
        except subprocess.TimeoutExpired:
            p.kill()
            rc = -9
        out.seek(0)
        text = out.read()
        out.close()
        tail = [ln for ln in text.splitlines() if ln.strip()][-15:]
        if rc not in (0, 5):  # 5: every test of the shard deselected
            failed += 1
            print(f"[shard {i}] FAILED rc={rc}; tail:", flush=True)
            print("\n".join(tail), flush=True)
        else:
            print(f"[shard {i}] {tail[-1] if tail else 'ok'}", flush=True)
    status = "ALL SHARDS PASSED" if failed == 0 else f"{failed} SHARDS FAILED"
    print(
        f"===== auto-shard: {status} "
        f"({len(shards)} shards, wall {time.time() - t0:.0f}s) =====",
        flush=True,
    )
    return 0 if failed == 0 else 1
