"""Tiny-size self-test of the benchmark's output contract.

    python3 perfbench/selftest.py

Run from the root of a checkout. For every workload it makes one
untraced and one traced run at ``--scale tiny`` (sf0.001 star tables, a
few hundred streamed orders and documents) and checks that the last
stdout line is the result object, that ``correct`` holds, and that
exactly the metrics ``BENCHMARK.json`` names are present, each a number
with its declared unit. It then checks that a directory holding only
``BENCHMARK.json`` and ``perfbench/`` makes the benchmark exit non-zero
without printing a result. Takes about five minutes.
"""

from __future__ import annotations

import json
import math
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)


def run(args: list[str], cwd: str) -> subprocess.CompletedProcess:
    return subprocess.run([sys.executable, os.path.join(HERE, "run.py"), *args],
                          cwd=cwd, capture_output=True, text=True, timeout=600)


def check_result(stdout: str, expected: dict) -> list[str]:
    res = json.loads(stdout.strip().splitlines()[-1])
    errs = []
    if sorted(res) != ["attempted", "correct", "failed", "metrics"]:
        errs.append(f"result keys {sorted(res)}")
    if res.get("correct") is not True or res.get("failed") != 0:
        errs.append(f"correct={res.get('correct')} failed={res.get('failed')}")
    if not isinstance(res.get("attempted"), int) or res["attempted"] < 1:
        errs.append(f"attempted={res.get('attempted')}")
    got = res.get("metrics", {})
    if set(got) != set(expected):
        errs.append(f"missing {sorted(set(expected) - set(got))} "
                    f"extra {sorted(set(got) - set(expected))}")
    for name, unit in expected.items():
        m = got.get(name, {})
        v = m.get("value")
        if m.get("unit") != unit or not isinstance(v, (int, float)) or not math.isfinite(v):
            errs.append(f"{name}: {m}")
    return errs


def main() -> int:
    from tracing import LAYER_UNITS
    from workloads import WORKLOADS

    root = os.getcwd()
    with open(os.path.join(root, "BENCHMARK.json")) as fh:
        cfg = json.load(fh)
    e2e = {m["name"]: m["unit"] for m in cfg["end_to_end"]}
    layer = {m["name"]: m["unit"] for m in cfg["per_layer"]}
    if layer != LAYER_UNITS:
        print("FAIL BENCHMARK.json per_layer differs from tracing.LAYER_UNITS")
        return 1
    failures = 0
    for name in WORKLOADS:
        for trace in (0, 1):
            expected = layer if trace else e2e
            p = run(["--workload", name, "--seed", "7", "--seconds", "1",
                     "--trace", str(trace), "--scale", "tiny"], root)
            errs = ([f"exit {p.returncode}: {p.stderr[-1500:]}"] if p.returncode
                    else check_result(p.stdout, expected))
            failures += bool(errs)
            print(("FAIL" if errs else "ok  ") + f" {name} trace={trace}")
            for e in errs:
                print("     " + e)

    bare = os.path.join(root, ".perfbench_out", "bare")
    shutil.rmtree(bare, ignore_errors=True)
    shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(root, "BENCHMARK.json"), bare)
    p = subprocess.run([sys.executable, "perfbench/run.py", "--workload",
                        cfg["workloads"][0]["name"], "--seed", "1", "--seconds", "1",
                        "--trace", "0"], cwd=bare, capture_output=True, text=True,
                       timeout=180)
    shutil.rmtree(bare, ignore_errors=True)
    bare_ok = p.returncode != 0 and '"metrics"' not in p.stdout
    failures += not bare_ok
    print(("ok  " if bare_ok else "FAIL") + f" bare directory exits {p.returncode}")
    print("selftest", "FAILED" if failures else "passed")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
