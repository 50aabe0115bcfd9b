"""Steadiness check: run the benchmark several times per workload, each
time with another seed, in one or more sets, and report per workload and
end-to-end metric the median, the quartiles and the spread
(interquartile distance over the median) of every set and of all runs
pooled, and whether the sets agree within the bounds in BENCHMARK.json.

    python3 perfbench/steady.py [--seeds 5] [--sets 2] [--workloads a,b]

Run from the root of a checkout. Runs are sequential, never concurrent.
The report is printed and written to ``.perfbench_out/steady-*.json``.
The check fails (exit code 1) if a spread, pooled or per set, exceeds
the metric's bound, or if a later set's median differs from the first
set's, in either direction, by more than the bound. ``setup_s`` gets the
drift check only: it is one cold sample per run (JVM start and first
executions), and its pooled spread reached 0.26 on a noisy host while
the medians of two sets stayed within 0.16 of each other.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time


def run_once(cfg: dict, workload: str, seed: int) -> dict:
    cmd = [sys.executable if c == "python3" else c for c in cfg["command"]] + [
        "--workload", workload, "--seed", str(seed),
        "--seconds", str(cfg["run_seconds"]), "--trace", "0",
    ]
    t0 = time.time()
    p = subprocess.run(cmd, capture_output=True, text=True, timeout=900)
    wall = time.time() - t0
    if p.returncode != 0:
        raise RuntimeError(f"{workload} seed {seed} exited {p.returncode}:\n{p.stderr[-2000:]}")
    res = json.loads(p.stdout.strip().splitlines()[-1])
    res["wall_s"] = wall
    return res


def stats(values: list[float]) -> dict:
    q1, med, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return {"median": med, "q1": q1, "q3": q3,
            "spread": (q3 - q1) / med if med else float("inf")}


def drift(first: float, second: float) -> float:
    """How far ``second`` lies from ``first``, as a share of first."""
    return abs(second - first) / first if first else 0.0


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--seeds", type=int, default=5)
    ap.add_argument("--sets", type=int, default=2)
    ap.add_argument("--first-seed", type=int, default=1000)
    ap.add_argument("--workloads", default="")
    args = ap.parse_args()
    with open("BENCHMARK.json") as fh:
        cfg = json.load(fh)
    names = args.workloads.split(",") if args.workloads else [w["name"] for w in cfg["workloads"]]
    metrics = {m["name"]: m for m in cfg["end_to_end"]}

    runs = {w: [[] for _ in range(args.sets)] for w in names}
    for s in range(args.sets):
        for i in range(args.seeds):
            seed = args.first_seed + s * args.seeds + i
            for w in names:
                r = run_once(cfg, w, seed)
                runs[w][s].append(r)
                print(f"set {s} seed {seed} {w}: wall {r['wall_s']:.1f}s correct={r['correct']} "
                      + " ".join(f"{k}={v['value']:.4g}" for k, v in r["metrics"].items()),
                      flush=True)

    report, ok = {}, True
    for w in names:
        report[w] = {}
        for name, m in metrics.items():
            values = [[r["metrics"][name]["value"] for r in runs[w][s]]
                      for s in range(args.sets)]
            sets = [stats(v) for v in values]
            pooled = stats([x for v in values for x in v])
            spread_ok = name == "setup_s" or all(
                st["spread"] <= m["bound"] for st in [pooled, *sets])
            drifts = [drift(sets[0]["median"], st["median"]) for st in sets[1:]]
            agree = all(d <= m["bound"] for d in drifts)
            ok &= spread_ok and agree
            report[w][name] = {"pooled": pooled, "sets": sets, "bound": m["bound"],
                               "spread_ok": spread_ok, "drift": drifts, "agree": agree}
            print(f"{w:16s} {name:12s} all: med {pooled['median']:.4g} spread "
                  f"{pooled['spread']:.3f} | " + " | ".join(
                      f"med {st['median']:.4g} q1 {st['q1']:.4g} q3 {st['q3']:.4g} "
                      f"spread {st['spread']:.3f}" for st in sets)
                  + f" | bound {m['bound']} drift {[round(d, 3) for d in drifts]}"
                  + ("" if spread_ok and agree else "  <-- FAIL"))
        walls = [r["wall_s"] for s in runs[w] for r in s]
        report[w]["wall_s"] = stats(walls)
        report[w]["all_correct"] = all(r["correct"] for s in runs[w] for r in s)
        ok &= report[w]["all_correct"]
        print(f"{w:16s} run wall median {report[w]['wall_s']['median']:.1f}s, "
              f"all correct: {report[w]['all_correct']}")
    os.makedirs(".perfbench_out", exist_ok=True)
    path = os.path.join(".perfbench_out", f"steady-{int(time.time())}.json")
    with open(path, "w") as fh:
        json.dump({"seeds": args.seeds, "sets": args.sets, "report": report,
                   "runs": runs}, fh, indent=1)
    print("report:", path, "OK" if ok else "FAIL")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
