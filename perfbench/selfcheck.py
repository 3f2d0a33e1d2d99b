#!/usr/bin/env python3
"""Self-check: are two sets of runs of one commit within the benchmark's
own bounds?

    python3 perfbench/selfcheck.py

For each workload in BENCHMARK.json, runs two sets of ten untraced runs
(seeds 1-10, then 11-20) and one traced run with seed 1. For every
end-to-end metric it prints each set's median, quartiles and spread
(interquartile distance over the median), the bound, and:

- ``spread`` ok when every set's spread is within the bound;
- ``drift`` ok when the second set's median is within the bound of the
  first's, either way;

plus the tracing overhead (traced value minus the untraced run of seed
1). Exits 1 if anything is out of bounds. Run from the checkout root.
"""

from __future__ import annotations

import json
import os
import statistics
import subprocess
import sys

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
SETS = 2
RUNS = 10


def one_run(spec: dict, workload: str, seed: int, trace: int) -> dict:
    cmd = spec["command"] + ["--workload", workload, "--seed", str(seed),
                             "--seconds", str(spec["run_seconds"]),
                             "--trace", str(trace)]
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True,
                          timeout=600)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        raise RuntimeError(f"{workload} seed {seed} exited "
                           f"{proc.returncode}: {proc.stderr[-2000:]}")
    result = json.loads(lines[-1])
    if not result["correct"] or result["failed"]:
        raise RuntimeError(f"{workload} seed {seed}: incorrect result "
                           f"{lines[-2][:2000] if len(lines) > 1 else ''}")
    values = {k: v["value"] for k, v in result["metrics"].items()}
    if len(lines) > 1 and lines[-2].startswith("# details "):
        values["_details"] = json.loads(lines[-2][len("# details "):])
    return values


def summary(values: list[float]) -> dict:
    q1, med, q3 = statistics.quantiles(values, n=4)
    return {"median": statistics.median(values), "q1": q1, "q3": q3,
            "spread": (q3 - q1) / statistics.median(values)}


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    ok = True
    raw: dict = {}
    for w in (w["name"] for w in spec["workloads"]):
        sets = [[one_run(spec, w, s * RUNS + i + 1, 0) for i in range(RUNS)]
                for s in range(SETS)]
        traced = one_run(spec, w, 1, 1)
        raw[w] = {"sets": sets, "traced": traced}
        print(f"== {w} ({SETS} sets x {RUNS} runs)")
        for m in spec["end_to_end"]:
            name, bound = m["name"], m["bound"]
            sums = [summary([r[name] for r in runs]) for runs in sets]
            spread_ok = all(s["spread"] <= bound for s in sums)
            base = sums[0]["median"]
            drift_ok = all(abs(s["median"] - base) <= bound * abs(base)
                           for s in sums[1:])
            ok &= spread_ok and drift_ok
            cells = "  ".join(
                f"med {s['median']:.4g} [{s['q1']:.4g}, {s['q3']:.4g}] "
                f"spread {s['spread']:.3f}" for s in sums)
            print(f"  {name:12s} bound {bound:<5} {cells}  "
                  f"spread {'ok' if spread_ok else 'OUT'}  "
                  f"drift {'ok' if drift_ok else 'OUT'}")
        over = traced["_details"].get("tracing_overhead", {})
        print("  tracing overhead (traced - untraced): " + ", ".join(
            f"{k} {v:+.4g}" for k, v in over.items()))
    os.makedirs(os.path.join(BENCH_DIR, "out"), exist_ok=True)
    with open(os.path.join(BENCH_DIR, "out", "selfcheck.json"), "w") as f:
        json.dump(raw, f, indent=1)
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
