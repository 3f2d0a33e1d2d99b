#!/usr/bin/env python3
"""The repository benchmark: one workload, one run.

    python3 perfbench/run.py --workload batch_sql --seed 1 --seconds 8 --trace 0

Workloads: batch_sql, stream_predict (see README.md). The last line of standard output is one JSON object with
``correct``, ``attempted``, ``failed`` and ``metrics``: the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``.
The line before it (``# details ...``) carries each workload's own
named figures. Every run writes its details to
``perfbench/out/result-<key>-trace<0|1>.json``, where the key names the
workload, tier, seed and seconds. Traced runs also write their spans to
``perfbench/out/spans-<key>.json`` and report the tracing overhead
against the untraced run with the same key, if there is one.

``--smoke`` runs on the template tier with tiny stream sizes; the
benchmark's own test uses it.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time


def _process_start() -> float:
    """Wall-clock time at which this process was created."""
    with open("/proc/self/stat") as f:
        ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/stat") as f:
        boot = next(int(line.split()[1]) for line in f
                    if line.startswith("btime"))
    return boot + ticks / os.sysconf("SC_CLK_TCK")


PROCESS_START = _process_start()

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import common  # noqa: E402
import metrics as M  # noqa: E402
from tracing import EngineCollector, Tracer  # noqa: E402

WORKLOADS = ("batch_sql", "stream_predict")


class Context:
    """What a workload needs: the session, its inputs, the tracer and the
    hooks that mark the end of set-up and of the measured phase."""

    def __init__(self, args, run_dir: str):
        self.workload = args.workload
        self.seed = args.seed
        self.seconds = args.seconds
        self.traced = bool(args.trace)
        self.run_dir = run_dir
        self.tracer = Tracer(self.traced)
        self.expected = common.load_expected()
        self.tier_name = "smoke" if args.smoke else "bench"
        self.tier_dir = None
        self.spark = None
        self.collector = None
        self.setup_s = None
        self.layers: dict[str, float] = {}
        self.trace_notes: dict[str, int] = {}

    def counting_py4j(self):
        if self.collector is None:
            from contextlib import nullcontext
            return nullcontext()
        return self.collector.counting_py4j()

    def setup_done(self) -> None:
        self.setup_s = time.time() - PROCESS_START
        if self.traced:
            self.collector = EngineCollector(self.spark)
            self.collector.start()

    def measure_done(self) -> None:
        if self.collector is not None:
            self.layers.update(self.collector.stop())
            self.layers["queries.py4j_calls"] = float(
                self.collector.py4j_calls)
            self.trace_notes = {"executions": self.collector.executions,
                                "walk_errors": self.collector.walk_errors}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true")
    args = ap.parse_args()

    if not common.program_present():
        print(f"perfbench: {common.PACKAGE} not found under {common.ROOT}; "
              "run from the root of a full checkout", file=sys.stderr)
        return 2

    run_dir = common.new_run_dir(args.workload)
    common.prepare_environment(run_dir)
    ctx = Context(args, run_dir)
    try:
        with common.RssSampler() as rss:
            out = run_workload(ctx)
        out.metrics["setup_s"] = ctx.setup_s
        out.details["peak_rss_mb"] = rss.peak_mb
    except M.GuardError as e:
        print(f"perfbench: guard failed: {e}", file=sys.stderr)
        return 3
    finally:
        stop_children()
        shutil.rmtree(run_dir, ignore_errors=True)
    return report(ctx, out)


def run_workload(ctx: Context):
    import batch
    import stream_predict
    import staging

    if ctx.workload == "batch_sql":
        ctx.tier_dir = staging.batch_tier(ctx.tier_name, ctx.run_dir)
    ctx.spark = common.start_spark(f"perfbench-{ctx.workload}")
    try:
        if ctx.workload == "batch_sql":
            out = batch.run(ctx)
        else:
            out = stream_predict.run(ctx)
        if ctx.traced:
            ctx.layers.update(ctx.tracer.self_times_metrics())
            ctx.layers["queries.build_s"] = ctx.tracer.total("query.build")
            M.guard(ctx.workload, ctx.layers)
        return out
    finally:
        common.stop_spark(ctx.spark)


def stop_children() -> None:
    """Terminate anything this process started that is still running."""
    import signal
    for pid in reversed(common.descendants(os.getpid())):
        try:
            os.kill(pid, signal.SIGTERM)
        except ProcessLookupError:
            pass
    deadline = time.time() + 20
    while common.descendants(os.getpid()) and time.time() < deadline:
        try:
            os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            pass
        time.sleep(0.1)


def report(ctx: Context, out) -> int:
    os.makedirs(common.OUT_DIR, exist_ok=True)
    failed = min(out.failed, out.attempted)
    key = common.run_key(ctx.workload, ctx.tier_name, ctx.seed, ctx.seconds)
    if ctx.traced:
        names = M.PER_LAYER
        values = {n: float(ctx.layers.get(n, 0.0)) for n in names}
        ctx.tracer.dump(os.path.join(common.OUT_DIR, f"spans-{key}.json"))
    else:
        names = M.END_TO_END
        values = {n: float(out.metrics[n]) for n in names}
    e2e = {n: float(out.metrics[n]) for n in M.END_TO_END}
    details = {"workload": ctx.workload, "seed": ctx.seed,
               "traced": ctx.traced, "cores": common.cores(),
               "error_rate": failed / out.attempted if out.attempted else 1.0,
               "end_to_end": e2e, **out.details}
    if out.problems:
        details["problems"] = out.problems[:20]
    if ctx.trace_notes:
        details["traced_executions"] = ctx.trace_notes
    base = os.path.join(common.OUT_DIR, f"result-{key}")
    if ctx.traced and os.path.exists(base + "-trace0.json"):
        with open(base + "-trace0.json") as f:
            plain = json.load(f)["end_to_end"]
        details["tracing_overhead"] = {
            n: e2e[n] - plain[n] for n in M.END_TO_END if n in plain}
    with open(f"{base}-trace{int(ctx.traced)}.json", "w") as f:
        json.dump(details, f, indent=1)
    print("# details " + json.dumps(details))
    result = {"correct": out.correct and failed == 0,
              "attempted": out.attempted, "failed": failed,
              "metrics": {n: {"value": values[n], "unit": M.UNITS[n]}
                          for n in names}}
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
