"""Workload ``batch_sql``: a closed loop with one client. Each pass
builds and runs every query of the set once, in an order the seed draws
per pass. Build is ``REGISTRY[q].fn(spark, dir)`` plus ``df.schema``;
run is a ``noop`` sink write. The first pass runs in a fresh session
(cold codegen, memo fill); warm passes repeat until the run's measuring
time is used and at least three ran."""

from __future__ import annotations

import random
import time

import common
from common import Outcome, median, quantile, rows_hash
from metrics import GuardError

# no Python workers: build, Catalyst, shuffle and codegen
QUERIES = [
    "a1_pricing_summary", "a3_count_distinct", "j2_broadcast_dim_join",
    "j3_large_large_join", "j9_asof_join", "tpch_q3", "tpch_q5",
    "tpch_q18", "w4_running_sum", "o3_topk_per_group",
    "t5_session_window", "f_explode_wordcount", "l1_exact_dedup",
    "l4_lang_source_stats",
]
# Warm passes keep speeding up over the first three (JIT compilation),
# so a run that fits only two in its time would report a slower
# machine as slower still.
MIN_WARM_PASSES = 3


def run(ctx) -> Outcome:
    from pravega_flink_ai_flow_spark.queries import load_all

    names = QUERIES
    registry = load_all()
    spark, tracer, out = ctx.spark, ctx.tracer, Outcome()
    rng = random.Random(ctx.seed)
    executions = {q: 0 for q in names}
    ctx.setup_done()

    per_query: dict[str, list[float]] = {q: [] for q in names}

    def one_pass(samples: list[float] | None) -> float:
        order = rng.sample(names, len(names))
        with tracer.span("pass"):
            start = time.perf_counter()
            for q in order:
                out.attempted += 1
                executions[q] += 1
                t0 = time.perf_counter()
                try:
                    with tracer.span("query.build"), ctx.counting_py4j():
                        df = registry[q].fn(spark, ctx.tier_dir)
                        df.schema
                    if ctx.collector is not None:
                        ctx.collector.add_analysis(df)
                    with tracer.span("query.run"):
                        df.write.format("noop").mode("overwrite").save()
                except Exception as e:      # one failed execution, go on
                    out.fail(f"{q}: {type(e).__name__}: {str(e)[:200]}")
                    continue
                if samples is not None:
                    samples.append(time.perf_counter() - t0)
                    per_query[q].append(samples[-1])
            return time.perf_counter() - start

    first = one_pass(None)
    samples: list[float] = []
    passes: list[float] = []
    cpu: list[float] = []
    steal: list[float] = []
    deadline = time.perf_counter() + ctx.seconds
    while len(passes) < MIN_WARM_PASSES or time.perf_counter() < deadline:
        c0, s0 = common.tree_cpu_s(), common.steal_share()
        passes.append(one_pass(samples))
        s1 = common.steal_share()
        cpu.append(common.tree_cpu_s() - c0)
        steal.append((s1[0] - s0[0]) / max(1, s1[1] - s0[1]))
    ctx.measure_done()

    with tracer.span("validate"):
        check(ctx, names, registry, executions, out)

    if not samples:
        raise GuardError("no query execution succeeded")
    out.metrics.update({
        "cold_s": first,
        "op_p50_s": quantile(samples, 0.5),
        "op_p90_s": quantile(samples, 0.9),
        "work_per_s": len(samples) / sum(passes),
    })
    out.details.update({
        "first_pass_s": first,
        "pass_s": median(passes),
        "query_p50_s": out.metrics["op_p50_s"],
        "query_p90_s": out.metrics["op_p90_s"],
        "warm_passes": len(passes),
        "pass_times_s": passes,
        "pass_cpu_s": cpu,
        "pass_steal": steal,
        "query_times_s": per_query,
        "query_samples": len(samples),
    })
    return out


def check(ctx, names, registry, executions, out: Outcome) -> None:
    """Canonical result hash of every query against the committed
    expected value, taken from the DuckDB oracle. A wrong result fails
    every execution of that query in the run."""
    expected = ctx.expected["queries"][ctx.tier_name]
    for q in names:
        try:
            df = registry[q].fn(ctx.spark, ctx.tier_dir)
            got = rows_hash(df.columns, df.collect())
        except Exception as e:
            out.fail(f"check {q}: {type(e).__name__}: {str(e)[:200]}",
                     ops=executions[q])
            continue
        want = expected.get(q, {}).get("sha256")
        if got != want:
            out.fail(f"check {q}: result hash {got[:12]} != expected "
                     f"{str(want)[:12]}", ops=executions[q])

