"""Workload ``stream_predict``: the reference pipeline run as a service.

Set-up runs datagen → train → validate → predict through
``workflow.Workflow`` and ``ml.ops`` on the iris CSVs, with the KNN of
tests/test_iris_workflow.py; the predict job registers ``mypred`` and
starts the stream:

    pravega_socket source → stream_dedup_within_watermark(event_id)
      → mypred(sl, sw, pl, pw) → pravega_socket txn sink

A separate generator process hosts the emulator server and drives three
phases: a warm-up burst (the cold first events), a fixed-rate open loop
below drain capacity (event latency), and a preloaded backlog drain
(throughput). The fixed-rate phase ends when the source plans its first
micro-batch after ``--seconds``; the backlog is appended at that moment,
so the batch after the fixed-rate tail drains it (see generator.py).
Each event is one operation; a missing, duplicated or wrongly predicted
event is a failed one.

The drain: at the package defaults the source sets no per-batch cap
(``maxRecordsPerBatch`` is 0), so a preloaded backlog of n events goes
through in one micro-batch, which takes a + b·n seconds. On a 4-core VM
a 4 000-event backlog drained in 8.1 s and a 40 000-event one in 15.5 s:
a ≈ 7.3 s of per-batch cost (32 shuffle partitions, so 32 state-store
and Python-worker tasks) and b ≈ 0.2 ms per event, a per-event capacity
near 5 000 events/s. The backlog is sized so that the per-event part is
about a third of the drain: ``work_per_s`` then moves with the cost of
reading, predicting and committing each event, not only with the
per-batch cost that ``op_p50_s`` already shows.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

from common import BENCH_DIR, ROOT, Outcome, quantile
from metrics import GENERATOR_LAG_LIMIT_S, GuardError

SCHEMA = ("event_id bigint, ts timestamp, due double, sl double, "
          "sw double, pl double, pw double")
FEATURES = ["sl", "sw", "pl", "pw"]
MODEL = "iris_knn"
# events/s of the fixed-rate phase (one micro-batch a ≈ 7 s holds
# ~1 400 events, far below the one-trigger drain above) and the backlog
# drained at the end
SIZES = {"bench": {"warmup": 50, "rate": 200, "drain": 20000},
         "smoke": {"warmup": 10, "rate": 50, "drain": 500}}


class _Gen:
    """The generator process and its command channel."""

    def __init__(self, seed: int):
        self.proc = subprocess.Popen(
            [sys.executable, os.path.join(BENCH_DIR, "generator.py"),
             "--seed", str(seed),
             "--iris", os.path.join(ROOT, "tests", "data", "iris_test.csv")],
            stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True)
        self.controller = self._read()["controller"]

    def _read(self) -> dict:
        line = self.proc.stdout.readline()
        if not line:
            raise RuntimeError("stream generator exited")
        return json.loads(line)

    def ask(self, **cmd) -> dict:
        self.proc.stdin.write(json.dumps(cmd) + "\n")
        self.proc.stdin.flush()
        return self._read()

    def close(self) -> None:
        if self.proc.poll() is None:
            try:
                self.proc.stdin.write('{"cmd": "stop"}\n')
                self.proc.stdin.close()
            except BrokenPipeError:
                pass
            try:
                self.proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                self.proc.kill()
                self.proc.wait(timeout=30)
        self.proc.stdout.close()


def _workflow(ctx, gen: _Gen, work: str, timings: dict):
    """datagen → train → validate → predict, the reference's DAG and
    control edges; returns the registry and the started stream."""
    from pyspark.sql import types as T

    from pravega_flink_ai_flow_spark.io import batch as io_batch
    from pravega_flink_ai_flow_spark.io import register_pravega_socket
    from pravega_flink_ai_flow_spark.io.pravega_sim import StreamDir
    from pravega_flink_ai_flow_spark.ml import (
        KNNClassifier, ModelEvent, ModelRegistry, ops as ml_ops)
    from pravega_flink_ai_flow_spark.streaming import ops as st
    from pravega_flink_ai_flow_spark.workflow import JobStatus, Workflow

    spark, tracer = ctx.spark, ctx.tracer
    iris = T.StructType([T.StructField(c, T.DoubleType())
                         for c in FEATURES + ["type"]])
    data = os.path.join(ROOT, "tests", "data")
    train_stream = StreamDir(os.path.join(work, "train-stream"), iris)
    registry = ModelRegistry(os.path.join(work, "registry.json"))
    registry.register_model(MODEL, "KNN on iris")
    register_pravega_socket(spark)
    wf = Workflow(spark, registry)

    def timed(name, fn):
        def job(wf):
            t0 = time.perf_counter()
            with tracer.span("workflow.job"):
                result = fn(wf)
            timings[name] = time.perf_counter() - t0
            return result
        return job

    def datagen(wf):
        train_stream.append(io_batch.read_csv(
            spark, os.path.join(data, "iris_train.csv"), iris))

    def train(wf):
        ml_ops.train(train_stream.read_bounded(spark), registry=registry,
                     model_name=MODEL, feature_cols=FEATURES,
                     label_col="type",
                     fit_fn=lambda x, y: KNNClassifier(5).fit(x, y),
                     model_dir=os.path.join(work, "models"))

    def validate(wf):
        return ml_ops.validate(
            io_batch.read_csv(spark, os.path.join(data, "iris_test.csv"),
                              iris),
            registry=registry, model_name=MODEL, feature_cols=FEATURES,
            label_col="type", metrics_path=os.path.join(work, "validate"))

    def predict(wf):
        ml_ops.register_predict_udf(spark, registry=registry,
                                    model_name=MODEL)
        src = (spark.readStream.format("pravega_socket").schema(SCHEMA)
               .option("controller", gen.controller)
               .option("scope", "bench").option("stream", "events").load())
        out = (st.stream_dedup_within_watermark(src, ["event_id"],
                                                watermark="30 seconds")
               .selectExpr("event_id", "due",
                           "mypred(sl, sw, pl, pw) AS prediction"))
        return (out.writeStream.format("pravega_socket")
                .option("controller", gen.controller)
                .option("scope", "bench").option("stream", "predictions")
                .option("checkpointLocation", os.path.join(work, "ck"))
                .start())

    for name, fn in (("datagen", datagen), ("train", train),
                     ("validate", validate), ("predict", predict)):
        wf.job(name, timed(name, fn))
    wf.action_on_job_status("train", "datagen", JobStatus.FINISHED)
    wf.action_on_model_version_event("validate", MODEL,
                                     ModelEvent.MODEL_GENERATED)
    wf.action_on_model_version_event("predict", MODEL,
                                     ModelEvent.MODEL_DEPLOYED)
    t0 = time.perf_counter()
    wf.run()
    timings["total"] = time.perf_counter() - t0
    for j in ("datagen", "train", "validate", "predict"):
        if wf.status(j) != JobStatus.FINISHED:
            raise RuntimeError(f"workflow job {j} did not finish")
    return registry, wf.result("predict")


def run(ctx) -> Outcome:
    from tracing import ProgressLog

    sizes = SIZES[ctx.tier_name]
    out = Outcome()
    work = os.path.join(ctx.run_dir, "stream_predict")
    os.makedirs(work)
    timings: dict[str, float] = {}
    progress = ProgressLog(ctx.spark) if ctx.traced else None
    gen = _Gen(ctx.seed)
    query = None
    try:
        registry, query = _workflow(ctx, gen, work, timings)
        ctx.setup_done()
        if ctx.collector is not None:
            ctx.collector.watch(query)
        warm = gen.ask(cmd="warmup", n=sizes["warmup"])
        _log("warm-up", warm)
        _wait_idle(query)
        fixed = gen.ask(cmd="fixed", rate=sizes["rate"],
                        seconds=ctx.seconds, drain=sizes["drain"])
        drain = fixed.pop("drain")
        _log("fixed rate", fixed)
        _log("drain", drain)
        ctx.measure_done()
        query.stop()
        query = None
        with ctx.tracer.span("validate"):
            dump = gen.ask(cmd="outputs")
            check(registry, dump, out)
    finally:
        if query is not None:
            query.stop()
        gen.close()
        if progress is not None:
            progress.close()

    for phase in (warm, fixed, drain):
        if not phase["complete"]:
            raise GuardError("the stream did not deliver every event within "
                             "the generator's wait limit")
    _guard_fixed_rate(fixed)
    lat = fixed["latencies"]
    out.metrics.update({
        "cold_s": warm["seconds"],
        "op_p50_s": quantile(lat, 0.5),
        "op_p90_s": quantile(lat, 0.9),
        "work_per_s": drain["n"] / drain["seconds"],
    })
    out.details.update({
        "event_latency_p50_s": out.metrics["op_p50_s"],
        "event_latency_p90_s": out.metrics["op_p90_s"],
        "drain_eps": out.metrics["work_per_s"],
        "rate_eps": sizes["rate"], "fixed_events": fixed["n"],
        "fixed_seconds": fixed["seconds"],
        "redelivered": fixed["dups"], "drain_events": drain["n"],
        "generator_lag_s": fixed["lag_s"],
    })
    if ctx.traced:
        _layers(ctx, progress, timings, fixed, dump, work)
    return out


def _wait_idle(query, quiet_s: float = 0.5, limit_s: float = 60.0) -> None:
    """Start the fixed-rate phase on an idle stream: once the warm-up
    events are out, the stateful dedup still runs a no-data micro-batch
    (as long as a data batch) to advance the watermark, and a phase that
    began during it would first wait for it."""
    deadline = time.monotonic() + limit_s
    idle_since = None
    while time.monotonic() < deadline:
        if query.status["isTriggerActive"]:
            idle_since = None
        elif idle_since is None:
            idle_since = time.monotonic()
        elif time.monotonic() - idle_since >= quiet_s:
            return
        time.sleep(0.05)
    raise GuardError(f"the stream did not go idle within {limit_s:.0f} s")


def _log(phase: str, reply: dict) -> None:
    brief = {k: v for k, v in reply.items()
             if k not in ("latencies", "backlog")}
    if "backlog" in reply:
        brief["backlog_max"] = max(b for _, b in reply["backlog"])
    print(f"perfbench: stream_predict {phase}: {json.dumps(brief)}",
          file=sys.stderr, flush=True)


def _guard_fixed_rate(fixed: dict) -> None:
    """Fail the run if the generator fell behind its schedule, or if the
    rate is too close to capacity for the backlog to stay flat.

    The phase starts on an idle stream, so its first micro-batch carries
    a few events and the second one carries a whole batch interval of
    input. If a batch of n rows takes a + b·n seconds, the second takes
    (1 + b·rate) times the first, and the backlog stays bounded only
    while b·rate < 1. The guard asks for b·rate ≤ 0.5."""
    if fixed["lag_s"] > GENERATOR_LAG_LIMIT_S:
        raise GuardError(f"generator ran {fixed['lag_s']:.3f} s late "
                         f"(limit {GENERATOR_LAG_LIMIT_S} s)")
    commits = fixed["commits_s"]
    if len(commits) < 2:
        raise GuardError("fewer than two commits during the fixed-rate "
                         "phase; it is too short to judge the backlog")
    first, second = commits[0], commits[1] - commits[0]
    if second > 1.5 * first:
        raise GuardError(f"a full micro-batch took {second:.1f} s against "
                         f"{first:.1f} s for a nearly empty one: the rate is "
                         "too close to capacity for a flat backlog")


def check(registry, dump: dict, out: Outcome) -> None:
    """Every distinct event exactly once in the output stream, with the
    deployed model's prediction computed here on the driver."""
    import numpy as np

    from pravega_flink_ai_flow_spark.ml import load_model

    events = {int(k): v for k, v in dump["events"].items()}
    out.attempted += len(events)
    model = load_model(registry.get_deployed_model_version(MODEL).model_path)
    ids = sorted(events)
    want = dict(zip(ids, model.predict(
        np.array([events[i] for i in ids])).astype("float64")))
    counts: dict[int, int] = {}
    for eid, pred in dump["outputs"]:
        counts[eid] = counts.get(eid, 0) + 1
        if eid in want and pred != want[eid]:
            out.fail(f"event {eid}: prediction {pred} != {want[eid]}")
    missing = [i for i in ids if i not in counts]
    dup = [i for i, c in counts.items() if c > 1]
    extra = [i for i in counts if i not in want]
    if missing:
        out.fail(f"{len(missing)} events missing", ops=len(missing))
    if dup:
        out.fail(f"{len(dup)} events output more than once", ops=len(dup))
    if extra:
        out.fail(f"{len(extra)} unknown event ids in the output",
                 ops=len(extra))


def _layers(ctx, progress, timings: dict, fixed: dict, dump: dict,
            work: str) -> None:
    from tracing import stream_layers

    jobs = sum(t for k, t in timings.items()
               if k in ("datagen", "train", "validate", "predict"))
    rows_out = len(dump["outputs"])
    ctx.layers.update(stream_layers(ctx, progress.with_data(), rows_out,
                                    os.path.join(work, "ck")))
    ctx.layers.update({
        "io.sink_commits": float(dump["commits"]),
        "io.backlog_events": (sum(b for _, b in fixed["backlog"])
                              / max(1, len(fixed["backlog"]))),
        "io.generator_lag_s": fixed["lag_s"],
        "ml.train_s": timings.get("train", 0.0),
        "ml.validate_s": timings.get("validate", 0.0),
        "workflow.total_s": timings.get("total", 0.0),
        "workflow.dispatch_s": timings.get("total", 0.0) - jobs,
    })
    for start, end in dump["append_spans"]:
        ctx.tracer.add("generator.append", start, end)
