"""Tracing for the traced run: spans recorded in memory around each call
into a layer, plus collectors that read the engine's own counters
without the web UI.

- Catalyst phase times come from ``QueryExecution.tracker()`` of every
  execution that actually planned (a ``noop`` write builds its own
  QueryExecution), delivered by a QueryExecutionListener.
- SQL metrics come from the same executions' executed plans, walked
  through AQE query stages (codegen, scan, exchange, broadcast, spill and
  Python-worker metrics).
- Jobs, stages and tasks come from the application status store; task
  time, GC time and input bytes from its executor summary.
- Streams report through a StreamingQueryListener.

With tracing off none of this is attached: ``Tracer.span`` only yields.
"""

from __future__ import annotations

import itertools
import json
import threading
import time
from contextlib import contextmanager

SPAN_NAMES = ("pass", "query.build", "query.run", "validate",
              "workflow.job", "microbatch", "generator.append")


class Tracer:
    """Spans with name, start, end, span id, parent id and trace id.
    A span opened with no open parent starts a new trace."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._stack: list[dict] = []
        self._lock = threading.Lock()

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        sid = next(self._ids)
        rec = {"name": name, "span_id": sid,
               "parent_id": parent["span_id"] if parent else None,
               "trace_id": parent["trace_id"] if parent else sid,
               "start": time.time()}
        self._stack.append(rec)
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.time()
            with self._lock:
                self.spans.append(rec)

    def add(self, name: str, start: float, end: float) -> None:
        """Record a root span measured elsewhere (stream progress, the
        generator process)."""
        sid = next(self._ids)
        with self._lock:
            self.spans.append({"name": name, "span_id": sid,
                               "parent_id": None, "trace_id": sid,
                               "start": start, "end": end})

    def self_times(self) -> dict[str, float]:
        """Per span name: total duration minus the part of each span's
        interval that its child spans cover."""
        kids: dict[int, list[dict]] = {}
        for s in self.spans:
            if s["parent_id"] is not None:
                kids.setdefault(s["parent_id"], []).append(s)
        out = {n: 0.0 for n in SPAN_NAMES}
        for s in self.spans:
            covered, cur_lo, cur_hi = 0.0, None, None
            for c in sorted(kids.get(s["span_id"], []),
                            key=lambda c: c["start"]):
                lo, hi = max(c["start"], s["start"]), min(c["end"], s["end"])
                if hi <= lo:
                    continue
                if cur_hi is None or lo > cur_hi:
                    if cur_hi is not None:
                        covered += cur_hi - cur_lo
                    cur_lo, cur_hi = lo, hi
                else:
                    cur_hi = max(cur_hi, hi)
            if cur_hi is not None:
                covered += cur_hi - cur_lo
            out[s["name"]] = out.get(s["name"], 0.0) + (
                s["end"] - s["start"] - covered)
        return out

    def total(self, name: str) -> float:
        return sum(s["end"] - s["start"] for s in self.spans
                   if s["name"] == name)

    def self_times_metrics(self) -> dict[str, float]:
        return {f"span.{n}.self_s": v for n, v in self.self_times().items()
                if n in SPAN_NAMES}

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(sorted(self.spans, key=lambda s: s["start"]), f)


def _items(scala_iterable):
    it = scala_iterable.iterator()
    while it.hasNext():
        yield it.next()


# SQL metric name -> (per-layer key, scale to the key's unit)
_SUMMED = {
    "pipelineTime": ("engine.codegen_pipeline_ms", 1.0),
    "scanTime": ("engine.scan_ms", 1.0),
    "spillSize": ("engine.spill_bytes", 1.0),
    "pythonTotalTime": ("ops.python_run_ms", 1.0),
    "pythonInitTime": ("ops.python_init_ms", 1.0),
    "pythonBootTime": ("ops.python_boot_ms", 1.0),
    "pythonDataSent": ("ops.python_bytes_sent", 1.0),
    "pythonDataReceived": ("ops.python_bytes_received", 1.0),
    "pythonNumRowsReceived": ("ops.python_rows_out", 1.0),
}
_EXCHANGE = {
    "dataSize": ("engine.shuffle_bytes", 1.0),
    "shuffleRecordsWritten": ("engine.shuffle_records", 1.0),
    "shuffleWriteTime": ("engine.shuffle_write_ms", 1e-6),
    "fetchWaitTime": ("engine.shuffle_fetch_wait_ms", 1.0),
}
_BROADCAST = {
    "dataSize": ("engine.broadcast_bytes", 1.0),
    "collectTime": ("engine.broadcast_collect_ms", 1.0),
}
ENGINE_KEYS = (
    "engine.analysis_ms", "engine.optimization_ms", "engine.planning_ms",
    "engine.codegen_pipeline_ms", "engine.scan_bytes", "engine.scan_ms",
    "engine.executor_run_s", "engine.gc_s", "engine.shuffle_bytes",
    "engine.shuffle_records", "engine.shuffle_write_ms",
    "engine.shuffle_fetch_wait_ms", "engine.broadcast_bytes",
    "engine.broadcast_collect_ms", "engine.spill_bytes", "engine.jobs",
    "engine.stages", "engine.tasks", "engine.failed_tasks",
    "ops.python_run_ms", "ops.python_init_ms", "ops.python_boot_ms",
    "ops.python_bytes_sent", "ops.python_bytes_received",
    "ops.python_rows_in", "ops.rows_out_per_in",
)
# row-preserving wrappers looked through to find a Python node's input rows
_PASS_THROUGH = ("WholeStageCodegenExec", "InputAdapter", "ProjectExec",
                 "ColumnarToRowExec", "AQEShuffleReadExec",
                 "ShuffleQueryStageExec", "CoalesceExec")


class EngineCollector:
    """Catalyst phases, SQL metrics and scheduler counts of everything the
    session runs between ``start`` and ``stop``."""

    class _Listener:
        def __init__(self, outer: "EngineCollector"):
            self.outer = outer

        def onSuccess(self, func, qe, duration_ns):
            self.outer._on_execution(qe)

        def onFailure(self, func, qe, exc):
            self.outer._on_execution(qe)

        class Java:
            implements = ["org.apache.spark.sql.util.QueryExecutionListener"]

    def __init__(self, spark):
        self.spark = spark
        self.totals: dict[str, float] = {k: 0.0 for k in ENGINE_KEYS}
        self.totals["ops.python_rows_out"] = 0.0
        self.executions = 0
        self.walk_errors = 0
        self._lock = threading.Lock()
        self._listener = None
        self.py4j_calls = 0
        self._counting = False
        self._main = threading.get_ident()
        self._batches: dict = {}
        self._unwatch = threading.Event()
        self._watcher = None

    # -- lifecycle ---------------------------------------------------------

    def start(self) -> None:
        from pyspark.java_gateway import ensure_callback_server_started
        sc = self.spark.sparkContext
        ensure_callback_server_started(sc._gateway)
        self._listener = self._Listener(self)
        self.spark._jsparkSession.listenerManager().register(self._listener)
        self._exec0 = self._executor_totals()
        self._job0 = self._max_job_id()
        client = sc._gateway._gateway_client
        send = client.send_command
        outer = self

        def counting_send(*args, **kwargs):
            if outer._counting and threading.get_ident() == outer._main:
                outer.py4j_calls += 1
            return send(*args, **kwargs)
        client.send_command = counting_send
        self._client, self._send = client, send

    def drain(self) -> None:
        """Wait until the listener bus has delivered every event so far."""
        self.spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()

    def stop(self) -> dict[str, float]:
        if self._watcher is not None:
            self._unwatch.set()
            self._watcher.join(timeout=5)
            for qe in self._batches.values():
                self._on_execution(qe)
        self.drain()
        self.spark._jsparkSession.listenerManager().unregister(self._listener)
        self._client.send_command = self._send
        ex = self._executor_totals()
        self.totals["engine.executor_run_s"] = (ex[0] - self._exec0[0]) / 1e3
        self.totals["engine.gc_s"] = (ex[1] - self._exec0[1]) / 1e3
        self.totals["engine.scan_bytes"] = float(ex[2] - self._exec0[2])
        jobs, stages = self._jobs_since(self._job0)
        failed = ex[4] - self._exec0[4]
        self.totals.update({"engine.jobs": jobs, "engine.stages": stages,
                            "engine.tasks": float(ex[3] - self._exec0[3]
                                                  + failed),
                            "engine.failed_tasks": float(failed)})
        rows_in = self.totals["ops.python_rows_in"]
        self.totals["ops.rows_out_per_in"] = (
            self.totals["ops.python_rows_out"] / rows_in if rows_in else 0.0)
        return {k: self.totals[k] for k in ENGINE_KEYS}

    def add_analysis(self, df) -> None:
        """Analysis runs in the built DataFrame's own QueryExecution
        (``df.schema``); the write's QueryExecution reuses the result."""
        phases = df._jdf.queryExecution().tracker().phases()
        for kv in _items(phases):
            if kv._1() == "analysis":
                with self._lock:
                    self.totals["engine.analysis_ms"] += kv._2().durationMs()

    @contextmanager
    def counting_py4j(self):
        self._counting = True
        try:
            yield
        finally:
            self._counting = False

    # -- status store ------------------------------------------------------

    def _store(self):
        return self.spark.sparkContext._jsc.sc().statusStore()

    def _executor_totals(self) -> tuple[int, ...]:
        """(task ms, GC ms, input bytes, tasks finished, tasks failed)."""
        tot = [0, 0, 0, 0, 0]
        for e in _items(self._store().executorList(False)):
            for i, v in enumerate((e.totalDuration(), e.totalGCTime(),
                                   e.totalInputBytes(), e.completedTasks(),
                                   e.failedTasks())):
                tot[i] += v
        return tuple(tot)

    def _all_jobs(self):
        jvm = self.spark.sparkContext._jvm
        return _items(self._store().jobsList(jvm.java.util.ArrayList()))

    def _max_job_id(self) -> int:
        return max((j.jobId() for j in self._all_jobs()), default=-1)

    def _jobs_since(self, job0: int) -> tuple[float, float]:
        jobs = stages = 0
        for j in self._all_jobs():
            if j.jobId() > job0:
                jobs += 1
                stages += j.numCompletedStages() + j.numFailedStages()
        return float(jobs), float(stages)

    # -- per execution -----------------------------------------------------

    def watch(self, query) -> None:
        """Micro-batches do not reach QueryExecutionListeners, and by the
        time a progress event arrives the next batch may have replaced
        the stream's last execution. Poll it instead, keep one
        IncrementalExecution per batch id, and walk them at ``stop``."""
        stream = query._jsq.streamingQuery()

        def poll() -> None:
            while not self._unwatch.wait(0.05):
                qe = stream.lastExecution()
                if qe is not None:
                    self._batches.setdefault(qe.currentBatchId(), qe)
        self._watcher = threading.Thread(target=poll, daemon=True,
                                         name="stream-watch")
        self._watcher.start()

    def _on_execution(self, qe) -> None:
        try:
            phases = {kv._1(): kv._2().durationMs()
                      for kv in _items(qe.tracker().phases())}
            sums: dict[str, float] = {}
            self._walk(qe.executedPlan(), sums)
        except Exception:
            with self._lock:
                self.walk_errors += 1
            return
        with self._lock:
            self.executions += 1
            for phase in ("analysis", "optimization", "planning"):
                self.totals[f"engine.{phase}_ms"] += phases.get(phase, 0)
            for k, v in sums.items():
                self.totals[k] = self.totals.get(k, 0.0) + v

    def _walk(self, plan, sums: dict) -> None:
        cls = plan.getClass().getSimpleName()
        if cls == "ReusedExchangeExec":
            return      # counted where the exchange first ran
        metrics = {kv._1(): kv._2().value() for kv in _items(plan.metrics())}
        table = (_EXCHANGE if cls == "ShuffleExchangeExec"
                 else _BROADCAST if cls == "BroadcastExchangeExec" else {})
        for name, value in metrics.items():
            key, scale = table.get(name) or _SUMMED.get(name, (None, 0))
            if key is not None:
                sums[key] = sums.get(key, 0.0) + value * scale
        if metrics.get("pythonDataSent", 0) > 0:
            sums["ops.python_rows_in"] = (sums.get("ops.python_rows_in", 0.0)
                                          + self._input_rows(plan))
        if cls == "AdaptiveSparkPlanExec":
            self._walk(plan.executedPlan(), sums)
            return
        if cls.endswith("QueryStageExec"):
            self._walk(plan.plan(), sums)
            return
        for child in _items(plan.children()):
            self._walk(child, sums)
        for sub in _items(plan.subqueries()):
            self._walk(sub, sums)

    def _input_rows(self, plan) -> float:
        """Rows entering a Python node: the nearest row counter below it,
        looking through row-preserving wrappers."""
        node = plan
        for _ in range(12):
            children = list(_items(node.children()))
            cls = node.getClass().getSimpleName()
            if cls.endswith("QueryStageExec"):
                children = [node.plan()]
            if not children:
                return 0.0
            node = children[0]
            metrics = {kv._1(): kv._2().value()
                       for kv in _items(node.metrics())}
            for name in ("numOutputRows", "recordsRead"):
                if name in metrics:
                    return float(metrics[name])
            if node.getClass().getSimpleName() not in _PASS_THROUGH:
                return 0.0
        return 0.0


class ProgressLog:
    """StreamingQueryListener that keeps every progress event (the query
    object itself keeps only the last 100)."""

    def __init__(self, spark):
        from pyspark.sql.streaming import StreamingQueryListener

        outer = self
        self.events: list = []

        class _L(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                outer.events.append(event.progress)

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self._listener = _L()
        self.spark = spark
        spark.streams.addListener(self._listener)

    def close(self) -> None:
        self.spark.streams.removeListener(self._listener)

    def with_data(self) -> list:
        return [p for p in self.events if p.numInputRows > 0]


def _dir_bytes(path: str) -> int:
    import os
    total = 0
    for root, _, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(root, f))
            except OSError:
                pass
    return total


def stream_layers(ctx, batches: list, rows_out: int,
                  *store_paths: str) -> dict[str, float]:
    """Per-layer figures of one stream from its progress events (batches
    that carried data). Durations are per-batch medians; the job count
    comes from the engine collector of the same window."""
    from datetime import datetime, timezone
    from statistics import median

    def per_batch(key: str) -> float:
        return float(median(p.durationMs.get(key, 0) for p in batches)) \
            if batches else 0.0

    rows_in = sum(p.numInputRows for p in batches)
    state = next((p.stateOperators for p in reversed(batches)
                  if p.stateOperators), [])
    for p in batches:
        start = datetime.strptime(p.timestamp, "%Y-%m-%dT%H:%M:%S.%fZ") \
            .replace(tzinfo=timezone.utc).timestamp()
        ctx.tracer.add("microbatch", start, start + p.batchDuration / 1e3)
    return {
        "streaming.batches": float(len(batches)),
        "streaming.add_batch_ms": per_batch("addBatch"),
        "streaming.query_planning_ms": per_batch("queryPlanning"),
        "streaming.wal_commit_ms": per_batch("walCommit"),
        "streaming.commit_offsets_ms": per_batch("commitOffsets"),
        "io.source_latest_offset_ms": per_batch("latestOffset"),
        "io.source_get_batch_ms": per_batch("getBatch"),
        "io.source_rows": float(rows_in),
        "streaming.jobs_per_batch": (ctx.layers.get("engine.jobs", 0.0)
                                     / len(batches) if batches else 0.0),
        "streaming.state_rows": float(sum(s.numRowsTotal for s in state)),
        "streaming.state_memory_bytes": float(
            sum(s.memoryUsedBytes for s in state)),
        "streaming.store_bytes": float(sum(_dir_bytes(p)
                                           for p in store_paths)),
        "streaming.dup_dropped_ratio": (1.0 - rows_out / rows_in
                                        if rows_in else 0.0),
    }
