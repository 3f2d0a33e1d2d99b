"""Metric names and units the benchmark reports, and the workload guards
that fail a run instead of letting it report a number.

Every workload reports every end-to-end metric; an "operation" is one
query execution (batch_sql) or one event (stream_predict):

- ``setup_s``: process start until the first timed operation can begin
  (JVM, session, input staging; stream_predict adds the datagen → train
  → validate workflow and the generator start).
- ``cold_s``: the first unit of work in the fresh session. The first
  pass (batch_sql), the first events' latency through the just-started
  stream (stream_predict).
- ``op_p50_s`` / ``op_p90_s``: latency of one operation. Warm query
  build+run, event latency at the fixed rate.
- ``work_per_s``: operations completed per second. Warm queries per
  second; events per second draining a preloaded backlog (see
  stream_predict.py for what that drain is made of).

``error_rate`` (``failed / attempted`` of the result line) and
``peak_rss_mb`` (peak RSS of the whole process tree) are printed with
each run's details but not registered: the first is 0, so no relative
bound applies, and the second moved by 24-61% between runs of one
commit (JVM heap growth and the number of live Python workers follow
GC and task timing), wider than any bound a regression check can use.
"""

from __future__ import annotations

END_TO_END_UNITS = {
    "setup_s": "s",
    "cold_s": "s",
    "op_p50_s": "s",
    "op_p90_s": "s",
    "work_per_s": "1/s",
}

PER_LAYER_UNITS = {
    "queries.build_s": "s",
    "queries.py4j_calls": "count",
    "engine.analysis_ms": "ms",
    "engine.optimization_ms": "ms",
    "engine.planning_ms": "ms",
    "engine.codegen_pipeline_ms": "ms",
    "engine.scan_bytes": "bytes",
    "engine.scan_ms": "ms",
    "engine.executor_run_s": "s",
    "engine.gc_s": "s",
    "engine.shuffle_bytes": "bytes",
    "engine.shuffle_records": "count",
    "engine.shuffle_write_ms": "ms",
    "engine.shuffle_fetch_wait_ms": "ms",
    "engine.broadcast_bytes": "bytes",
    "engine.broadcast_collect_ms": "ms",
    "engine.spill_bytes": "bytes",
    "engine.jobs": "count",
    "engine.stages": "count",
    "engine.tasks": "count",
    "engine.failed_tasks": "count",
    "ops.python_run_ms": "ms",
    "ops.python_init_ms": "ms",
    "ops.python_boot_ms": "ms",
    "ops.python_bytes_sent": "bytes",
    "ops.python_bytes_received": "bytes",
    "ops.python_rows_in": "count",
    "ops.rows_out_per_in": "ratio",
    "io.source_latest_offset_ms": "ms",
    "io.source_get_batch_ms": "ms",
    "io.source_rows": "count",
    "io.sink_commits": "count",
    "io.backlog_events": "events",
    "io.generator_lag_s": "s",
    "streaming.batches": "count",
    "streaming.add_batch_ms": "ms",
    "streaming.query_planning_ms": "ms",
    "streaming.wal_commit_ms": "ms",
    "streaming.commit_offsets_ms": "ms",
    "streaming.jobs_per_batch": "ratio",
    "streaming.state_rows": "count",
    "streaming.state_memory_bytes": "bytes",
    "streaming.store_bytes": "bytes",
    "streaming.dup_dropped_ratio": "ratio",
    "ml.train_s": "s",
    "ml.validate_s": "s",
    "workflow.total_s": "s",
    "workflow.dispatch_s": "s",
    "span.pass.self_s": "s",
    "span.query.build.self_s": "s",
    "span.query.run.self_s": "s",
    "span.validate.self_s": "s",
    "span.workflow.job.self_s": "s",
    "span.microbatch.self_s": "s",
    "span.generator.append.self_s": "s",
}

END_TO_END = list(END_TO_END_UNITS)
PER_LAYER = list(PER_LAYER_UNITS)
UNITS = {**END_TO_END_UNITS, **PER_LAYER_UNITS}

# stream_predict: the generator may append at most this late
GENERATOR_LAG_LIMIT_S = 0.25


class GuardError(RuntimeError):
    """A workload ran outside the conditions its figures assume."""


def guard(workload: str, layers: dict) -> None:
    """Traced-run guards on the per-layer counters."""
    sent = layers.get("ops.python_bytes_sent", 0.0)
    if workload == "batch_sql" and sent != 0:
        raise GuardError(f"batch_sql sent {sent:.0f} bytes to Python "
                         "workers; its queries must not use them")
    if workload == "stream_predict" and sent <= 0:
        raise GuardError(f"{workload} sent no bytes to Python workers")
