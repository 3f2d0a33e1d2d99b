#!/usr/bin/env python3
"""Event generator of the stream_predict workload, run as its own
process. It hosts the ``PravegaEmulatorServer`` the stream reads from
and writes to, appends iris-feature events on a fixed schedule (open
loop: the schedule never waits for the system), and watches the
prediction stream to time each event from its due time to the moment
its committed output row is visible here.

Commands arrive as JSON lines on stdin; each gets one JSON line back on
stdout:

- ``{"cmd": "warmup", "n": N}``: append N events at once, wait for them.
- ``{"cmd": "fixed", "rate": R, "seconds": S, "drain": N}``: R events/s
  for at least S seconds, then a backlog of N events; wait until every
  event is out.
- ``{"cmd": "outputs"}``: every event appended and every output row seen.
- ``{"cmd": "stop"}``: shut the server down and exit.

The seed sets the feature noise and which events are redelivered
(about 5%, within a few hundred milliseconds of the original).
"""

from __future__ import annotations

import argparse
import csv
import json
import os
import random
import sys
import threading
import time

SCOPE = "bench"
EVENTS = "events"
PREDICTIONS = "predictions"
DUP_SHARE = 0.05
TICK_S = 0.01
WAIT_LIMIT_S = 60.0


class Generator:
    def __init__(self, seed: int, iris_csv: str):
        from pravega_flink_ai_flow_spark.io.pravega_server import (
            PravegaEmulatorServer,
        )
        with open(iris_csv) as f:
            self.base = [[float(x) for x in row[:4]]
                         for row in csv.reader(f) if row]
        self.rng = random.Random(seed)
        self.server = PravegaEmulatorServer()
        self.server.start()
        for stream in (EVENTS, PREDICTIONS):
            self.server.create_stream(SCOPE, stream)
        self.commits = 0
        commit = self.server.txn_commit

        def counted_commit(*args, **kwargs):
            self.commits += 1
            return commit(*args, **kwargs)
        self.server.txn_commit = counted_commit
        # The source asks for the events tail only when it plans a
        # micro-batch (latestOffset); a larger answer than before marks
        # the planning of a batch with new data. Appends take the same
        # lock, so an event appended after a planning is never in it.
        self.planned = 0
        self.planned_at = 0.0
        self._plan_lock = threading.Lock()
        tail = self.server.tail

        def watched_tail(scope, stream):
            with self._plan_lock:
                t = tail(scope, stream)
                if stream == EVENTS and t > self.planned:
                    self.planned, self.planned_at = t, time.monotonic()
                return t
        self.server.tail = watched_tail
        self.next_id = 0
        self.events: dict[int, list[float]] = {}
        self.seen: dict[int, float] = {}        # event_id -> first seen
        self.outputs: list[list] = []           # [event_id, prediction]
        self.commit_times: list[float] = []     # output tail advances
        self.append_spans: list[list[float]] = []
        self._read = 0
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._poller = threading.Thread(target=self._poll, daemon=True)
        self._poller.start()

    # -- events ------------------------------------------------------------

    def _event(self, due: float) -> dict:
        eid = self.next_id
        self.next_id += 1
        feats = [round(v + self.rng.gauss(0.0, 0.15), 3)
                 for v in self.rng.choice(self.base)]
        self.events[eid] = feats
        return {"event_id": eid,
                "ts": int((time.time() - time.monotonic() + due) * 1e6),
                "due": due, "sl": feats[0], "sw": feats[1],
                "pl": feats[2], "pw": feats[3]}

    def _append(self, batch: list[dict]) -> int:
        start = time.time()
        end = self.server.append(SCOPE, EVENTS, batch)
        self.append_spans.append([start, time.time()])
        return end

    def _poll(self) -> None:
        while not self._stop.is_set():
            tail = self.server.tail(SCOPE, PREDICTIONS)
            if tail > self._read:
                rows = self.server.read(SCOPE, PREDICTIONS, self._read, tail)
                now = time.monotonic()
                with self._lock:
                    for r in rows:
                        self.outputs.append([r["event_id"], r["prediction"]])
                        self.seen.setdefault(r["event_id"], now)
                    self.commit_times.append(now)
                self._read = tail
            time.sleep(0.002)

    def _wait_for(self, ids: list[int]) -> bool:
        deadline = time.monotonic() + WAIT_LIMIT_S
        while time.monotonic() < deadline:
            with self._lock:
                if all(i in self.seen for i in ids):
                    return True
            time.sleep(0.005)
        return False

    def _wait_planned(self, offset: int) -> float | None:
        """Time the source planned a batch ending at or after
        ``offset``."""
        deadline = time.monotonic() + WAIT_LIMIT_S
        while time.monotonic() < deadline:
            with self._plan_lock:
                if self.planned >= offset:
                    return self.planned_at
            time.sleep(0.002)
        return None

    def _latencies(self, due: dict[int, float]) -> list[float]:
        with self._lock:
            return [self.seen[i] - d for i, d in due.items() if i in self.seen]

    # -- commands ----------------------------------------------------------

    def burst(self, n: int) -> dict:
        batch = [self._event(time.monotonic()) for _ in range(n)]
        start = time.monotonic()
        self._append(batch)
        ids = [e["event_id"] for e in batch]
        done = self._wait_for(ids)
        lat = self._latencies({i: start for i in ids})
        return {"complete": done, "n": n,
                "seconds": max(lat) if lat else None}

    def fixed(self, rate: float, seconds: float, drain: int) -> dict:
        """``rate`` events/s for at least ``seconds``, until the source
        plans its next micro-batch (capped at four times ``seconds``).
        The last events are then in that batch, whatever a micro-batch
        costs, and the phase spans at least two commits.

        At that planning a backlog of ``drain`` events is appended. It
        is complete before the next batch is planned, so that batch
        drains it right after the fixed-rate tail, without the no-data
        batch an idle stream would run first. The drain is timed from
        that batch's planning to its last output row."""
        t0 = time.monotonic() + 0.05
        with self._lock:
            commits0 = len(self.commit_times)
        due_of: dict[int, float] = {}
        recent: list[dict] = []
        backlog: list[list[float]] = []
        lag = 0.0
        i = dups = 0
        next_sample = t0
        armed_at = None
        while True:
            now = time.monotonic()
            if armed_at is None and now >= t0 + seconds:
                armed_at = now
            with self._plan_lock:
                over = now >= t0 + 4 * seconds or (
                    armed_at is not None and self.planned_at >= armed_at)
                batch = []
                while not over and t0 + i / rate <= now:
                    due = t0 + i / rate
                    ev = self._event(due)
                    due_of[ev["event_id"]] = due
                    batch.append(ev)
                    recent.append(ev)
                    if self.rng.random() < DUP_SHARE and len(recent) > 1:
                        batch.append(dict(self.rng.choice(recent[-100:])))
                        dups += 1
                    i += 1
                if batch:
                    self._append(batch)
                    lag = max(lag, time.monotonic() - due)
                if over:
                    backlog_batch = [self._event(now) for _ in range(drain)]
                    drain_end = self._append(backlog_batch)
            if now >= next_sample or over:
                with self._lock:
                    seen = sum(1 for e in due_of if e in self.seen)
                backlog.append([now - t0, len(due_of) - seen])
                next_sample = now + 0.05
            if over:
                break
            time.sleep(TICK_S)
        done = self._wait_for(list(due_of))
        with self._lock:
            fixed_out = max((self.seen[e] for e in due_of if e in self.seen),
                            default=now)
            commit_at = [c - t0 for c in self.commit_times[commits0:]
                         if c <= fixed_out]
        drain_ids = [e["event_id"] for e in backlog_batch]
        drain_start = self._wait_planned(drain_end)
        drain_done = drain_start is not None and self._wait_for(drain_ids)
        with self._lock:
            drain_out = max((self.seen.get(e, 0.0) for e in drain_ids),
                            default=0.0)
        return {"complete": done, "n": i, "dups": dups, "lag_s": lag,
                "seconds": now - t0, "commits_s": commit_at,
                "latencies": self._latencies(due_of), "backlog": backlog,
                "drain": {"complete": drain_done, "n": drain,
                          "seconds": (drain_out - drain_start
                                      if drain_done else None)}}

    def dump(self) -> dict:
        with self._lock:
            return {"events": self.events, "outputs": list(self.outputs),
                    "commits": self.commits,
                    "append_spans": self.append_spans}

    def stop(self) -> None:
        self._stop.set()
        self._poller.join(timeout=5)
        self.server.stop()


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--iris", required=True)
    args = ap.parse_args()
    gen = Generator(args.seed, args.iris)
    print(json.dumps({"controller": gen.server.controller_uri}), flush=True)
    try:
        for line in sys.stdin:
            cmd = json.loads(line)
            if cmd["cmd"] == "stop":
                break
            if cmd["cmd"] == "fixed":
                reply = gen.fixed(cmd["rate"], cmd["seconds"], cmd["drain"])
            elif cmd["cmd"] == "warmup":
                reply = gen.burst(cmd["n"])
            elif cmd["cmd"] == "outputs":
                reply = gen.dump()
            else:
                reply = {"error": f"unknown command {cmd['cmd']!r}"}
            print(json.dumps(reply), flush=True)
    finally:
        gen.stop()
    return 0


if __name__ == "__main__":
    sys.path.insert(0, os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))))
    sys.exit(main())
