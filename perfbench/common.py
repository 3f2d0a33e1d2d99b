"""Shared pieces of the benchmark: checkout paths, the process
environment, session start/stop, percentiles, result hashing and the
process-tree RSS sampler."""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import statistics
import sys
import threading

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
WORK_DIR = os.path.join(BENCH_DIR, ".work")
OUT_DIR = os.path.join(BENCH_DIR, "out")
TEMPLATE_DIR = os.path.join(BENCH_DIR, "data", "sf0.001")
PACKAGE = "pravega_flink_ai_flow_spark"


def program_present() -> bool:
    """The package under test and the helpers the checks import live at
    the checkout root; without them there is nothing to measure."""
    return (os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py"))
            and os.path.isfile(os.path.join(ROOT, "tools",
                                            "check_correctness.py")))


def prepare_environment(run_dir: str) -> None:
    """Keep every file the run writes inside the checkout and let Python
    workers import the package. Spark session settings stay the
    package's own defaults: nothing here is a Spark conf."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    os.environ["JAVA_TOOL_OPTIONS"] = (f"-Djava.io.tmpdir={tmp} "
                                       "-XX:-UsePerfData")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    paths = [ROOT, os.path.join(ROOT, "tools")]
    if os.environ.get("PYTHONPATH"):
        paths.append(os.environ["PYTHONPATH"])
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    for p in paths[:2]:
        if p not in sys.path:
            sys.path.insert(0, p)


def cores() -> int:
    return len(os.sched_getaffinity(0))


def start_spark(app: str):
    """``get_spark`` with only the master set: local[<usable cores>]."""
    from pravega_flink_ai_flow_spark.engine.session import get_spark
    spark = get_spark(app, master=f"local[{cores()}]")
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for it."""
    from pyspark import SparkContext
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    try:
        spark.stop()
    finally:
        if gateway is not None:
            gateway.shutdown()
        if proc is not None:
            if proc.stdin is not None:
                proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except Exception:
                proc.kill()
                proc.wait(timeout=30)


def quantile(values: list[float], q: float) -> float:
    """Linear-interpolated quantile, q in [0, 1]."""
    xs = sorted(values)
    if not xs:
        raise ValueError("quantile of no samples")
    pos = q * (len(xs) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def median(values: list[float]) -> float:
    return statistics.median(values)


def _sig(v):
    """Round floats to 12 significant digits: large sums differ between
    engines (and summation orders) in their last bits, beyond the
    6-decimal rounding of canon_rows."""
    if isinstance(v, float):
        return float(f"{v:.12g}")
    if isinstance(v, tuple):
        return tuple(_sig(x) for x in v)
    return v


def rows_hash(columns: list[str], rows: list) -> str:
    """sha256 over the canonical rows of tools/check_correctness, floats
    held to 12 significant digits."""
    from check_correctness import canon_rows
    cols, canon = canon_rows(list(columns), [tuple(r) for r in rows])
    canon = [_sig(r) for r in canon]
    return hashlib.sha256(repr((cols, canon)).encode()).hexdigest()


def load_expected() -> dict:
    with open(os.path.join(BENCH_DIR, "expected.json")) as f:
        return json.load(f)


def run_key(workload: str, tier: str, seed: int, seconds: float) -> str:
    """Names a run's output files: runs with the same key measure the
    same work, so a traced run compares only with its own key."""
    return f"{workload}-{tier}-seed{seed}-s{seconds:g}"


def new_run_dir(tag: str) -> str:
    path = os.path.join(WORK_DIR, f"run-{tag}-{os.getpid()}")
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path


def _children() -> dict[int, list[int]]:
    tree: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        tree.setdefault(ppid, []).append(int(name))
    return tree


def descendants(pid: int) -> list[int]:
    tree, out, todo = _children(), [], [pid]
    while todo:
        for c in tree.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def tree_cpu_s() -> float:
    """User+system CPU seconds of this process and its live descendants
    (plus descendants already reaped)."""
    total = 0
    for pid in [os.getpid()] + descendants(os.getpid()):
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += sum(int(x) for x in fields[11:15])
    return total / os.sysconf("SC_CLK_TCK")


def steal_share() -> tuple[int, int]:
    """(steal ticks, all ticks) of the whole machine since boot."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    return ticks[7], sum(ticks)


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
    except OSError:
        return 0


class RssSampler:
    """Peak resident set of this process and all its descendants (JVM,
    Python workers, generator), sampled on a background thread."""

    def __init__(self, interval: float = 0.2):
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True,
                                        name="rss-sampler")

    def _sample(self) -> None:
        me = os.getpid()
        total = sum(_rss_bytes(p) for p in [me] + descendants(me))
        self.peak = max(self.peak, total)

    def _loop(self) -> None:
        while not self._stop.wait(self.interval):
            self._sample()

    def __enter__(self) -> "RssSampler":
        self._sample()
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    @property
    def peak_mb(self) -> float:
        return self.peak / 2**20


class Outcome:
    """Counts of attempted and failed operations plus the metric values
    one workload reports. ``details`` holds the workload's own named
    figures (printed, not part of the result line)."""

    def __init__(self) -> None:
        self.attempted = 0
        self.failed = 0
        self.correct = True
        self.problems: list[str] = []
        self.metrics: dict[str, float] = {}
        self.details: dict[str, object] = {}

    def fail(self, problem: str, ops: int = 1) -> None:
        self.failed += ops
        self.correct = False
        self.problems.append(problem)
