"""Shared plumbing of the pipeline benchmark: run environment, Spark
session lifetime, memory sampling, span tracing and small statistics.

Nothing here imports pyspark at module load; ``prepare_env`` must run
before the first Spark import so the JVM and the Python workers inherit
the pinned environment.
"""

from __future__ import annotations

import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import threading
import time
from contextlib import contextmanager

# Heap of the local-mode Spark JVM. The library default (48g) does not
# fit a 15 GB host; 2g holds every workload of this benchmark and
# caps how far the heap, and with it the resident set, can wander.
JVM_HEAP = "2g"


def effective_cores() -> int:
    """CPUs this process may run on (cgroup/affinity aware)."""
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:  # pragma: no cover - non-Linux
        return os.cpu_count() or 1


def load1() -> float:
    return os.getloadavg()[0]


def cpu_jiffies() -> tuple[int, int]:
    """(steal, total) CPU jiffies of the host since boot: steal is time
    the hypervisor ran something else while a vCPU wanted to run."""
    with open("/proc/stat", encoding="ascii") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return fields[7], sum(fields)


def prepare_env(root: str, work: str) -> None:
    """Pin the run environment before Spark is imported: cores, JVM
    heap, scratch and temp dirs inside ``work``, and the checkout on the
    Python workers' import path."""
    for sub in ("spark-local", "tmp", "jtmp"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(effective_cores())
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = JVM_HEAP
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    pp = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = root if not pp else f"{root}{os.pathsep}{pp}"
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    tempfile.tempdir = os.environ["TMPDIR"]


def session_conf(work: str) -> dict[str, str]:
    return {
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": "-Djava.io.tmpdir="
        + os.path.join(work, "jtmp"),
    }


# ---------------------------------------------------------------------------
# Process tree: the Spark JVM and the Python workers it forks
# ---------------------------------------------------------------------------


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", "rb") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may hold spaces; fields resume after ')'
        ppid = int(stat[stat.rindex(b")") + 2:].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants(pid: int) -> list[int]:
    kids = _children_map()
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        for c in kids.get(p, []):
            out.append(c)
            todo.append(c)
    return out


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status", "rb") as f:
            for line in f:
                if line.startswith(b"VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _is_python(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/comm", "rb") as f:
            return f.read().startswith(b"python")
    except OSError:
        return False


class RssSampler:
    """Peak summed RSS of a JVM and the Python processes below it,
    sampled on a background thread every ``period_s``. Other descendants
    are skipped: a child the JVM is still spawning shares the JVM's
    address space until it execs, and counting it would add a phantom
    JVM-sized spike."""

    def __init__(self, pid: int, period_s: float = 0.1) -> None:
        self.pid = pid
        self.period_s = period_s
        self.peak_kb = 0
        self.peak_parts: dict = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _sample(self) -> None:
        kids = [p for p in descendants(self.pid) if _is_python(p)]
        jvm = _rss_kb(self.pid)
        total = jvm + sum(_rss_kb(p) for p in kids)
        if total > self.peak_kb:
            self.peak_kb = total
            self.peak_parts = {"jvm_mb": jvm / 1024, "children": len(kids)}

    def _run(self) -> None:
        while not self._stop.wait(self.period_s):
            self._sample()

    def __enter__(self) -> "RssSampler":
        self._sample()
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self._sample()

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0


# ---------------------------------------------------------------------------
# Spark session lifetime
# ---------------------------------------------------------------------------


class Session:
    """One Spark session on a freshly launched JVM. ``close``
    stops the session, ends the JVM and waits for every process the JVM
    forked, so nothing outlives the run."""

    def __init__(self, work: str, tracer: "Tracer | None" = None) -> None:
        from gcs_parquet_dataflow_spark.session import get_spark

        t0 = time.perf_counter()
        self.spark = get_spark(
            app_name="perfbench", extra_conf=session_conf(work)
        )
        self.get_spark_s = time.perf_counter() - t0
        if tracer is not None:
            tracer.record("session.get_spark", t0, t0 + self.get_spark_s)
        from pyspark import SparkContext

        self.jvm_pid = SparkContext._gateway.proc.pid

    def close(self) -> None:
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        forked = descendants(self.jvm_pid)
        try:
            self.spark.stop()
        finally:
            if gateway is not None:
                gateway.shutdown()
                proc = gateway.proc
                if proc.stdin is not None:
                    proc.stdin.close()  # the JVM exits on stdin EOF
                try:
                    proc.wait(timeout=30)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait()
            SparkContext._gateway = None
            SparkContext._jvm = None
            _reap(forked)


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat", "rb") as f:
            stat = f.read()
    except OSError:
        return False
    return stat[stat.rindex(b")") + 2:][:1] != b"Z"


def _reap(pids: list[int], timeout_s: float = 15.0) -> None:
    """Wait for processes that are not our children to end; kill what
    is still running after ``timeout_s``."""
    deadline = time.monotonic() + timeout_s
    live = [p for p in pids if _alive(p)]
    while live and time.monotonic() < deadline:
        time.sleep(0.05)
        live = [p for p in live if _alive(p)]
    for p in live:
        try:
            os.kill(p, signal.SIGKILL)
        except OSError:
            pass


def reset_dir(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path, exist_ok=True)
    return path


# ---------------------------------------------------------------------------
# Tracing: spans around the library's public entry points
# ---------------------------------------------------------------------------


class Tracer:
    """In-memory spans (name, start, end, parent, run id), written out
    once at exit. Spans nest per thread; ``wrap`` replaces a function at
    the module attribute its caller resolves and ``restore`` undoes it."""

    def __init__(self, run_id: str) -> None:
        self.run_id = run_id
        self.spans: list[dict] = []
        self.counts: dict[str, float] = {}
        self._local = threading.local()
        self._lock = threading.Lock()
        self._patched: list[tuple[object, str, object]] = []
        self.enabled = False

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def record(self, name: str, start: float, end: float) -> None:
        stack = self._stack()
        with self._lock:
            self.spans.append({
                "id": len(self.spans), "name": name, "start": start,
                "end": end, "parent": stack[-1] if stack else None,
                "run": self.run_id,
            })

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        stack = self._stack()
        with self._lock:
            sid = len(self.spans)
            rec = {"id": sid, "name": name, "start": time.perf_counter(),
                   "end": None, "parent": stack[-1] if stack else None,
                   "run": self.run_id}
            self.spans.append(rec)
        stack.append(sid)
        try:
            yield
        finally:
            stack.pop()
            rec["end"] = time.perf_counter()

    def add(self, name: str, value: float) -> None:
        if self.enabled:
            with self._lock:
                self.counts[name] = self.counts.get(name, 0) + value

    def wrap(self, module, attr: str, name: str, after=None) -> None:
        """Time ``module.attr`` as span ``name``; ``after(result, args,
        kwargs)`` runs inside the span (to force lazy results or count)."""
        orig = getattr(module, attr)

        def traced(*args, **kwargs):
            with self.span(name):
                result = orig(*args, **kwargs)
                if after is not None and self.enabled:
                    after(result, args, kwargs)
                return result

        traced.__wrapped__ = orig
        setattr(module, attr, traced)
        self._patched.append((module, attr, orig))

    def restore(self) -> None:
        while self._patched:
            module, attr, orig = self._patched.pop()
            setattr(module, attr, orig)

    def total(self, name: str) -> float:
        return sum(s["end"] - s["start"] for s in self.spans
                   if s["name"] == name and s["end"] is not None)

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w", encoding="utf-8") as f:
            json.dump({"run": self.run_id, "spans": self.spans,
                       "counts": self.counts}, f)


# ---------------------------------------------------------------------------
# Statistics
# ---------------------------------------------------------------------------


def percentile(values: list[float], q: float) -> float:
    """Nearest-rank percentile (q in 0..100): the smallest value with at
    least q% of the values at or below it."""
    s = sorted(values)
    if not s:
        raise ValueError("percentile of no values")
    k = math.ceil(q / 100.0 * len(s) - 1e-9) - 1
    return s[max(0, min(len(s) - 1, k))]


def median(values: list[float]) -> float:
    return statistics.median(values)


def parquet_rows(path: str) -> int:
    """Rows in every Parquet file under ``path``, from the footers."""
    import pyarrow.parquet as pq

    return sum(pq.read_metadata(os.path.join(d, f)).num_rows
               for d, _, files in os.walk(path)
               for f in files if f.endswith(".parquet"))
