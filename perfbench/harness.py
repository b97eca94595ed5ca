"""Measurement plumbing shared by the workloads: span tracer, process-tree
memory sampler, CPU calibration kernel, percentiles, source digest and the
Spark session lifecycle.

Nothing here imports the engine at module load; ``start_spark`` imports
it lazily so a checkout without the engine fails with a clear error.
"""

from __future__ import annotations

import hashlib
import itertools
import json
import math
import multiprocessing
import os
import signal
import statistics
import subprocess
import sys
import threading
import time
from contextlib import contextmanager

_T0 = time.perf_counter()


def log(msg: str) -> None:
    """Progress line on standard error, stamped with seconds since start."""
    print(f"perfbench [{time.perf_counter() - _T0:7.1f}s] {msg}", file=sys.stderr, flush=True)


# ---------------------------------------------------------------- tracing


class Tracer:
    """In-memory spans taken around the engine's public calls.

    A span is (id, name, start, end, parent id, request id). The name is
    ``<layer>:<call>``; the parent is the enclosing span of the same
    thread. With ``enabled=False`` ``span`` is a no-op context manager,
    so the untraced run pays one generator per call and nothing else."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[tuple] = []
        self._ids = itertools.count(1)
        self._local = threading.local()

    @contextmanager
    def span(self, name: str, rid: int | None = None):
        if not self.enabled:
            yield
            return
        stack = self._local.__dict__.setdefault("stack", [])
        sid = next(self._ids)
        parent = stack[-1] if stack else None
        stack.append(sid)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            t1 = time.perf_counter()
            stack.pop()
            self.spans.append((sid, name, t0, t1, parent, rid))

    def durations(self, name: str) -> list[float]:
        return [s[3] - s[2] for s in self.spans if s[1] == name]

    def self_times(self) -> dict[str, float]:
        """Layer -> summed self time (s): a span's duration minus the
        time its child spans cover. Children run on the parent's thread,
        one after another, so their durations add without overlap."""
        child = {}
        for s in self.spans:
            if s[4] is not None:
                child[s[4]] = child.get(s[4], 0.0) + (s[3] - s[2])
        out: dict[str, float] = {}
        for s in self.spans:
            layer = s[1].split(":", 1)[0]
            out[layer] = out.get(layer, 0.0) + (s[3] - s[2]) - child.get(s[0], 0.0)
        return out

    def span_cost_s(self, n: int = 20_000) -> float:
        """Measured cost of recording one span on this machine."""
        probe = Tracer(True)
        t0 = time.perf_counter()
        for _ in range(n):
            with probe.span("trace:probe"):
                pass
        return (time.perf_counter() - t0) / n

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for sid, name, t0, t1, parent, rid in self.spans:
                fh.write(json.dumps({"id": sid, "name": name, "start": t0,
                                     "end": t1, "parent": parent,
                                     "request": rid}) + "\n")


# ------------------------------------------------------------ memory sampler


def _pss_kb(pid: int) -> int:
    """Proportional set size: shared pages are split among the processes
    mapping them, so Python workers forked from one daemon are not
    counted once per worker as their RSS would be."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as fh:
            for line in fh:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except (OSError, ValueError):
        pass
    return 0


def descendants(root: int) -> list[int]:
    """Live (non-zombie) descendants of ``root``."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except (OSError, IndexError):
            continue
        if fields[0] != "Z":
            children.setdefault(int(fields[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        for pid in children.get(todo.pop(), []):
            out.append(pid)
            todo.append(pid)
    return out


def reap_children(timeout: float = 10.0) -> None:
    """Terminate and wait for every process this one still has running
    (the multiprocessing resource tracker outlives the oracle's pool)."""
    from multiprocessing import resource_tracker

    stop = getattr(resource_tracker._resource_tracker, "_stop", None)
    if stop is not None:  # the tracker ignores SIGTERM; closing its pipe ends it
        stop()
    deadline = time.monotonic() + timeout
    while True:
        left = descendants(os.getpid())
        for pid in left:
            try:
                os.kill(pid, signal.SIGTERM if time.monotonic() < deadline else signal.SIGKILL)
            except OSError:
                pass
        for pid in left:
            try:
                os.waitpid(pid, os.WNOHANG)
            except ChildProcessError:  # not a direct child
                pass
        if not left:
            return
        time.sleep(0.1)


def _sample_tree(root: int, period: float, conn) -> None:
    """Sampler process body: (monotonic time, PSS kB) of ``root`` and
    its descendants, less this process, every ``period`` seconds until
    ``conn`` receives; then the samples are sent back."""
    me = os.getpid()
    samples = []
    while True:
        tree = [p for p in [root] + descendants(root) if p != me]
        samples.append((time.monotonic(), sum(_pss_kb(p) for p in tree)))
        if conn.poll(period):
            conn.send(samples)
            return


class MemSampler:
    """Process-tree PSS (driver, JVM, Python workers), sampled every
    ``period`` seconds between ``start`` and ``stop``. The sampler is a
    separate process: a thread here would take the interpreter lock from
    the serve clients for a few milliseconds per sample."""

    def __init__(self, period: float = 0.2):
        ctx = multiprocessing.get_context("spawn")
        self._conn, child = ctx.Pipe()
        self._proc = ctx.Process(target=_sample_tree, daemon=True,
                                 args=(os.getpid(), period, child))
        self.samples: list[tuple[float, int]] | None = None

    def start(self) -> "MemSampler":
        self._proc.start()
        return self

    def stop(self) -> None:
        """Stop sampling and collect the samples (idempotent)."""
        if self.samples is None:
            try:
                self._conn.send(None)
                self.samples = self._conn.recv() if self._conn.poll(10) else []
            except (OSError, EOFError):  # the sampler died
                self.samples = []
            self._proc.join(timeout=10)

    def peak_mb(self) -> float:
        return max((kb for _t, kb in self.samples), default=0) / 1024.0

    def median_mb(self, t0: float, t1: float) -> float:
        """Median PSS of the samples taken between monotonic ``t0`` and ``t1``."""
        inside = [kb for t, kb in self.samples if t0 <= t <= t1]
        return median(inside) / 1024.0 if inside else 0.0


# ------------------------------------------------------------- context


def calibrate() -> float:
    """Fixed CPU kernel (numpy multiply-add sweep + sha256 over 40 MB),
    best of 3, in seconds. Recorded at the start and end of every run so
    a run on a contended machine identifies itself; it is context, not a
    metric."""
    import numpy as np

    a = np.arange(2_000_000, dtype=np.float64)
    buf = b"x" * 1_000_000
    best = float("inf")
    for _ in range(3):
        t = time.perf_counter()
        x = a.copy()
        for _ in range(25):
            x = x * 1.0000001 + 0.5
        h = hashlib.sha256()
        for _ in range(40):
            h.update(buf)
        h.digest()
        best = min(best, time.perf_counter() - t)
    return best


def source_identity(root: str) -> dict:
    """The git commit when the checkout is a repository, and always a
    sha256 over the engine's source files, so two runs can tell whether
    they measured the same code."""
    h = hashlib.sha256()
    pkg = os.path.join(root, "reiz_io_spark")
    for dirpath, dirnames, filenames in sorted(os.walk(pkg)):
        dirnames.sort()
        for f in sorted(filenames):
            if f.endswith(".py"):
                p = os.path.join(dirpath, f)
                h.update(os.path.relpath(p, root).encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    commit = None
    try:
        out = subprocess.run(
            ["git", "-C", root, "rev-parse", "--show-toplevel", "HEAD"],
            capture_output=True, text=True, timeout=10,
        ).stdout.split()
        if len(out) == 2 and os.path.realpath(out[0]) == os.path.realpath(root):
            commit = out[1]
    except (OSError, subprocess.SubprocessError):
        pass
    return {"git_commit": commit, "engine_sha256": h.hexdigest()}


# ----------------------------------------------------------------- stats


def percentile(values: list[float], q: float) -> float:
    """Nearest-rank percentile (q in (0, 100])."""
    v = sorted(values)
    return v[max(0, math.ceil(q / 100.0 * len(v)) - 1)]


def tail_percentile(values: list[float]) -> tuple[float, str]:
    """The highest of p99/p90/p50 with at least 100 samples beyond it;
    the maximum when even the median has fewer. Fewer samples beyond it
    make the percentile swing from run to run: a serve p99 with ~35
    beyond it spread 0.29-0.31 (quartile distance over median) across
    ten seeds."""
    n = len(values)
    for q in (99, 90, 50):
        if n * (100 - q) / 100.0 >= 100:
            return percentile(values, q), f"p{q}"
    return max(values), "max"


def median(values: list[float]) -> float:
    return statistics.median(values)


def file_sizes(path: str) -> dict[str, int]:
    out = {}
    for dirpath, _dirs, files in os.walk(path):
        for f in files:
            p = os.path.join(dirpath, f)
            try:
                out[p] = os.path.getsize(p)
            except OSError:
                pass
    return out


def dir_bytes(path: str) -> int:
    return sum(file_sizes(path).values())


# ----------------------------------------------------------------- spark


def start_spark(root: str, work: str, cores: int, memory: str):
    """A local Spark session whose scratch, warehouse and temp files all
    live under ``work``. Python workers import the engine from ``root``
    (the source tree, never a packaged zip)."""
    for d in ("spark-local", "warehouse", "tmp"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [root] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    tmp = os.path.join(work, "tmp")
    os.environ["TMPDIR"] = tmp
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)
    from reiz_io_spark.session import get_spark

    spark = get_spark(
        app_name="reiz_io_spark-perfbench",
        master=f"local[{cores}]",
        shuffle_partitions=cores,
        extra_conf={
            "spark.driver.memory": memory,
            "spark.local.dir": os.path.join(work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -Xms{memory} -XX:+AlwaysPreTouch",
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark, timeout: float = 60.0) -> None:
    """Stop the session, let the JVM exit (it does when its stdin
    closes) and wait for it and every process it started to end."""
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    spark.stop()
    log("spark.stop returned")
    if proc is not None:
        try:
            proc.stdin.close()
        except (OSError, AttributeError):
            pass
        try:
            proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=10)
    log("JVM exited")
