"""Shared pieces of the benchmark: the run context, spans, statistics,
the host record and a reader for Spark's status stores.

Nothing here imports the engine at module level, so ``run.py`` can
refuse to start in a directory that does not hold it.
"""

from __future__ import annotations

import contextlib
import json
import os
import re
import resource
import statistics
import subprocess
import sys
import time
import traceback
from dataclasses import dataclass, field


# --------------------------------------------------------------------------
# run context
# --------------------------------------------------------------------------

@dataclass
class Context:
    """What a workload receives: where to write, how long to measure and
    whether to trace.  ``smoke`` shrinks every input to a few seconds of
    work; ``corrupt`` falsifies one expected answer so the checker must
    count a failure."""

    work: str
    seed: int
    seconds: float
    trace: bool
    smoke: bool = False
    corrupt: bool = False
    nproc: int = 1
    tracer: "Tracer" = field(default=None)


@dataclass
class OpLog:
    """Closed-loop results of one measured phase."""

    lat_ms: list = field(default_factory=list)
    raised: int = 0
    wrong: int = 0

    @property
    def attempted(self) -> int:
        return len(self.lat_ms) + self.raised

    @property
    def failed(self) -> int:
        return self.raised + self.wrong


def closed_loop(ops, seconds: float, run_op, check, log: OpLog,
                max_ops: int | None = None, block: int = 1) -> float:
    """One client: send op i+1 only after op i returned.  Runs until the
    summed op wall time reaches ``seconds`` (the check between ops is not
    timed) and returns that op time.  It stops only after a whole
    ``block`` of ops, so a stream built of blocks with a fixed op mix is
    measured in that mix.  ``run_op(op, i)`` returns the result;
    ``check(op, result)`` returns True when it is right."""
    busy = 0.0
    for i, op in enumerate(ops):
        if (busy >= seconds and i % block == 0) or (
                max_ops is not None and i >= max_ops):
            break
        t0 = time.perf_counter()
        try:
            result = run_op(op, i)
        except Exception:  # an op that raises is a counted failure
            busy += time.perf_counter() - t0
            log.raised += 1
            print(f"op {i} raised: {op!r}\n{traceback.format_exc()}",
                  file=sys.stderr, flush=True)
            continue
        dt = time.perf_counter() - t0
        busy += dt
        log.lat_ms.append(dt * 1e3)
        if not check(op, result):
            log.wrong += 1
            print(f"op {i} returned a wrong answer: {op!r}", file=sys.stderr,
                  flush=True)
    return busy


# --------------------------------------------------------------------------
# statistics
# --------------------------------------------------------------------------

def median(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def tail(xs) -> tuple[float, float, int]:
    """p90, or under 100 samples the sample with exactly ten beyond it:
    ``(value, percentile, samples)``.  With ten or fewer samples, the
    maximum, reported as p100.  Higher percentiles of a few thousand
    millisecond ops fall among the ops a host stall or a collection of
    the engine's caches hit (about 1 %), and swung by half between runs."""
    s = sorted(xs)
    n = len(s)
    if n <= 10:
        return (s[-1] if s else 0.0), 100.0, n
    if n < 100:
        k = n - 11  # ten samples lie beyond s[k]
        return s[k], 100.0 * (k + 1) / n, n
    return s[n - n // 10 - 1], 90.0, n


# --------------------------------------------------------------------------
# spans
# --------------------------------------------------------------------------

class Tracer:
    """Spans kept in memory: ``[name, start, end, parent, op_id]`` with
    ``parent`` the index of the enclosing span.  A disabled tracer hands
    out one shared no-op context, so untraced runs pay a method call."""

    _NULL = contextlib.nullcontext()

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[list] = []
        self._stack: list[int] = []

    def span(self, name: str, op_id=None):
        return self._span(name, op_id) if self.enabled else self._NULL

    @contextlib.contextmanager
    def _span(self, name, op_id):
        parent = self._stack[-1] if self._stack else None
        i = len(self.spans)
        self.spans.append([name, time.perf_counter(), None, parent, op_id])
        self._stack.append(i)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[i][2] = time.perf_counter()

    def self_times_ms(self) -> list[tuple[str, float]]:
        """(name, self time) per span: its duration minus the part of its
        interval that its child spans cover (children of one span run one
        after another here, so their clipped durations do not overlap)."""
        covered = [0.0] * len(self.spans)
        for name, t0, t1, parent, _ in self.spans:
            if parent is not None and t1 is not None:
                p = self.spans[parent]
                lo, hi = max(t0, p[1]), min(t1, p[2] or t1)
                covered[parent] += max(0.0, hi - lo)
        return [
            (s[0], ((s[2] - s[1]) - covered[i]) * 1e3)
            for i, s in enumerate(self.spans)
            if s[2] is not None
        ]

    def durations_ms(self, name: str) -> list[float]:
        return [(s[2] - s[1]) * 1e3 for s in self.spans
                if s[0] == name and s[2] is not None]

    def self_ms(self, name: str) -> list[float]:
        return [t for n, t in self.self_times_ms() if n == name]

    def write(self, path: str, extra: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        base = self.spans[0][1] if self.spans else 0.0
        doc = dict(extra)
        doc["spans"] = [
            {"name": n, "start_ms": (t0 - base) * 1e3,
             "end_ms": (t1 - base) * 1e3 if t1 is not None else None,
             "parent": p, "op": op}
            for n, t0, t1, p, op in self.spans
        ]
        with open(path, "w") as f:
            json.dump(doc, f)


# --------------------------------------------------------------------------
# host record and memory
# --------------------------------------------------------------------------

def cpu_times() -> list[int]:
    """Aggregate jiffies from /proc/stat (empty where it is missing)."""
    try:
        with open("/proc/stat") as f:
            return [int(x) for x in f.readline().split()[1:]]
    except OSError:
        return []


def steal_pct(before: list[int], after: list[int]) -> float | None:
    if len(before) < 8 or len(after) < 8:
        return None
    d = [b - a for a, b in zip(before, after)]
    total = sum(d[:8])
    return 100.0 * d[7] / total if total > 0 else 0.0


def jdk_version() -> str:
    try:
        p = subprocess.run(["java", "-version"], capture_output=True,
                           text=True, timeout=60)
    except (OSError, subprocess.TimeoutExpired):
        return "unknown"
    m = re.search(r'version "([^"]+)"', p.stderr)
    return m.group(1) if m else "unknown"


def host_record(nproc: int, cpu_before: list[int]) -> dict:
    import pyarrow
    import pyspark

    return {
        "nproc": nproc,
        "cpu_steal_pct": steal_pct(cpu_before, cpu_times()),
        "pyspark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "jdk": jdk_version(),
    }


def peak_rss_mb(jvm_pid: int | None = None) -> dict:
    """Peak resident memory of this process (the Python driver) and, when
    given, of the Spark JVM (``VmHWM``).  Python workers forked by the
    JVM are not counted."""
    out = {"python": resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0}
    if jvm_pid is not None:
        try:
            with open(f"/proc/{jvm_pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        out["jvm"] = int(line.split()[1]) / 1024.0
        except OSError:
            pass
    return out


# --------------------------------------------------------------------------
# data generation pool
# --------------------------------------------------------------------------

def timed_shards(ctx: Context, fn, args: list, shards: int) -> tuple[list, float]:
    """Run ``fn`` over ``args`` in ``shards`` consecutive batches on a
    spawn pool of at most four workers.  Returns the results and the
    set-up estimate: pool start plus ``shards`` × the median batch time,
    which keeps one slow batch from moving the figure."""
    import multiprocessing as mp

    t0 = time.perf_counter()
    procs = max(1, min(4, ctx.nproc))
    pool = mp.get_context("spawn").Pool(procs)
    try:
        start_s = time.perf_counter() - t0
        size = -(-len(args) // shards)
        out, times = [], []
        for b in range(0, len(args), size):
            t = time.perf_counter()
            out.extend(pool.starmap(fn, args[b:b + size]))
            times.append(time.perf_counter() - t)
    finally:
        pool.close()
        pool.join()
    return out, start_s + len(times) * median(times)


# --------------------------------------------------------------------------
# child processes
# --------------------------------------------------------------------------

def _stop_resource_tracker() -> None:
    """Stop the resource-tracker process a spawn pool starts, and wait
    for it.  Left alone it outlives this process by a moment: it exits
    only when it reads end-of-file after this process has exited."""
    from multiprocessing import resource_tracker

    stop = getattr(resource_tracker._resource_tracker, "_stop", None)
    if stop is not None:
        stop()


def become_subreaper() -> None:
    """Make this process the parent of every orphaned descendant (Linux
    ``PR_SET_CHILD_SUBREAPER``), so that ``reap_children`` can wait for
    processes whose own parent exited first, such as Python workers
    still exiting after the Spark JVM stopped."""
    import ctypes

    with contextlib.suppress(OSError, AttributeError):
        ctypes.CDLL(None, use_errno=True).prctl(36, 1, 0, 0, 0)


def _children() -> list[int]:
    me = str(os.getpid())
    out = []
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                # the command name may hold spaces: the fields after it
                # start past its closing parenthesis
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if fields[1] == me:
            out.append(int(d))
    return out


def reap_children(timeout: float = 60.0) -> None:
    """Wait until every child (adopted orphans included) has exited; kill
    those still running after ``timeout`` seconds."""
    import signal

    _stop_resource_tracker()
    deadline = time.monotonic() + timeout
    while True:
        kids = _children()
        if not kids:
            return
        for pid in kids:
            if time.monotonic() >= deadline:
                with contextlib.suppress(OSError):
                    os.kill(pid, signal.SIGKILL)
            with contextlib.suppress(ChildProcessError):
                os.waitpid(pid, os.WNOHANG)
        time.sleep(0.05)


# --------------------------------------------------------------------------
# Spark
# --------------------------------------------------------------------------

class SparkRun:
    """A local Spark session whose every file lives in the work dir, and
    a reader of Spark's status stores for per-op job groups."""

    def __init__(self, ctx: Context):
        from pyspark import SparkContext

        from palletjack_spark import get_spark

        local = os.path.join(ctx.work, "spark-local")
        os.makedirs(local, exist_ok=True)
        t0 = time.perf_counter()
        self.spark = get_spark(
            "perfbench",
            cpus=ctx.nproc,
            extra_conf={
                "spark.local.dir": local,
                "spark.sql.warehouse.dir":
                    os.path.join(ctx.work, "warehouse"),
                "spark.ui.showConsoleProgress": "false",
            },
        )
        self.start_s = time.perf_counter() - t0
        self.sc = self.spark.sparkContext
        self.sc.setLogLevel("ERROR")
        self._gateway = SparkContext._gateway
        proc = getattr(self._gateway, "proc", None)
        self.jvm_pid = proc.pid if proc is not None else None

    def stop(self) -> None:
        """Stop the session and wait for the JVM (and with it the Python
        workers it forked) to exit."""
        proc = getattr(self._gateway, "proc", None)
        try:
            self.spark.stop()
        finally:
            with contextlib.suppress(Exception):
                self._gateway.shutdown()
            if proc is not None:
                with contextlib.suppress(Exception):
                    proc.stdin.close()
                try:
                    proc.wait(timeout=60)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait()

    # -- per-op job groups ---------------------------------------------------

    def group(self, name: str) -> None:
        self.sc.setJobGroup(name, name)

    def group_metrics(self, name: str) -> dict:
        """Jobs, stages, tasks, executor time, bytes and Python-worker
        times of every job run under job group ``name``."""
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        out = dict.fromkeys(
            ("jobs", "stages", "tasks", "executor_run_ms",
             "executor_cpu_ms", "input_bytes", "shuffle_bytes",
             "job_wall_ms", "python_start_ms", "python_init_ms",
             "python_run_ms", "python_sent_bytes",
             "python_returned_bytes"), 0.0)
        jids = set(self.sc.statusTracker().getJobIdsForGroup(name))
        for jid in jids:
            jd = store.job(jid)
            out["jobs"] += 1
            if jd.submissionTime().isDefined() and jd.completionTime().isDefined():
                out["job_wall_ms"] += (jd.completionTime().get().getTime()
                                       - jd.submissionTime().get().getTime())
            info = self.sc.statusTracker().getJobInfo(jid)
            for sid in (info.stageIds if info else []):
                sd = store.lastStageAttempt(sid)
                if sd.numCompleteTasks() == 0:
                    continue  # skipped: its shuffle output was reused
                out["stages"] += 1
                out["tasks"] += sd.numCompleteTasks()
                out["executor_run_ms"] += sd.executorRunTime()
                out["executor_cpu_ms"] += sd.executorCpuTime() / 1e6
                out["input_bytes"] += sd.inputBytes()
                out["shuffle_bytes"] += (sd.shuffleReadBytes()
                                         + sd.shuffleWriteBytes())
        self._python_metrics(jids, out)
        return out

    _PY = {
        "time to start Python workers": "python_start_ms",
        "time to initialize Python workers": "python_init_ms",
        "time to run Python workers": "python_run_ms",
        "data sent to Python workers": "python_sent_bytes",
        "data returned from Python workers": "python_returned_bytes",
    }

    def _python_metrics(self, jids: set, out: dict) -> None:
        """Python-worker SQL metrics of the executions that ran ``jids``."""
        if not jids:
            return
        sql = self.spark._jsparkSession.sharedState().statusStore()
        execs = sql.executionsList()
        for i in range(execs.size() - 1, -1, -1):
            e = execs.apply(i)
            ejobs = {int(j) for j in _scala_keys(e.jobs())}
            if ejobs and max(ejobs) < min(jids):
                break  # newest first: the rest ran before this group
            if not ejobs & jids:
                continue
            names = {}
            it = e.metrics().iterator()
            while it.hasNext():
                m = it.next()
                key = self._PY.get(m.name())
                if key:
                    names[int(m.accumulatorId())] = key
            if not names:
                continue
            values = sql.executionMetrics(e.executionId())
            for acc, key in names.items():
                opt = values.get(acc)
                if opt.isDefined():
                    out[key] += _metric_value(opt.get())


def _scala_keys(m) -> list:
    it = m.keysIterator()
    keys = []
    while it.hasNext():
        keys.append(it.next())
    return keys


_UNITS = {"ms": 1.0, "s": 1e3, "min": 6e4, "h": 3.6e6, "B": 1.0,
          "KiB": 1024.0, "MiB": 1024.0 ** 2, "GiB": 1024.0 ** 3,
          "TiB": 1024.0 ** 4}


def _metric_value(text: str) -> float:
    """Spark's rendered SQL metric ("744 ms", "80.2 KiB", or a
    "total (min, med, max ...)" header over "883 ms (...)") in ms or
    bytes."""
    line = text.strip().splitlines()[-1]
    m = re.match(r"\s*([\d,.]+)\s*([A-Za-z]+)?", line)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2) or "", 1.0)
