"""Shared machinery of the benchmark: Spark session lifecycle, the span
tracer, the Spark status-store census, provenance and small statistics.

Nothing here changes the program under test. The tracer wraps module
attributes the program looks up at call time (``engine.append_snapshot``,
``statestore.read_state``, ...) and restores them on exit; the census
reads Spark's own status store after the measured loop.
"""

from __future__ import annotations

import contextlib
import functools
import hashlib
import math
import os
import statistics
import threading
import time

# --------------------------------------------------------------- statistics


def median(xs):
    return statistics.median(xs) if xs else 0.0


def geomean(xs):
    xs = [x for x in xs if x > 0]
    return math.exp(sum(math.log(x) for x in xs) / len(xs)) if xs else 0.0


def tail(xs):
    """The highest percentile with at least ten samples beyond it, as
    ``(percentile, value)``; ``(None, None)`` when fewer than 11 samples
    support any percentile."""
    n = len(xs)
    if n < 11:
        return None, None
    s = sorted(xs)
    # p such that n * (1 - p/100) >= 10, rounded down to a whole percent
    p = math.floor(100.0 * (1.0 - 10.0 / n))
    idx = min(n - 1, max(0, math.ceil(p / 100.0 * n) - 1))
    return p, s[idx]


def rows_fingerprint(rows) -> tuple[int, str]:
    """Order-insensitive fingerprint of collected rows: count and the
    sha256 of the sorted row reprs."""
    reprs = sorted(repr(tuple(r)) for r in rows)
    h = hashlib.sha256("\n".join(reprs).encode()).hexdigest()[:16]
    return len(reprs), h


# ---------------------------------------------------------------- session


class Session:
    """Owns the SparkSession of one benchmark run and can restart it, so
    set-up can be repeated inside one process."""

    def __init__(self, work_dir: str, cpus: int):
        self.work_dir = work_dir
        self.cpus = cpus
        self.spark = None

    def start(self):
        from leftshove_spark.session import get_spark

        if self.spark is not None:
            self.stop()
        self.spark = get_spark(
            app_name="perfbench",
            shuffle_partitions=self.cpus,
            extra_conf={
                "spark.sql.warehouse.dir": os.path.join(self.work_dir, "warehouse"),
                "spark.local.dir": os.path.join(self.work_dir, "spark-local"),
                # the census reads every job and stage of the run
                "spark.ui.retainedJobs": "100000",
                "spark.ui.retainedStages": "100000",
                "spark.sql.ui.retainedExecutions": "100",
                "spark.driver.extraJavaOptions": (
                    f"-Djava.io.tmpdir={os.path.join(self.work_dir, 'tmp')} -XX:-UsePerfData"
                ),
            },
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        return self.spark

    def stop(self):
        from leftshove_spark.ext import cache

        if self.spark is None:
            return
        cache.release_pins()
        self.spark.stop()
        self.spark = None

    # -- counters read around spans (one py4j round trip each)
    def job_counter(self) -> int:
        return int(self.spark.sparkContext._jsc.sc().dagScheduler().nextJobId())

    def jvm_pid(self) -> int | None:
        proc = getattr(self.spark.sparkContext._gateway, "proc", None)
        return getattr(proc, "pid", None)


def peak_rss_mb(jvm_pid: int | None) -> float:
    """High-water RSS of this Python process plus the JVM, from
    ``/proc/<pid>/status`` (VmHWM). Python workers are not included."""
    total_kb = 0
    for pid in ("self", jvm_pid):
        if pid is None:
            continue
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            pass
    return total_kb / 1024.0


# ----------------------------------------------------------------- tracing


class Span:
    __slots__ = ("sid", "name", "parent", "start", "end", "job_lo", "job_hi")

    def __init__(self, sid, name, parent, start, job_lo):
        self.sid, self.name, self.parent = sid, name, parent
        self.start, self.end = start, None
        self.job_lo, self.job_hi = job_lo, None

    def as_dict(self):
        return {
            "id": self.sid, "name": self.name, "parent": self.parent,
            "start": self.start, "end": self.end,
            "jobs": [self.job_lo, self.job_hi],
        }


class Tracer:
    """In-memory spans with parent links. Disabled, ``span`` is a no-op
    and nothing is wrapped, so an untraced run pays nothing; a traced
    run enables it for the measured loop only."""

    def __init__(self, session: Session, enabled: bool):
        self.session = session
        self.enabled = enabled
        self.spans: list[Span] = []
        self._local = threading.local()
        self._main = threading.main_thread()
        self._main_stack: list[Span] = []
        self._lock = threading.Lock()
        self._patches: list[tuple[object, str, object]] = []

    def _stack(self) -> list[Span]:
        if threading.current_thread() is self._main:
            return self._main_stack
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def open(self, name: str) -> Span | None:
        if not self.enabled:
            return None
        stack = self._stack()
        if stack:
            parent = stack[-1].sid
        else:  # a callback thread: parent is the main thread's open span
            parent = self._main_stack[-1].sid if self._main_stack else None
        with self._lock:
            sp = Span(len(self.spans), name, parent, time.perf_counter(), self.session.job_counter())
            self.spans.append(sp)
        stack.append(sp)
        return sp

    def close(self, sp: Span | None) -> None:
        if sp is None:
            return
        sp.job_hi = self.session.job_counter()
        sp.end = time.perf_counter()
        stack = self._stack()
        if stack and stack[-1] is sp:
            stack.pop()

    @contextlib.contextmanager
    def span(self, name: str):
        sp = self.open(name)
        try:
            yield sp
        finally:
            self.close(sp)

    # -- wrapping program functions at their call sites
    def wrap(self, owner, attr: str, name: str, on_result=None, close_later=None) -> None:
        """Replace ``owner.attr`` (a module or class attribute) by a
        traced wrapper; ``on_result(span, result)`` may annotate, and
        ``close_later(span, result)`` takes over closing the span."""
        fn = getattr(owner, attr)
        tracer = self

        @functools.wraps(fn)
        def traced(*a, **kw):
            sp = tracer.open(name)
            try:
                out = fn(*a, **kw)
            except BaseException:
                tracer.close(sp)
                raise
            if on_result is not None:
                on_result(sp, out)
            if close_later is not None:
                close_later(sp, out)
            else:
                tracer.close(sp)
            return out

        self._patches.append((owner, attr, fn))
        setattr(owner, attr, traced)

    def wrap_dict(self, d: dict, key, name: str) -> None:
        fn = d[key]
        tracer = self

        @functools.wraps(fn)
        def traced(*a, **kw):
            sp = tracer.open(name)
            try:
                return fn(*a, **kw)
            finally:
                tracer.close(sp)

        self._patches.append((d, key, fn))
        d[key] = traced

    def unwrap(self) -> None:
        for owner, attr, fn in reversed(self._patches):
            if isinstance(owner, dict):
                owner[attr] = fn
            else:
                setattr(owner, attr, fn)
        self._patches.clear()

    # -- analysis
    def self_times(self) -> dict[int, float]:
        """Self time per span: its duration minus the union of the
        intervals its children cover."""
        kids: dict[int, list[Span]] = {}
        for sp in self.spans:
            if sp.parent is not None:
                kids.setdefault(sp.parent, []).append(sp)
        out = {}
        for sp in self.spans:
            if sp.end is None:
                continue
            ivs = sorted((max(c.start, sp.start), min(c.end or sp.end, sp.end)) for c in kids.get(sp.sid, []))
            covered, cur_s, cur_e = 0.0, None, None
            for s, e in ivs:
                if e <= s:
                    continue
                if cur_e is None or s > cur_e:
                    if cur_e is not None:
                        covered += cur_e - cur_s
                    cur_s, cur_e = s, e
                else:
                    cur_e = max(cur_e, e)
            if cur_e is not None:
                covered += cur_e - cur_s
            out[sp.sid] = (sp.end - sp.start) - covered
        return out

    def per_call_cost(self, n: int = 2000) -> float:
        """Measured cost of one traced call, wrapper plus counter reads."""
        was, self.enabled = self.enabled, True

        def f():
            return None

        holder = type("H", (), {})()
        holder.f = f
        self.wrap(holder, "f", "trace.calibrate")
        t0 = time.perf_counter()
        for _ in range(n):
            holder.f()
        dt = time.perf_counter() - t0
        self.unwrap()
        self.spans = [s for s in self.spans if s.name != "trace.calibrate"]
        t0 = time.perf_counter()
        for _ in range(n):
            f()
        self.enabled = was
        return max(0.0, (dt - (time.perf_counter() - t0)) / n)


# ------------------------------------------------------------------ census


def census(spark) -> dict[int, dict]:
    """Per-job totals from Spark's status store: stages, tasks, shuffle
    read/write bytes, spill bytes, executor run time and GC time."""
    sc = spark.sparkContext
    gw = sc._gateway
    store = sc._jsc.sc().statusStore()
    stages = {}
    sl = store.stageList(None, False, False, gw.new_array(gw.jvm.double, 0), None)
    for i in range(sl.size()):
        s = sl.apply(i)
        stages[int(s.stageId())] = {
            "tasks": int(s.numTasks()),
            "run_ms": int(s.executorRunTime()),
            "gc_ms": int(s.jvmGcTime()),
            "shuffle_bytes": int(s.shuffleReadBytes()) + int(s.shuffleWriteBytes()),
            "spill": int(s.memoryBytesSpilled()) + int(s.diskBytesSpilled()),
        }
    jobs = {}
    jl = store.jobsList(None)
    for i in range(jl.size()):
        j = jl.apply(i)
        sids = j.stageIds()
        tot = {"stages": 0, "tasks": 0, "run_ms": 0, "gc_ms": 0, "shuffle_bytes": 0, "spill": 0}
        for k in range(sids.size()):
            st = stages.get(int(sids.apply(k)))
            if st is None:  # a stage skipped because its output was reused
                continue
            tot["stages"] += 1
            for key, v in st.items():
                tot[key] += v
        jobs[int(j.jobId())] = tot
    return jobs


def sum_jobs(jobs: dict[int, dict], ids) -> dict:
    tot = {"jobs": 0, "stages": 0, "tasks": 0, "run_ms": 0, "gc_ms": 0, "shuffle_bytes": 0, "spill": 0}
    for j in ids:
        d = jobs.get(j)
        tot["jobs"] += 1
        if d:
            for k, v in d.items():
                tot[k] += v
    return tot


# -------------------------------------------------------------- provenance


def calibration(spark, cpus: int) -> dict:
    """A CPU-bound job run once on one task and once on ``4 × cpus``
    tasks over the same rows; the ratio of the two is the parallelism
    the host actually delivered."""
    rows = 120_000_000

    def run(parts):
        df = spark.range(0, rows, 1, parts).selectExpr(
            "sum(xxhash64(id, id * 31, id % 977)) AS h"
        )
        t0 = time.perf_counter()
        df.collect()
        return time.perf_counter() - t0

    run(cpus)  # warm codegen
    par = min(run(4 * cpus) for _ in range(2))
    ser = run(1)
    return {"calibration_s": par, "serial_s": ser, "effective_cores": ser / par if par else 0.0}


def provenance(spark, cpus: int) -> dict:
    import pyspark

    sc = spark.sparkContext
    return {
        "master": sc.master,
        "default_parallelism": sc.defaultParallelism,
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "nproc": os.cpu_count(),
        "pyspark": pyspark.__version__,
    }
