"""Benchmark entry point: one workload, one seed, one run.

    python3 perfbench/run.py --workload cdc_replicate --seed 1 --seconds 16 --trace 0

Run from the repository root. The run builds its inputs from ``--seed``
(perfbench/gen.py), sets up the workload ``SETUP_REPS`` times (each a
fresh SparkSession and fresh inputs) and reports the median set-up
time, warms up, then drives the workload's closed loop for
``--seconds`` seconds and checks every output. The last line of stdout
is one JSON object ``{"correct", "attempted", "failed", "metrics"}``:
with ``--trace 0`` the end-to-end metrics, with ``--trace 1`` the
per-layer metrics of a traced run. The line before it (``{"detail":
...}``) carries the workload's own named metrics, sample counts and the
machine provenance. Spans of a traced run are written to
``.bench_out/``. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETUP_REPS = 3


def declared_metrics() -> tuple[set, dict, dict]:
    """The workloads and the ``{name: unit}`` end-to-end and per-layer
    metrics that BENCHMARK.json declares — the one list every run reports."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return (
        {w["name"] for w in spec["workloads"]},
        {m["name"]: m["unit"] for m in spec["end_to_end"]},
        {m["name"]: m["unit"] for m in spec["per_layer"]},
    )


class Op:
    """One attempted operation; a raised exception or a failed check
    marks it failed."""

    def __init__(self, ctx, name):
        self.ctx, self.name, self.ok = ctx, name, True

    def check(self, cond, msg):
        if not cond:
            self.fail(msg)

    def fail(self, msg):
        if self.ok:
            self.ok = False
            self.ctx.failures.append(f"{self.name}: {msg}")

    def __enter__(self):
        return self

    def __exit__(self, et, ev, tb):
        self.ctx.attempted += 1
        if et is not None:
            if not issubclass(et, Exception):
                return False
            self.fail(f"{et.__name__}: {str(ev)[:300]}")
        if not self.ok:
            self.ctx.failed += 1
        return False


class Context:
    def __init__(self, args, work_dir, session, tracer):
        self.seed = args.seed
        self.scale = args.scale
        self.work_dir = work_dir
        self.session = session
        self.tracer = tracer
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []

    @property
    def spark(self):
        return self.session.spark

    def rng(self, stream: str):
        import numpy as np

        return np.random.default_rng([self.seed, sum(map(ord, stream))])

    def op(self, name: str) -> Op:
        return Op(self, name)

    def count_escaped(self, where: str, failed_before: int, exc: Exception) -> None:
        """Count an exception that escaped outside every op."""
        if self.failed == failed_before:
            self.attempted += 1
            self.failed += 1
            self.failures.append(f"{where}: {type(exc).__name__}: {str(exc)[:300]}")


class Report:
    """Per-layer lookups over the spans of the measured loop."""

    def __init__(self, tracer, jobs):
        from harness import sum_jobs

        self.tracer, self.jobs, self._sum = tracer, jobs, sum_jobs
        self.selfs = tracer.self_times()

    def spans(self, name):
        return [s for s in self.tracer.spans if s.name == name and s.end is not None]

    def self_s(self, name) -> float:
        return sum(self.selfs[s.sid] for s in self.spans(name))

    def tree_totals(self, name) -> dict:
        """Census totals over every job launched inside spans ``name``."""
        ids = set()
        for s in self.spans(name):
            ids.update(range(s.job_lo, s.job_hi))
        return self._sum(self.jobs, ids)


def host_cpu_ticks() -> list[int]:
    """The aggregate ``cpu`` line of /proc/stat (user nice system idle
    iowait irq softirq steal ...), or [] where there is none."""
    try:
        with open("/proc/stat") as f:
            return [int(x) for x in f.readline().split()[1:]]
    except (OSError, ValueError):
        return []


def host_cpu_shares(t0: list[int], t1: list[int]) -> dict:
    """Shares of busy, idle and steal time between two /proc/stat reads;
    steal is time the hypervisor gave the vCPUs to someone else."""
    if len(t0) < 8 or len(t1) < 8:
        return {}
    d = [b - a for a, b in zip(t0, t1)]
    total = sum(d[:8]) or 1
    return {"busy": (sum(d[:3]) + d[5] + d[6]) / total, "idle": (d[3] + d[4]) / total, "steal": d[7] / total}


def workload_class(name):
    if name == "cdc_replicate":
        from wl_cdc import CdcReplicate

        return CdcReplicate
    if name == "batch_analytics":
        from wl_batch import BatchAnalytics

        return BatchAnalytics
    if name == "corpus_stream":
        from wl_stream import CorpusStream

        return CorpusStream
    raise SystemExit(f"unknown workload {name!r}")


def prepare_env(work_dir: str) -> None:
    """Point every writer at the run's work dir and make the program
    importable from Spark's Python workers, whatever the cwd."""
    for d in ("tmp", "spark-local"):
        os.makedirs(os.path.join(work_dir, d), exist_ok=True)
    pp = os.environ.get("PYTHONPATH", "")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + pp if pp else "")
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "4g")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work_dir, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work_dir, "tmp")
    for p in (ROOT, HERE):
        if p not in sys.path:
            sys.path.insert(0, p)


def shutdown(session) -> None:
    """Stop Spark and wait for the JVM (and with it the Python workers)
    to exit."""
    from pyspark import SparkContext

    session.stop()
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None) if gw is not None else None
    if gw is not None:
        gw.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=("full", "tiny"), default="full",
                    help="input size; 'tiny' is the smoke-test size")
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "leftshove_spark")):
        print(f"perfbench: no leftshove_spark package beside {HERE}; run from a full checkout",
              file=sys.stderr)
        return 2
    cls = workload_class(args.workload)
    gated, e2e_units, layer_units = declared_metrics()
    work_dir = os.path.join(ROOT, ".bench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work_dir, exist_ok=True)
    prepare_env(work_dir)
    # a terminated run still stops Spark and removes its work dir
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    from harness import (
        Session, Tracer, calibration, census, median, peak_rss_mb, provenance,
    )

    session = Session(work_dir, int(os.environ["SPARK_GRAFT_CPUS"]))
    tracer = Tracer(session, enabled=False)
    ctx = Context(args, work_dir, session, tracer)
    wl = cls(ctx)
    try:
        setups = []
        for rep in range(SETUP_REPS):
            rep_dir = os.path.join(work_dir, f"rep{rep}")
            t0 = time.perf_counter()
            session.start()
            wl.setup(rep_dir)
            setups.append(time.perf_counter() - t0)
            if rep:
                shutil.rmtree(os.path.join(work_dir, f"rep{rep - 1}"), ignore_errors=True)
        t0 = time.perf_counter()
        wl.warmup()
        warmup_s = time.perf_counter() - t0

        if args.trace:
            tracer.enabled = True
            wl.wrap(tracer)
        steps = 0
        cpu0 = host_cpu_ticks()
        loop_t0 = time.perf_counter()
        while time.perf_counter() - loop_t0 < args.seconds or steps < wl.min_steps:
            failed_before = ctx.failed
            try:
                if not wl.step():
                    break
            except Exception as e:  # a failed step ends the loop
                ctx.count_escaped("step", failed_before, e)
                break
            steps += 1
        loop_wall = time.perf_counter() - loop_t0
        cpu1 = host_cpu_ticks()
        tracer.enabled = False
        tracer.unwrap()
        failed_before = ctx.failed
        try:
            wl.finish()
        except Exception as e:
            ctx.count_escaped("finish", failed_before, e)

        metrics = {"setup_s": median(setups), **wl.e2e()}
        rss_mb = peak_rss_mb(session.jvm_pid())
        detail = {
            "workload": args.workload, "seed": args.seed, "scale": args.scale,
            "seconds": args.seconds, "trace": args.trace,
            "steps": steps, "loop_wall_s": loop_wall, "warmup_s": warmup_s,
            "loop_host_cpu": host_cpu_shares(cpu0, cpu1),
            "setup_samples_s": setups,
            "peak_rss_mb": rss_mb,
            **wl.detail(),
            "ops_failed_ratio": ctx.failed / max(1, ctx.attempted),
            "failures": ctx.failures[:20],
            "provenance": provenance(session.spark, session.cpus),
        }
        if args.trace:
            jobs = census(session.spark)
            rep = Report(tracer, jobs)
            per_call = tracer.per_call_cost()
            roots = [s for s in tracer.spans if s.parent is None]
            root_wall = sum(s.end - s.start for s in roots)
            out = wl.layers(rep)
            out["peak_rss_mb"] = rss_mb
            cal = calibration(session.spark, session.cpus)
            out["host.calibration_s"] = cal["calibration_s"]
            out["host.effective_cores"] = cal["effective_cores"]
            out["trace.overhead_ratio"] = per_call * len(tracer.spans) / loop_wall
            out["trace.unattributed_ratio"] = (
                sum(rep.selfs[s.sid] for s in roots) / root_wall if root_wall else 0.0
            )
            detail["calibration"] = cal
            detail["trace_spans"] = len(tracer.spans)
            detail["trace_per_call_s"] = per_call
            detail["end_to_end_traced"] = metrics
            out_dir = os.path.join(ROOT, ".bench_out")
            os.makedirs(out_dir, exist_ok=True)
            path = os.path.join(out_dir, f"trace-{args.workload}-{args.seed}.json")
            with open(path, "w") as f:
                json.dump({"spans": [s.as_dict() for s in tracer.spans],
                           "jobs": {str(k): v for k, v in jobs.items()}}, f)
            detail["trace_file"] = os.path.relpath(path, ROOT)
            undeclared = {k: v for k, v in out.items() if k not in layer_units}
            if undeclared and args.workload in gated:
                raise RuntimeError(f"per-layer metrics missing from BENCHMARK.json: {sorted(undeclared)}")
            # an ungated workload's own layers go to the detail line
            detail["per_layer_undeclared"] = undeclared
            # a layer off this workload's path did no work here: 0
            report = {k: {"value": float(out.get(k, 0.0)), "unit": u} for k, u in layer_units.items()}
        else:
            report = {k: {"value": float(metrics[k]), "unit": u} for k, u in e2e_units.items()}
        print(json.dumps({"detail": detail}, default=str))
        print(json.dumps({
            "correct": ctx.failed == 0,
            "attempted": max(1, ctx.attempted),
            "failed": ctx.failed,
            "metrics": report,
        }))
        return 0
    finally:
        try:
            shutdown(session)
        finally:
            shutil.rmtree(work_dir, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
