"""End-to-end benchmark of seqarray_spark.

    python3 seqbench/run.py --workload cohort_qc --seed 1 --seconds 10 --trace 0

Run from the repository root. Sets up the workload (session start,
seeded inputs, any one-time import, one warm pass at the measured
shape), runs warm passes of its operations in a fixed order for
`--seconds`, checks the outputs, stops Spark, and prints a provenance
line and then the result as the last line of standard output. With
`--trace 0` the result carries the end-to-end metrics; with `--trace 1`
the per-layer metrics of seqbench/layers.py. See seqbench/README.md.
"""

from __future__ import annotations

import argparse
import gc
import hashlib
import json
import math
import os
import platform
import resource
import shutil
import signal
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CPUS = max(1, min(4, os.cpu_count() or 1))
REQUIRED = ("seqarray_spark/__init__.py", "__spark_entry__.py", "tools/check_correctness.py")


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def prepare_env(work: str, trace: bool) -> None:
    """Keep every Spark and Python scratch file under `work`; must run
    before pyspark starts the JVM."""
    tmp = os.path.join(work, "tmp")
    events = os.path.join(work, "events")
    for d in (tmp, events):
        os.makedirs(d, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    # Python workers import the engine from the repository root
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    confs = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
        "spark.eventLog.enabled": "true" if trace else "false",
        "spark.eventLog.dir": "file://" + events,
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        f"--conf {k}={v}" for k, v in confs.items()
    ) + " pyspark-shell"
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR


def source_hash() -> str:
    h = hashlib.sha256()
    files = [os.path.join(ROOT, "__spark_entry__.py")]
    for root, dirs, names in os.walk(os.path.join(ROOT, "seqarray_spark")):
        dirs[:] = sorted(d for d in dirs if d != "__pycache__")
        files += [os.path.join(root, n) for n in sorted(names) if n.endswith(".py")]
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


# ---------------------------------------------------------------------------
# process lifetime
# ---------------------------------------------------------------------------

def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants(pid: int) -> list[int]:
    kids, out, todo = _children(), [], [pid]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _rss_mb(pid: int, field: str) -> float:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith(field + ":"):
                    return int(line.split()[1]) / 1024
    except OSError:
        pass
    return 0.0


def peak_rss_mb(jvm_pid: int | None) -> float:
    """Peak RSS of this process, the JVM and the live Python workers."""
    total = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024
    if jvm_pid:
        total += _rss_mb(jvm_pid, "VmHWM")
        total += sum(_rss_mb(p, "VmHWM") for p in descendants(jvm_pid))
    return total


def stop_spark(spark) -> None:
    """Stop the session, end the JVM and wait for every Python worker
    it started."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    workers = descendants(proc.pid) if proc else []
    try:
        spark.stop()
    finally:
        if gateway is not None:
            gateway.shutdown()
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=60)
            except Exception:
                proc.kill()
                proc.wait()
        deadline = time.monotonic() + 30
        for pid in workers:
            while os.path.exists(f"/proc/{pid}") and time.monotonic() < deadline:
                time.sleep(0.05)
            if os.path.exists(f"/proc/{pid}"):
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass


def host_probe() -> list[float]:
    """Seconds a fixed pure-Python loop takes on each CPU this process
    may use (median of three). The host is shared, and the CPUs it
    gives this machine run at different and changing speeds; the probe
    lets a reader tell host drift from code drift. Run only after the
    JVM has ended, since it moves this process from CPU to CPU."""
    cpus = sorted(os.sched_getaffinity(0))
    out = []
    try:
        for cpu in cpus:
            os.sched_setaffinity(0, {cpu})
            times = []
            for _ in range(3):
                t0 = time.perf_counter()
                acc = 0
                for i in range(300_000):
                    acc += i * i % 7
                times.append(time.perf_counter() - t0)
            out.append(statistics.median(times))
    finally:
        os.sched_setaffinity(0, cpus)
    return out


# ---------------------------------------------------------------------------
# one run
# ---------------------------------------------------------------------------

class Run:
    def __init__(self, wl, tracer, seconds: float):
        self.wl = wl
        self.tracer = tracer
        self.seconds = seconds
        self.attempted = 0
        self.failures: list[str] = []
        self.pass_walls: dict[int, float] = {}
        self.traced_passes: list[int] = []

    def run_op(self, pass_no: int, op, ctx: dict) -> None:
        tr = self.tracer
        self.attempted += 1
        try:
            built = tr.span(pass_no, op.name, "build", lambda: op.build(ctx))
            if op.plan is not None:
                df = op.plan(built)
                tr.span(pass_no, op.name, "plan",
                        lambda: df._jdf.queryExecution().executedPlan())
                tr.record_plan(op.name, df)
            tr.span(pass_no, op.name, "exec", lambda: op.run(ctx, built))
            tr.record_persisted(op.name)
        except Exception:
            self.failures.append(f"pass {pass_no} {op.name}: {traceback.format_exc(limit=3)}")
            print(self.failures[-1], file=sys.stderr)

    def reset_state(self) -> None:
        spark = self.tracer.spark
        gc.collect()
        spark.catalog.clearCache()
        spark.sparkContext._jvm.System.gc()

    def one_pass(self, pass_no: int, ops) -> float:
        self.reset_state()
        ctx: dict = {}
        t0 = time.perf_counter()
        for op in ops:
            self.run_op(pass_no, op, ctx)
        return time.perf_counter() - t0

    def measure(self, ops, trace: bool) -> None:
        """Warm passes filling about `seconds`: a whole number of passes,
        fixed per workload from its nominal pass time so the count does
        not depend on host speed. A traced run makes at least three,
        alternating untraced and traced passes so the trace overhead is
        measured in the same run."""
        n = max(1, math.ceil(self.seconds / self.wl.nominal_pass_s))
        if trace:
            n = max(3, n)
        for p in range(n):
            traced = trace and p % 2 == 1
            self.tracer.traced = traced
            if traced:
                self.traced_passes.append(p)
            self.pass_walls[p] = self.one_pass(p, ops)
        self.tracer.traced = trace


def e2e_metrics(run: Run, setup_s: float) -> dict:
    wl, tr = run.wl, run.tracer
    passes = sorted(run.pass_walls)
    op_names = list(tr.op_walls(passes[0]))
    op_medians = [
        statistics.median(tr.op_walls(p).get(op, 0.0) for p in passes) for op in op_names
    ]
    pass_s = statistics.median(run.pass_walls.values())
    out = {
        "setup_s": (setup_s, "s"),
        "pass_s": (pass_s, "s"),
        "op_p50_s": (statistics.median(op_medians), "s"),
        "op_tail_s": (max(op_medians), "s"),
        "calls_per_s": (wl.records() / pass_s, "1/s"),
    }
    for k, v in wl.storage().items():
        out[k] = (v, "B/call")
    return out


def layer_metrics(run: Run, log, jvm_peak: float) -> dict:
    import layers

    wl, tr = run.wl, run.tracer
    values = {name: 0.0 for name, _ in layers.names()}
    traced = run.traced_passes
    untraced = [p for p in run.pass_walls if p not in traced]
    op_names = [op.name for op in wl.ops()] + [op.name for op in wl.import_ops()]
    import_names = {op.name for op in wl.import_ops()}

    for op in op_names:
        passes = [-1] if op in import_names else traced
        jobs = tr.job_ids(op, passes)
        tot = log.totals(jobs) if log else {}
        n = len(passes)
        per = {
            "build_s": tr.kind_median(op, "build", passes),
            "plan_s": tr.kind_median(op, "plan", passes),
            "exec_s": tr.kind_median(op, "exec", passes),
            "build_jobs": tr.count_median(op, "build", passes, "jobs"),
            "jobs": sum(tr.count_median(op, k, passes, "jobs") for k in ("build", "plan", "exec")),
            "py4j_calls": tr.count_median(op, "build", passes, "py4j_calls"),
            "task_p50_s": log.task_p50(jobs) if log else 0.0,
            "shuffle_bytes": (tot.get("shuffle_write_bytes", 0) + tot.get("shuffle_read_bytes", 0)) / n,
            "persisted_rdds_after": tr.persisted.get(op, 0),
            **{k: v / n for k, v in tot.items()},
            **tr.shapes.get(op, {}),
        }
        warm = [tr.op_walls(p).get(op, 0.0) for p in run.pass_walls]
        cold = tr.op_walls(-1).get(op, 0.0)
        if warm and op not in import_names:
            per["cold_warm_ratio"] = cold / statistics.median(warm)
        for m, v in per.items():
            key = f"{op}.{m}"
            if key in values:
                values[key] = float(v)

    walls = [run.pass_walls[p] for p in traced]
    totals = log.totals([j for op in op_names for j in tr.job_ids(op, traced)]) if log else {}
    builds = sum(s.wall_s for s in tr.spans if s.pass_no >= 0 and s.kind == "build")
    rt = f"runtime.{wl.name}."
    values[rt + "executor_cpu_util"] = (
        totals.get("executor_cpu_s", 0.0) / (sum(walls) * CPUS) if walls else 0.0
    )
    values[rt + "jvm_gc_s"] = totals.get("jvm_gc_s", 0.0) / max(1, len(traced))
    values[rt + "spill_bytes"] = totals.get("spill_bytes", 0.0) / max(1, len(traced))
    values[rt + "peak_rss_mb"] = jvm_peak
    # passes still speed up slightly one after another; traced passes sit
    # between untraced ones, so the untraced median cancels that trend
    reference = [run.pass_walls[p] for p in untraced]
    values[rt + "trace_overhead_s"] = (
        statistics.median(walls) - statistics.median(reference)
        if walls and reference else 0.0
    )
    values[rt + "build_share"] = builds / sum(run.pass_walls.values())
    units = dict(layers.names())
    return {k: (v, units[k]) for k, v in values.items()}


def main(argv=None) -> int:
    args = parse_args(argv)
    missing = [f for f in REQUIRED if not os.path.isfile(os.path.join(ROOT, f))]
    if missing:
        print(f"seqbench: not a seqarray_spark checkout, missing {missing}", file=sys.stderr)
        return 2
    sys.path[:0] = [HERE, ROOT]
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"seqbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2
    trace = bool(args.trace)
    work = os.path.join(HERE, ".work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    prepare_env(work, trace)
    load_start = os.getloadavg()
    try:
        return run_workload(args, workloads, work, trace, load_start)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def run_workload(args, workloads, work, trace, load_start) -> int:
    t_setup = time.perf_counter()
    from seqarray_spark.session import get_spark

    spark = get_spark(f"seqbench-{args.workload}", cpus=CPUS, driver_memory="2g")
    spark.sparkContext.setLogLevel("ERROR")
    from spans import EventLog, Tracer, find_event_log

    tracer = Tracer(spark, trace)
    wl = workloads.WORKLOADS[args.workload](spark, work, args.seed)
    run = Run(wl, tracer, args.seconds)
    jvm_peak = 0.0
    try:
        wl.setup_inputs()
        for op in wl.import_ops():
            run.run_op(-1, op, {})
        ops = wl.ops()
        wl.warm_up(run, ops)
        setup_s = time.perf_counter() - t_setup
        # The correctness check touches the operations at the measured
        # shape once more, so it goes before the measured passes and
        # warms them further.
        n_checks, check_failures = wl.check()
        run.attempted += n_checks
        run.failures += check_failures
        for f in check_failures:
            print(f"check failed: {f}", file=sys.stderr)
        run.measure(ops, trace)
        metrics = e2e_metrics(run, setup_s)
        app_id = spark.sparkContext.applicationId
        from pyspark import SparkContext

        proc = getattr(SparkContext._gateway, "proc", None)
        jvm_peak = peak_rss_mb(proc.pid if proc else None)
    finally:
        tracer.close()
        stop_spark(spark)
    load_end = os.getloadavg()
    probe = host_probe()

    if trace:
        path = find_event_log(os.path.join(work, "events"), app_id)
        log = EventLog(path) if path else None
        metrics = layer_metrics(run, log, jvm_peak)
    failed = len(run.failures)
    import numpy
    import pyarrow
    import pyspark

    provenance = {
        "nproc": os.cpu_count(),
        "spark_cores": CPUS,
        "spark": pyspark.__version__,
        "python": platform.python_version(),
        "pyarrow": pyarrow.__version__,
        "numpy": numpy.__version__,
        "source_hash": source_hash(),
        "workload": args.workload,
        "seed": args.seed,
        "shape": wl.shape,
        "records": wl.records(),
        "passes": len(run.pass_walls),
        "pass_walls_s": [run.pass_walls[p] for p in sorted(run.pass_walls)],
        "op_walls_s": {op: [tracer.op_walls(p).get(op, 0.0) for p in sorted(run.pass_walls)]
                       for op in tracer.op_walls(0)},
        "traced_passes": len(run.traced_passes),
        "loadavg_start": load_start,
        "loadavg_end": load_end,
        "host_probe_s": probe,
        "failed_op_share": failed / max(1, run.attempted),
    }
    print(json.dumps({"provenance": provenance}))
    result = {
        "correct": failed == 0,
        "attempted": run.attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
