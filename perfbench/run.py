"""spark-schema-guard benchmark: one seeded workload on ``local[nproc]``.

    python3 perfbench/run.py --workload row_validation --seed 1 --seconds 2 --trace 0

Run from the repository root (the package is imported from there).  It
sets up ``SETUPS`` times (session, input generation, plan compile; the
first also launches the JVM) and reports the median of the set-ups after
the first as ``setup_s``, runs one warm-up pass, then times passes for
``--seconds``, at least one; each pass gives its seconds and the CPU
seconds of the driver, the JVM and the Python workers together.  It checks
every output against an independent oracle and prints a table of every metric
(median, highest percentile with ten samples beyond it, sample count),
then one JSON line.  ``--workload all`` runs both benchmark workloads
in turn in one process.

``--trace 1`` measures half the time untraced, then restarts the session
with the Spark event log on and measures the other half inside spans;
the JSON line then holds the per-layer metrics of ``tracereport.py``,
including the tracing overhead (traced minus untraced ``run_s``).

Everything the run writes (inputs, audit and violation tables, Spark
local and warehouse dirs, temp files) lives under ``.perfbench-work/``
in the working directory and is removed at exit, except the trace of a
traced run (``.perfbench-work/traces/``).  Exit status: 0 when every
check passed, 1 when an operation failed or an output check failed,
2 when the package or its dependencies cannot be imported.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import statistics
import sys
import tempfile
import threading
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETUPS = 3
# the two workloads BENCHMARK.json names, then their four parts alone
KEPT = ["row_validation", "table_pipeline"]
WORKLOADS = KEPT + ["validate_scan", "json_dynamic", "audited_resume",
                    "table_constraints"]
MIN_PASSES = 1
END_TO_END = [("run_s", "s"), ("cpu_s", "s"), ("rows_per_s", "1/s"),
              ("setup_s", "s"), ("peak_rss_mb", "MB")]


class Checks:
    """Operations attempted and failed (raised or failed an output check)."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0

    def expect(self, what: str, ok: bool, detail: str = "") -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            print(f"CHECK FAILED: {what}: {detail}", file=sys.stderr)


CLK_TCK = os.sysconf("SC_CLK_TCK")


def descendants(root: int) -> list[int]:
    """Every process under ``root``, from ``/proc``."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], list(children.get(root, []))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def tree_cpu_s() -> float:
    """CPU seconds (user + system) used so far by this process and every
    process under it: the JVM and the Python workers.  A process that has
    exited counts in its parent's reaped-children time."""
    ticks = 0
    for pid in [os.getpid()] + descendants(os.getpid()):
        try:
            with open(f"/proc/{pid}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:  # the process has exited
            continue
        ticks += sum(int(x) for x in fields[11:15])
    return ticks / CLK_TCK


class RssSampler(threading.Thread):
    """Peak resident memory of the Python driver, the JVM and the
    processes under the JVM (the Python workers), polled from ``/proc``.

    Driver and JVM contribute their own peak (``VmHWM``).  Workers come and
    go, so they contribute the largest sum of their current ``VmRSS`` seen
    at one poll; summing each worker's own peak would count every worker
    ever forked."""

    def __init__(self, interval: float = 0.25):
        super().__init__(daemon=True)
        self.interval = interval
        self.peak = {"python driver": 0, "JVM": 0, "workers": 0}
        self.most_workers = 0
        self._stop_evt = threading.Event()

    @staticmethod
    def _status_kb(pid: int, key: str) -> int:
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith(key):
                        return int(line.split()[1])
        except OSError:  # the process has exited
            pass
        return 0

    @staticmethod
    def _is_python(pid: int) -> bool:
        try:
            with open(f"/proc/{pid}/comm") as fh:
                return fh.read().startswith("python")
        except OSError:
            return False

    def sample(self) -> None:
        from pyspark import SparkContext

        now = {"python driver": self._status_kb(os.getpid(), "VmHWM:")}
        gateway = SparkContext._gateway
        if gateway is not None and getattr(gateway, "proc", None) is not None:
            # Python only: a child the JVM forks to run a shell command
            # shares the JVM's memory until it execs
            workers = [p for p in descendants(gateway.proc.pid)
                       if self._is_python(p)]
            now["JVM"] = self._status_kb(gateway.proc.pid, "VmHWM:")
            now["workers"] = sum(self._status_kb(p, "VmRSS:") for p in workers)
            self.most_workers = max(self.most_workers, len(workers))
        for part, kb in now.items():
            self.peak[part] = max(self.peak[part], kb)

    def run(self) -> None:
        while not self._stop_evt.wait(self.interval):
            self.sample()

    def stop(self) -> float:
        self._stop_evt.set()
        self.join()
        self.sample()
        return sum(self.peak.values()) / 1024

    def breakdown(self) -> str:
        parts = ", ".join(f"{k} {v / 1024:.0f} MB" for k, v in self.peak.items())
        return f"{parts} (at most {self.most_workers} worker processes)"


class Context:
    def __init__(self, args, run_dir: str, tracer, checks):
        self.seed = args.seed
        self.cores = len(os.sched_getaffinity(0))
        self.run_dir = run_dir
        self.data = None
        self.spark = None
        self.tracer = tracer
        self.checks = checks
        self.duck = None


def start_session(ctx, event_log: str | None = None):
    from spark_schema_guard.session import build_session

    conf = {
        "spark.driver.memory": "2g",
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(ctx.run_dir, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(ctx.run_dir, "warehouse"),
        # a fixed-size, pre-touched heap: the JVM's resident memory does
        # not depend on how far the collector happened to grow the heap
        "spark.driver.extraJavaOptions":
            "-Xms2g -XX:+AlwaysPreTouch "
            f"-Djava.io.tmpdir={os.path.join(ctx.run_dir, 'tmp')}",
    }
    if event_log:
        os.makedirs(event_log, exist_ok=True)
        conf.update({"spark.eventLog.enabled": "true",
                     "spark.eventLog.dir": event_log,
                     "spark.eventLog.compress": "false"})
    spark = build_session(app_name="spark-schema-guard-perfbench",
                          cores=ctx.cores, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def shutdown_jvm() -> None:
    """Stop the session and the JVM it runs in, and wait for both."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = gateway.proc
    try:
        gateway.shutdown()
    except Exception:  # the JVM may already be gone
        pass
    proc.stdin.close()  # the gateway JVM exits at EOF on its stdin
    try:
        proc.wait(timeout=60)
    except Exception:
        proc.kill()
        proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def set_up(ctx, workload_cls, index: int):
    """One complete set-up: fresh session, inputs, compiled plan."""
    if ctx.spark is not None:
        ctx.spark.stop()
    ctx.data = os.path.join(ctx.run_dir, f"data{index}")
    with ctx.tracer.span("setup"):
        with ctx.tracer.span("session.start"):
            ctx.spark = start_session(ctx)
        ctx.tracer.bind(ctx.spark)
        workload = workload_cls()
        workload.setup(ctx)
    return workload


def measure(ctx, workload, seconds: float) -> tuple[list, list]:
    """One warm-up pass (not timed), then passes for ``seconds``: the
    seconds and the CPU seconds of each."""
    with ctx.tracer.span("pass", warmup=True):
        workload.run_pass(ctx)
    workload.subtimes.clear()
    samples, cpu = [], []
    deadline = time.perf_counter() + seconds
    while len(samples) < MIN_PASSES or time.perf_counter() < deadline:
        cpu0 = tree_cpu_s()
        with ctx.tracer.span("pass"):
            samples.append(workload.run_pass(ctx))
        cpu.append(tree_cpu_s() - cpu0)
    return samples, cpu


def percentile_label(values) -> tuple[str, float | None]:
    """Highest of p75/p90/p95/p99 with at least ten samples beyond it."""
    n = len(values)
    for p in (99, 95, 90, 75):
        if n * (100 - p) / 100 >= 10:
            ordered = sorted(values)
            return f"p{p}", ordered[math.ceil(p / 100 * n) - 1]
    return "p-", None


def table_row(name, unit, values) -> str:
    label, pct = percentile_label(values)
    pct_s = f"{pct:.4f}" if pct is not None else "-"
    return (f"  {name:22s} {unit:6s} median {statistics.median(values):14.4f}"
            f"  {label} {pct_s:>12s}  n={len(values)}")


def run_workload(args, name, run_dir, trace_root, checks, sampler):
    import workloads
    from spans import NullTracer, Tracer

    cls = workloads.WORKLOADS[name]
    tracer = Tracer(f"{name}-seed{args.seed}") if args.trace else NullTracer()
    ctx = Context(args, run_dir, tracer, checks)
    setup_s = []
    started = time.perf_counter()
    for i in range(SETUPS):
        t0 = time.perf_counter()
        workload = set_up(ctx, cls, i)
        setup_s.append(time.perf_counter() - t0)
        if i:
            shutil.rmtree(os.path.join(run_dir, f"data{i - 1}"))

    seconds = args.seconds / 2 if args.trace else args.seconds
    ctx.tracer = NullTracer()
    t_measure = time.perf_counter()
    samples, cpu = measure(ctx, workload, seconds)
    peak_mb = sampler.stop() if sampler else None
    lines = []
    if args.trace:
        trace_dir = os.path.join(trace_root, f"{name}-seed{args.seed}-{os.getpid()}")
        ctx.spark.stop()
        ctx.spark = None
        ctx.tracer = tracer
        with tracer.span("session.restart"):
            ctx.spark = start_session(ctx, os.path.join(trace_dir, "eventlog"))
        tracer.bind(ctx.spark)
        import spark_schema_guard.columnar.compiler as compiler
        import spark_schema_guard.jsoncol as jsoncol
        tracer.wrap(compiler, "compile_plan_for_column", "compile.plan")
        tracer.wrap(jsoncol, "compile_row_validator", "rowcheck.compile")
        ctx.data = os.path.join(run_dir, "traced")
        with tracer.span("setup"):
            workload = cls()
            workload.setup(ctx)
        traced, _ = measure(ctx, workload, seconds)
    import oracle
    t_check = time.perf_counter()
    ctx.duck = oracle.connect(os.path.join(run_dir, "tmp"))
    try:
        workload.check(ctx)
    finally:
        ctx.duck.close()
        tracer.close()
        ctx.spark.stop()  # also flushes the event log of a traced run
    wall = (f"  wall: set-ups {t_measure - started:.1f} s, warm-up and timed "
            f"passes {t_check - t_measure:.1f} s, checks "
            f"{time.perf_counter() - t_check:.1f} s")

    if args.trace:
        import tracereport

        tracer.dump(os.path.join(trace_dir, "spans.json"))
        with open(os.path.join(trace_dir, "meta.json"), "w") as fh:
            json.dump({"workload": name, "seed": args.seed, "rows": cls.rows,
                       "untraced_run_s": statistics.median(samples),
                       "traced_run_s": statistics.median(traced)}, fh)
        report = tracereport.Trace(trace_dir)
        metrics = report.metrics()
        lines.append(tracereport.format_report(report, metrics))
        lines.append(f"  trace written to {os.path.relpath(trace_dir)}")
        lines.append(wall)
        units = dict(tracereport.PER_LAYER)
        return lines, {k: {"value": v, "unit": units[k]} for k, v in metrics.items()
                       if k not in tracereport.REPORT_ONLY}

    values = {
        "run_s": samples,
        "cpu_s": cpu,
        "rows_per_s": [cls.rows / s for s in samples],
        # the first set-up also launches the JVM and runs cold
        "setup_s": setup_s[1:],
        "peak_rss_mb": [peak_mb],
    }
    lines.append(f"{name}: {cls.rows} input rows, {len(samples)} timed passes, "
                 f"local[{ctx.cores}], seed {args.seed}")
    for metric, unit in END_TO_END:
        lines.append(table_row(metric, unit, values[metric]))
    lines.append(f"  peak_rss_mb = {sampler.breakdown()}")
    lines.append(wall)
    for label, times in workload.subtimes.items():
        lines.append(table_row(label, "s", times))
    return lines, {m: {"value": statistics.median(values[m]), "unit": u}
                   for m, u in END_TO_END}


def main(argv=None) -> int:
    parser = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    parser.add_argument("--workload", required=True, choices=WORKLOADS + ["all"])
    parser.add_argument("--seed", type=int, default=1)
    parser.add_argument("--seconds", type=float, default=2)
    parser.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = parser.parse_args(argv)

    sys.path[:0] = [ROOT, HERE]
    try:
        import duckdb  # noqa: F401
        import pyspark  # noqa: F401
        import spark_schema_guard  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: cannot import {exc.name}; run from the repository "
              "root with pyspark and duckdb installed", file=sys.stderr)
        return 2

    work_root = os.path.join(os.getcwd(), ".perfbench-work")
    run_dir = os.path.join(work_root, f"run-{os.getpid()}")
    os.makedirs(os.path.join(run_dir, "tmp"))
    # inputs, Spark scratch and every temp file stay in the work dir;
    # Spark's Python workers import the package from the repository root
    os.environ.update({
        "TMPDIR": os.path.join(run_dir, "tmp"),
        "SPARK_LOCAL_DIRS": os.path.join(run_dir, "spark-local"),
        "PYTHONPATH": os.pathsep.join(
            [ROOT] + [p for p in [os.environ.get("PYTHONPATH")] if p]),
        "PYSPARK_PYTHON": sys.executable,
    })
    tempfile.tempdir = None

    checks = Checks()
    results, lines = {}, []
    ok = True
    try:
        for name in (KEPT if args.workload == "all" else [args.workload]):
            sampler = None
            if not args.trace:
                sampler = RssSampler()
                sampler.start()
            out_lines, metrics = run_workload(
                args, name, run_dir, os.path.join(work_root, "traces"),
                checks, sampler)
            lines += out_lines
            results[name] = metrics
    except Exception:
        traceback.print_exc()
        checks.attempted += 1
        checks.failed += 1
        ok = False
    finally:
        shutdown_jvm()
        shutil.rmtree(run_dir, ignore_errors=True)

    ok = ok and checks.failed == 0
    print("\n".join(lines))
    print(f"  failed_ops_frac {checks.failed}/{max(checks.attempted, 1)} = "
          f"{checks.failed / max(checks.attempted, 1):.4f}")
    if args.workload == "all":
        metrics = {f"{w}.{k}": v for w, m in results.items() for k, v in m.items()}
    else:
        metrics = results.get(args.workload, {})
    print(json.dumps({"correct": ok, "attempted": max(checks.attempted, 1),
                      "failed": checks.failed, "metrics": metrics}), flush=True)
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
