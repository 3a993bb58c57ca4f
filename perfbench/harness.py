"""Shared state and helpers of one benchmark run."""

from __future__ import annotations

import argparse
import os
import statistics
import sys
import time
import traceback
from contextlib import contextmanager

from perfbench import trace

WORK_DIR = ".perfbench_work"


def tail_percentile(xs: list[float]) -> tuple[float, float]:
    """(value, percentile) of the highest percentile that still has at
    least ten samples above it.  Below 21 samples no percentile from the
    median up has ten above it; the tail is then the sample at the upper
    median, so it never reads below the median."""
    s = sorted(xs)
    k = max(len(s) - 11, len(s) // 2)
    return s[k], (k + 1) / len(s)


def cpu_ref() -> float:
    """Fixed single-thread CPU loop (bench.py's calibration), recorded as
    host context only: no metric is normalized by it."""
    t0 = time.perf_counter()
    s = 0
    for i in range(5_000_000):
        s += i * i & 0xFFFF
    return time.perf_counter() - t0


def vm_hwm_mb(pid: int | str) -> float:
    """Peak resident set size of one process, from /proc."""
    try:
        with open(f"/proc/{pid}/status", encoding="ascii") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


class Bench:
    """State of one benchmark run, shared by the workloads."""

    def __init__(self, args: argparse.Namespace, root: str, t_start: float) -> None:
        self.seed: int = args.seed
        self.seconds: float = args.seconds
        self.traced: bool = bool(args.trace)
        self.workload: str = args.workload
        self.root = root
        self.t_start = t_start
        self.work = os.path.join(root, WORK_DIR, f"{args.workload}-{args.seed}-{os.getpid()}")
        self.tracer = trace.Tracer()
        self.spark = None
        self.jvm_pid: int | None = None
        self.excluded_s = 0.0  # generator, oracle and calibration time, kept out of setup_s
        self.gen_s = 0.0
        self.get_spark_s = 0.0
        self.setup_s = 0.0
        self.t_timed = 0.0
        self.first_timed_op = 0
        self.next_op = 0
        self.op_labels: dict[int, str] = {}
        self.spark_stats: dict[tuple[int, str], trace.PhaseStats] = {}
        self.attempted = 0
        self.failed = 0
        self.checks_ok = True

    # -- lifecycle -----------------------------------------------------
    def configure_env(self) -> None:
        os.makedirs(os.path.join(self.work, "tmp"), exist_ok=True)
        cores = len(os.sched_getaffinity(0))
        os.environ["SPARK_GRAFT_CPUS"] = str(cores)
        os.environ["SPARK_LOCAL_DIRS"] = os.path.join(self.work, "spark-local")
        os.environ["TMPDIR"] = os.path.join(self.work, "tmp")
        os.environ["TZ"] = "UTC"
        time.tzset()
        conf = [
            "--driver-java-options", f"-Djava.io.tmpdir={self.work}/tmp -XX:-UsePerfData",
            "--conf", f"spark.sql.warehouse.dir={self.work}/warehouse",
        ]
        if self.traced:
            os.makedirs(os.path.join(self.work, "eventlog"))
            conf += [
                "--conf", "spark.eventLog.enabled=true",
                "--conf", f"spark.eventLog.dir=file://{self.work}/eventlog",
                "--conf", "spark.eventLog.compress=false",
                "--conf", "spark.eventLog.rolling.enabled=false",
            ]
        os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(_quote(c) for c in conf) + " pyspark-shell"

    def start_spark(self):
        from pyspark import SparkContext

        from testlog_etl_spark.session import get_spark

        t0 = time.perf_counter()
        self.spark = get_spark(f"perfbench-{self.workload}")
        self.get_spark_s = time.perf_counter() - t0
        proc = getattr(SparkContext._gateway, "proc", None)
        self.jvm_pid = proc.pid if proc is not None else None
        return self.spark

    def stop_spark(self) -> None:
        """Stop the session and wait for the JVM to exit."""
        if self.spark is None:
            return
        from pyspark import SparkContext

        self.spark.stop()
        self.spark = None
        gateway = SparkContext._gateway
        if gateway is None:
            return
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=60)
            except Exception:
                proc.kill()
                proc.wait()

    def peak_rss_mb(self) -> float:
        return vm_hwm_mb("self") + (vm_hwm_mb(self.jvm_pid) if self.jvm_pid else 0.0)

    # -- timing --------------------------------------------------------
    @contextmanager
    def excluded(self, gen: bool = False):
        """Untimed work that is not set-up either (inputs, oracles)."""
        t0 = time.perf_counter()
        try:
            yield
        finally:
            dt = time.perf_counter() - t0
            self.excluded_s += dt
            if gen:
                self.gen_s += dt

    def setup_done(self) -> None:
        self.first_timed_op = self.next_op + 1
        self.t_timed = time.perf_counter()
        self.setup_s = self.t_timed - self.t_start - self.excluded_s

    def timed_elapsed(self) -> float:
        return time.perf_counter() - self.t_timed

    def new_op(self, label: str) -> int:
        self.next_op += 1
        self.op_labels[self.next_op] = label
        return self.next_op

    @contextmanager
    def phase(self, op_id: int, name: str):
        """A span around one call into a layer; in traced runs the jobs it
        launches carry ``pb|<op>|<phase>`` as their description."""
        if self.traced:
            self.spark.sparkContext.setJobDescription(trace.job_description(op_id, name))
        try:
            with self.tracer.span(name, op_id) as span:
                yield span
        finally:
            if self.traced:
                self.spark.sparkContext.setJobDescription(None)

    def op_failed(self, what: str) -> None:
        self.failed += 1
        print(f"perfbench: op failed: {what}", file=sys.stderr)
        traceback.print_exc(file=sys.stderr)

    def span_seconds(self, name: str, labels: tuple[str, ...] | None = None) -> float:
        """Summed wall of the spans called ``name`` of the timed ops (only
        of ops whose label is in ``labels``, if given)."""
        return sum(
            s.end - s.start
            for s in self.tracer.spans
            if s.name == name and s.op_id is not None and s.op_id >= self.first_timed_op
            and (labels is None or self.op_labels[s.op_id] in labels)
        )

    # -- traced-run helpers ---------------------------------------------
    def phase_stats(self) -> dict[tuple[int, str], trace.PhaseStats]:
        """Per (op, phase) Spark counters from this run's event log (call
        after ``stop_spark``, which flushes and closes the log); warm-up
        ops are left out."""
        logs = os.listdir(os.path.join(self.work, "eventlog"))
        if len(logs) != 1:
            raise RuntimeError(f"expected one event log, found {logs}")
        stats = trace.read_event_log(os.path.join(self.work, "eventlog", logs[0]))
        self.spark_stats = {k: v for k, v in stats.items() if k[0] >= self.first_timed_op}
        return self.spark_stats


def _quote(s: str) -> str:
    return f'"{s}"' if " " in s else s


def wall_metrics(b: Bench, stats: dict[tuple[int, str], trace.PhaseStats]) -> dict[str, tuple[float, str]]:
    """Build / plan / execute wall of the timed ops, from their spans; the
    plan part is cut from each execute span at its first Spark job."""
    build = b.span_seconds("build")
    plan, execute = trace.split_exec(b.tracer, stats, b.first_timed_op)
    return {
        "build.wall_s": (build, "s"),
        "plan.wall_s": (plan, "s"),
        "exec.wall_s": (execute, "s"),
        "exec.frac": (execute / (build + plan + execute), "ratio"),
        "session.get_spark_s": (b.get_spark_s, "s"),
        "gen.data_s": (b.gen_s, "s"),
    }


def exec_layer_metrics(stats: dict[tuple[int, str], trace.PhaseStats]) -> dict[str, float]:
    """Workload sums of the Spark counters: build-phase jobs, and all
    counters of the execute phase."""
    tot = trace.PhaseStats()
    build_jobs = 0
    for (_op, phase), st in stats.items():
        if phase == "exec":
            tot.add(st)
        elif phase == "build":
            build_jobs += st.jobs
    skews = tot.task_skews or [1.0]
    return {
        "build.jobs": build_jobs,
        "plan.exchange_nodes": tot.exchange_nodes,
        "plan.bnlj_nodes": tot.bnlj_nodes,
        "plan.python_exec_nodes": tot.python_exec_nodes,
        "plan.cached_scan_nodes": tot.cached_scan_nodes,
        "exec.jobs": tot.jobs,
        "exec.stages": tot.stages,
        "exec.tasks": tot.tasks,
        "exec.task_failures": tot.task_failures,
        "exec.input_bytes": tot.input_bytes,
        "exec.shuffle_write_bytes": tot.shuffle_write_bytes,
        "exec.shuffle_read_bytes": tot.shuffle_read_bytes,
        "exec.shuffle_records": tot.shuffle_records,
        "exec.spill_bytes": tot.spill_bytes,
        "exec.executor_run_s": tot.executor_run_s,
        "exec.executor_cpu_s": tot.executor_cpu_s,
        "exec.gc_s": tot.gc_s,
        "exec.task_skew": statistics.mean(skews),
    }


# per-layer metrics that only the etl-ingest workload exercises
ETL_ONLY = (
    "etl.build_s",
    "etl.dead_letter_ratio",
    "etl.ingest_rows_per_s",
    "sink.write_s",
    "sink.rows_written",
    "sink.files_written",
    "sink.bytes_per_input_byte",
    "readback.build_s",
    "readback.exec_s",
    "readback.files_scanned",
    "readback.latency_p50_s",
)


def unit(name: str) -> str:
    """Unit of a per-layer metric, from its name."""
    if name.endswith("_per_s"):
        return "1/s"
    if name.endswith("_s"):
        return "s"
    if name.endswith("_bytes"):
        return "B"
    if name.endswith(("_ratio", "_frac", ".frac", ".task_skew", "_per_input_byte")):
        return "ratio"
    return "count"
