"""Shared plumbing for the workloads: the Spark session, the machine
context, latency statistics and the result line.

Nothing here imports pyspark at module load: ``start_session`` first
points every temp and scratch location of both the Python driver and the
JVM into the benchmark's work directory, then imports the package.
"""

from __future__ import annotations

import json
import os
import resource
import shutil
import sys
import time

#: repository root (the checkout the benchmark runs from)
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
#: everything the benchmark writes lives under here (gitignored)
WORK_ROOT = os.path.join(ROOT, ".bench_build", "perfbench")

#: end-to-end metrics every untraced run reports (BENCHMARK.json ``end_to_end``)
END_TO_END = ("setup_s", "p50_ms", "ops_per_s", "cpu_ms_per_op", "peak_rss_mb")

CORES = 4  # local[4], at most 4 client threads: sized for a 4-core host
DRIVER_MEM = "1g"


class Run:
    """One benchmark run: its work directory, counters and the timings
    that go into the result line."""

    def __init__(self, workload: str, seed: int, seconds: float, trace: bool):
        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.work = os.path.join(WORK_ROOT, f"{workload}-{os.getpid()}")
        shutil.rmtree(self.work, ignore_errors=True)
        os.makedirs(os.path.join(self.work, "tmp"))
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.spark = None
        self.cpu_start = cpu_jiffies()
        self.t_start = time.time()
        self.marks: dict[str, float] = {}

    def mark(self, phase: str) -> None:
        """Record the wall time since the run began at the end of ``phase``."""
        self.marks[phase] = time.time() - self.t_start

    def check(self, ok: bool, what: str) -> bool:
        """Count one verified operation; keep the first few failure notes."""
        self.attempted += 1
        if not ok:
            self.failed += 1
            if len(self.failures) < 20:
                self.failures.append(what)
        return ok

    def close(self) -> None:
        """Stop the session, wait for the driver JVM to exit, remove the
        work directory."""
        if self.spark is not None:
            from pyspark import SparkContext

            gateway = self.spark.sparkContext._gateway
            self.spark.stop()
            self.spark = None
            # the JVM exits when the pipe on its stdin closes
            gateway.shutdown()
            gateway.proc.stdin.close()
            gateway.proc.wait(timeout=120)
            SparkContext._gateway = SparkContext._jvm = None
        shutil.rmtree(self.work, ignore_errors=True)


def start_session(run: Run, extra_conf: dict[str, str] | None = None):
    """Start ``local[4]`` through the package's own ``get_spark`` with
    every scratch location inside the work directory.  Returns the
    session and its start time in seconds (JVM launch included)."""
    tmp = os.path.join(run.work, "tmp")
    os.environ["TMPDIR"] = tmp
    os.environ["TZ"] = "UTC"  # collected timestamps compare with DuckDB's naive UTC
    time.tzset()
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    os.environ["SPARK_GRAFT_CPUS"] = str(CORES)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    import tempfile

    tempfile.tempdir = tmp
    conf = {
        "spark.local.dir": tmp,
        "spark.sql.warehouse.dir": os.path.join(run.work, "warehouse"),
        # the whole heap is touched at start, so peak RSS does not depend
        # on when the collector happened to grow the heap
        "spark.driver.extraJavaOptions": (f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData "
                                          f"-Xms{DRIVER_MEM} -XX:+AlwaysPreTouch"),
        "spark.ui.showConsoleProgress": "false",
    }
    conf.update(extra_conf or {})
    t0 = time.perf_counter()
    from time_series_databse_engine_spark import get_spark

    spark = get_spark(
        app_name=f"perfbench-{run.workload}", master=f"local[{CORES}]", extra_conf=conf
    )
    spark.sparkContext.setLogLevel("ERROR")
    run.spark = spark
    run.mark("session")
    return spark, time.perf_counter() - t0


def cpu_jiffies() -> list[int]:
    """Aggregate ``cpu`` line of /proc/stat (user nice system idle iowait
    irq softirq steal ...)."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def cpu_fracs(start: list[int], end: list[int]) -> dict[str, float]:
    d = [b - a for a, b in zip(start, end)]
    total = sum(d[:8]) or 1
    busy = d[0] + d[1] + d[2] + d[5] + d[6]
    return {"steal_frac": d[7] / total, "busy_frac": busy / total}


def tree_cpu_s() -> float:
    """CPU seconds used so far by this process and every process under it
    (the driver JVM and its Python workers), reaped children included.
    Unlike wall time, this does not grow when the host steals cycles."""
    procs: dict[int, tuple[int, int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                st = f.read()
        except OSError:  # the process ended while we listed
            continue
        fields = st[st.rindex(")") + 2:].split()
        # ppid, then utime stime cutime cstime (proc(5) fields 4, 14-17)
        procs[int(d)] = (int(fields[1]), sum(int(x) for x in fields[11:15]))
    me = os.getpid()
    total = 0
    for pid, (_, ticks) in procs.items():
        p = pid
        while p in procs and p != me:
            p = procs[p][0]
        if p == me:
            total += ticks
    return total / os.sysconf("SC_CLK_TCK")


def jvm_pid(spark) -> int:
    return int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())


def peak_rss_mb(spark) -> float:
    """Peak resident set of this Python process plus the driver JVM."""
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    jvm_kb = 0
    with open(f"/proc/{jvm_pid(spark)}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                jvm_kb = int(line.split()[1])
    return (py_kb + jvm_kb) / 1024.0


def context(run: Run) -> dict:
    """Contention context of the run, so a noisy run can be told apart
    from a regression."""
    sc = run.spark.sparkContext
    fr = cpu_fracs(run.cpu_start, cpu_jiffies())
    return {
        "steal_frac": fr["steal_frac"],
        "busy_frac": fr["busy_frac"],
        "loadavg": list(os.getloadavg()),
        "default_parallelism": sc.defaultParallelism,
        "master": sc.master,
        "nproc": os.cpu_count(),
    }


def percentile(values: list[float], q: float) -> float:
    """Linear-interpolated percentile (q in [0, 100]); ``inf`` entries
    (failed requests) sort last, so they count as missing every limit."""
    s = sorted(values)
    if len(s) == 1:
        return s[0]
    k = (len(s) - 1) * q / 100.0
    lo = int(k)
    hi = min(lo + 1, len(s) - 1)
    if s[hi] == float("inf"):
        return s[hi] if k > lo else s[lo]
    return s[lo] + (s[hi] - s[lo]) * (k - lo)


def timed(fn, *args, **kwargs):
    t0 = time.perf_counter()
    out = fn(*args, **kwargs)
    return time.perf_counter() - t0, out


def emit(run: Run, metrics: dict[str, tuple[float, str]], report: dict) -> None:
    """Print every metric as ``name value unit``, write the full run
    record under the work root, and print the one-line JSON result last."""
    from perfbench.layers import PER_LAYER

    names = PER_LAYER if run.trace else END_TO_END
    if set(metrics) != set(names):
        raise RuntimeError(f"metric set differs from BENCHMARK.json: {sorted(set(metrics) ^ set(names))}")
    report = dict(report)
    report.update(
        workload=run.workload,
        seed=run.seed,
        seconds=run.seconds,
        trace=run.trace,
        attempted=run.attempted,
        failed=run.failed,
        failures=run.failures,
        context=context(run),
        wall_s=time.time() - run.t_start,
        marks=run.marks,
    )
    for name, (value, unit) in report.get("named", {}).items():
        print(f"{name} {value:.6g} {unit}")
    print(f"failed_frac {run.failed / max(run.attempted, 1):.6g} ratio")
    print(f"verification {'PASS' if run.failed == 0 else 'FAIL'} "
          f"({run.attempted - run.failed}/{run.attempted} verified)")
    for note in run.failures:
        print(f"  mismatch: {note}")
    ctx = report["context"]
    print(f"context steal={ctx['steal_frac']:.4f} busy={ctx['busy_frac']:.3f} "
          f"loadavg={ctx['loadavg'][0]:.2f} parallelism={ctx['default_parallelism']} "
          f"master={ctx['master']}")
    report["metrics"] = {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}
    kind = "trace" if run.trace else "run"
    path = os.path.join(WORK_ROOT, f"{kind}-{run.workload}-seed{run.seed}.json")
    with open(path, "w") as f:
        json.dump(report, f, indent=1, default=str)
    print(f"record {os.path.relpath(path, ROOT)}")
    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": report["metrics"],
    }))
