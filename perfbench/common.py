"""Shared plumbing for the benchmark: box sizing, the Spark session, process
memory, order statistics and the result line.

Everything the benchmark writes lives under ``<checkout>/.bench_work``: Spark
scratch, tables, feeds, Python temp files and JVM temp files.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

#: Driver heap. The box has 15 GB shared with other tenants; the largest
#: workload peaks well under 2 GB of heap.
DRIVER_MEMORY = "3g"
#: C1 only. With the full tiered compiler the tail was still speeding up
#: after six rounds, and C2's compiler threads took a fifth of the box
#: during the measured round: a short run measured the JIT, not a steady
#: state.
JIT = "-XX:TieredStopAtLevel=1"


def cpus() -> int:
    """Cores this process may run on (``nproc``)."""
    return len(os.sched_getaffinity(0))


def make_workdir(workload: str) -> str:
    # fixed-width name: table metadata records paths, and its size is a metric
    work = os.path.join(ROOT, ".bench_work", f"{workload}-{os.getpid():08d}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    return work


def configure_env(work: str, traced: bool) -> None:
    """Fit the engine to this box through environment variables only, before
    the JVM starts: ``local[nproc]``, a bounded heap, and every scratch
    directory inside the checkout."""
    tmp = os.path.join(work, "tmp")
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus())
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_GRAFT_STAGING"] = os.path.join(work, "put-staging")
    # Python workers import the package from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData {JIT}",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    }
    if traced:
        # job and stage counts are read back from the status store at the end
        conf["spark.ui.retainedJobs"] = "100000"
        conf["spark.ui.retainedStages"] = "100000"
    os.environ["SPARK_GRAFT_EXTRA_CONF"] = json.dumps(conf)
    import tempfile

    tempfile.tempdir = tmp


def versions() -> dict:
    import duckdb
    import pyarrow
    import pyspark

    return {
        "spark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "duckdb": duckdb.__version__,
        "python": sys.version.split()[0],
        "cpus": cpus(),
        "driver_memory": DRIVER_MEMORY,
        "jit": JIT,
    }


def java_version(spark) -> str:
    return spark.sparkContext._jvm.java.lang.System.getProperty("java.version")


# ----------------------------------------------------------------- memory
def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat[stat.rfind(")") + 2 :].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def _hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip()
    except OSError:
        return ""


def peak_rss_mb(extra_kb: int = 0) -> float:
    """VmHWM of this process plus the driver JVM it launched, plus
    ``extra_kb`` reported by other benchmark processes. Spark's own Python
    worker pool is not counted: it forks and retires workers on its own
    schedule."""
    kids = _children()
    stack, jvm_kb = list(kids.get(os.getpid(), [])), 0
    while stack:
        pid = stack.pop()
        if _comm(pid) == "java":
            jvm_kb += _hwm_kb(pid)
        else:
            stack.extend(kids.get(pid, []))
    return (_hwm_kb(os.getpid()) + jvm_kb + extra_kb) / 1024.0


def cpu_ticks() -> list[int]:
    """Box-wide ``/proc/stat`` CPU ticks: user, nice, system, idle, iowait,
    irq, softirq, steal."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def busy_s() -> float:
    """CPU seconds the box has spent running anything since boot: user,
    nice, system, irq and softirq time, without idle, iowait and steal. The
    box runs nothing but the benchmark, so a difference of two readings is
    the benchmark's CPU time, and time the host gave to other tenants
    (steal) is not in it."""
    t = cpu_ticks()
    return (t[0] + t[1] + t[2] + t[5] + t[6]) / os.sysconf("SC_CLK_TCK")


def cpu_shares(before: list[int], after: list[int]) -> dict[str, float]:
    d = [b - a for a, b in zip(before, after)]
    total = sum(d) or 1
    names = ("user", "nice", "system", "idle", "iowait", "irq", "softirq", "steal")
    return {n: round(v / total, 3) for n, v in zip(names, d)}


# ------------------------------------------------------------- statistics
def median(xs) -> float:
    return float(statistics.median(xs))


def geomean(xs) -> float:
    return float(statistics.geometric_mean(xs))


class Clock:
    """Wall clock for the measured window."""

    def __init__(self, seconds: float):
        self.seconds = seconds
        self.t0 = time.perf_counter()

    def elapsed(self) -> float:
        return time.perf_counter() - self.t0

    def more(self, done: int) -> bool:
        """Another round? Always at least one."""
        return done < 1 or self.elapsed() < self.seconds


def log(*parts) -> None:
    print(*parts, file=sys.stderr, flush=True)


def emit(correct: bool, attempted: int, failed: int, metrics: dict[str, tuple[float, str]]) -> None:
    """The result: the last line of standard output."""
    out = {
        "correct": bool(correct),
        "attempted": int(attempted),
        "failed": int(failed),
        "metrics": {k: {"value": float(v), "unit": u} for k, (v, u) in metrics.items()},
    }
    sys.stdout.write(json.dumps(out) + "\n")
    sys.stdout.flush()
