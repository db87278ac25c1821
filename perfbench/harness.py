"""Shared plumbing: the pinned Spark session, set-up repetition, percentiles,
memory and host-noise readings."""

from __future__ import annotations

import math
import os
import shutil
import statistics
import time
from dataclasses import dataclass, field

from neo4j_to_clickhouse_spark.session import get_spark

# The session every workload runs on, besides get_spark's own defaults.
# Pinned here so both sides of a comparison run identically; the run prints
# the resolved conf with its report.
DRIVER_MEMORY = "2g"
TRACE_CONF = {
    # the UI REST API is where per-span task CPU / shuffle bytes come from
    "spark.ui.enabled": "true",
    "spark.ui.port": "0",
    "spark.ui.retainedJobs": "100000",
    "spark.ui.retainedStages": "100000",
    "spark.ui.retainedTasks": "1000000",
}
TAIL_LADDER = (99.99, 99.9, 99.0, 95.0, 90.0, 75.0, 50.0)


def nproc() -> int:
    return len(os.sched_getaffinity(0))


@dataclass
class Env:
    """Where a run may write (inside the checkout) and how it was asked to
    run."""

    work: str
    seed: int
    seconds: float
    trace: bool
    session_starts: list[float] = field(default_factory=list)
    conf: dict[str, str] = field(default_factory=dict)  # of the first session

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def fresh(self, *parts: str) -> str:
        p = self.path(*parts)
        shutil.rmtree(p, ignore_errors=True)
        os.makedirs(p)
        return p

    def say(self, line: str) -> None:
        print(line, flush=True)


def session_conf(env: Env) -> dict[str, str]:
    conf = {
        "spark.driver.memory": DRIVER_MEMORY,
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": env.path("spark-local"),
        "spark.sql.warehouse.dir": env.path("warehouse"),
        # a fixed-size heap: its growth policy otherwise varies run to run,
        # which moves both GC cost and peak RSS
        "spark.driver.extraJavaOptions": (
            f"-Xms{DRIVER_MEMORY} -Djava.io.tmpdir={env.path('tmp')} "
            f"-Dderby.system.home={env.path('derby')}"
        ),
    }
    if env.trace:
        conf.update(TRACE_CONF)
    return conf


def start_session(env: Env, threads: int | None = None):
    """A fresh SparkSession on ``local[threads]`` (default: nproc)."""
    from pyspark.sql import SparkSession

    t0 = time.perf_counter()
    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
    n = threads or nproc()
    spark = get_spark(
        "perfbench",
        master=f"local[{n}]",
        shuffle_partitions=n,
        extra_conf=session_conf(env),
    )
    spark.sparkContext.setLogLevel("ERROR")
    env.session_starts.append(time.perf_counter() - t0)
    if not env.conf:
        env.conf = dict(spark.sparkContext.getConf().getAll())
    return spark


def shutdown(spark) -> None:
    """Stop the session and the JVM it runs in, and wait for the JVM."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None


def repeat_setup(setup, reps: int = 3):
    """Run ``setup`` ``reps`` times (each from scratch, session included) and
    keep the last result. Returns (result, median seconds, all seconds)."""
    times, result = [], None
    for _ in range(reps):
        t0 = time.perf_counter()
        result = setup()
        times.append(time.perf_counter() - t0)
    return result, statistics.median(times), times


def median(xs):
    return statistics.median(xs) if xs else 0.0


def quantile(sorted_xs: list[float], p: float) -> float:
    """Nearest-rank quantile of an already sorted list."""
    if not sorted_xs:
        return 0.0
    k = max(0, min(len(sorted_xs) - 1, math.ceil(p / 100.0 * len(sorted_xs)) - 1))
    return sorted_xs[k]


def tail(samples: list[float]) -> tuple[float, float]:
    """(percentile, value): the highest percentile of ``TAIL_LADDER`` with at
    least ten samples beyond it. Below twenty samples no percentile has that
    support; the upper quartile is reported then, because the maximum of a
    handful of samples moves with every burst of host noise."""
    xs = sorted(samples)
    for p in TAIL_LADDER:
        if len(xs) * (1 - p / 100.0) >= 10:
            return p, quantile(xs, p)
    return 75.0, quantile(xs, 75.0)


def _vm_hwm_kb(pid: int | str) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _jvm_pid(spark) -> int:
    return spark._jvm.java.lang.ProcessHandle.current().pid()


def peak_rss_mb(spark) -> float:
    """Peak resident memory of the driver JVM plus this Python process."""
    return (_vm_hwm_kb("self") + _vm_hwm_kb(_jvm_pid(spark))) / 1024.0


def jvm_cpu_s(spark) -> float:
    """CPU seconds (user + system, all threads) the driver JVM has used so
    far. The engine runs in that JVM on ``local[n]``; the benchmark's own
    Python (generator, visibility poller, checks) is not counted. The kernel
    leaves hypervisor steal out of a process's CPU time, so on a busy host
    this cost stretches far less than wall-clock times do (it still grows
    when neighbours contend for the cores' caches)."""
    with open(f"/proc/{_jvm_pid(spark)}/stat") as fh:
        fields = fh.read().rsplit(")", 1)[1].split()
    # fields[0] is the state (field 3 of proc(5)); utime, stime are 14, 15
    return (int(fields[11]) + int(fields[12])) / os.sysconf("SC_CLK_TCK")


def host_noise() -> dict[str, float]:
    """Cumulative CPU steal (jiffies) and the 1-minute load average."""
    with open("/proc/stat") as fh:
        cpu = fh.readline().split()
    with open("/proc/loadavg") as fh:
        load1 = float(fh.read().split()[0])
    return {"steal_jiffies": int(cpu[8]), "loadavg_1m": load1}


def dir_bytes(root: str, files: list[str] | None = None) -> tuple[int, int]:
    """(file count, bytes) of data files under ``root``; ``files`` limits the
    count to those table-relative paths (a snapshot's live files)."""
    if files is not None:
        return len(files), sum(os.path.getsize(os.path.join(root, f)) for f in files)
    n = total = 0
    for d, _, names in os.walk(root):
        for name in names:
            if not name.startswith((".", "_")):
                n += 1
                total += os.path.getsize(os.path.join(d, name))
    return n, total
