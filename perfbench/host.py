"""Host-sized settings, engine session lifecycle and /proc accounting.

The benchmark pins the core count, sizes the driver heap from host RAM
and keeps every file Spark or Python writes inside the checkout's work
directory. Sessions are built with the engine's own ``session.get_spark``
and torn down with their JVM, so one run can time several set-ups.
"""

from __future__ import annotations

import os
import time

CLK_TCK = os.sysconf("SC_CLK_TCK")


def driver_mem_from_host(share: float = 0.25, cap_mb: int = 8192) -> str:
    """A quarter of host RAM, capped: the engine's 48g default exceeds
    the RAM of small hosts."""
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                mb = int(line.split()[1]) // 1024
                return f"{max(1024, min(cap_mb, int(mb * share)))}m"
    return "2g"


def pin_env(root: str, work: str, cpus: int) -> None:
    """Environment every session of this run inherits."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = driver_mem_from_host()
    # Python workers import the engine package from the checkout.
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["TMPDIR"] = tmp


def session_conf(work: str) -> dict[str, str]:
    tmp = os.path.join(work, "tmp")
    return {
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.sql.streaming.numRecentProgressUpdates": "1000",
        "spark.ui.showConsoleProgress": "false",
    }


def launch(work: str, app: str):
    """Build a session through the engine's factory. Returns (spark,
    seconds the call took)."""
    from stock_streaming_data_pipeline_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark(app, extra_conf=session_conf(work))
    return spark, time.perf_counter() - t0


def shutdown(spark) -> None:
    """Stop the session and its JVM, and wait for the JVM to exit."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        gateway.proc.stdin.close()
        gateway.proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None


def jvm_pid() -> int:
    from pyspark import SparkContext

    return SparkContext._gateway.proc.pid


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:
        return None
    # the command name may hold spaces; fields resume after its ')'
    return raw[raw.rindex(")") + 2 :].split()


def cpu_s(pid: int, *, children: bool = False) -> float:
    """User + system CPU seconds of ``pid`` (plus its reaped children)."""
    f = _stat(pid)
    if f is None:
        return 0.0
    ticks = int(f[11]) + int(f[12])
    if children:
        ticks += int(f[13]) + int(f[14])
    return ticks / CLK_TCK


def descendants(pid: int) -> list[int]:
    parent: dict[int, int] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            f = _stat(int(name))
            if f is not None:
                parent[int(name)] = int(f[1])
    out, frontier = [], [pid]
    while frontier:
        p = frontier.pop()
        kids = [c for c, pp in parent.items() if pp == p]
        out += kids
        frontier += kids
    return out


def peak_rss_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024
    except OSError:
        pass
    return 0.0


class CpuClock:
    """CPU seconds spent so far by this process, the JVM and the JVM's
    Python workers. CPU time does not advance while the hypervisor steals
    a virtual CPU, so on a shared host it holds steady where wall time
    swings with the neighbours' load."""

    def __init__(self) -> None:
        self.jvm = jvm_pid()

    def split(self) -> dict[str, float]:
        return {
            "driver": cpu_s(os.getpid()),
            "jvm": cpu_s(self.jvm),
            "pyworker": sum(cpu_s(p, children=True) for p in descendants(self.jvm)),
        }

    def __call__(self) -> float:
        return sum(self.split().values())
