"""Host facts and process-tree accounting read from ``/proc``.

Every artifact the benchmark writes carries :func:`host_stamp`, and the
Spark parallelism and driver heap are derived here from the host rather
than hard-coded.
"""

from __future__ import annotations

import os
import platform
import signal
import subprocess
import time

_CLK_TCK = os.sysconf("SC_CLK_TCK")


def cpus() -> int:
    """CPUs this process may run on (what ``nproc`` prints)."""
    return len(os.sched_getaffinity(0))


def mem_total_mib() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def driver_heap_mib(mem_mib: int) -> int:
    """One eighth of RAM in 256 MiB steps, kept within 1-8 GiB: enough for
    the sf0.1 pipeline with room for the Python workers beside it."""
    return min(max(mem_mib // 8 // 256 * 256, 1024), 8192)


def host_stamp(spark, n: int, heap_mib: int) -> dict:
    jvm = spark.sparkContext._jvm
    return {
        "nproc": cpus(),
        "mem_total_mib": mem_total_mib(),
        "spark_master": f"local[{n}]",
        "driver_heap_mib": heap_mib,
        "spark": spark.version,
        "java": f"{jvm.System.getProperty('java.vm.name')} "
                f"{jvm.System.getProperty('java.version')}",
        "python": platform.python_version(),
        "kernel": platform.release(),
    }


def steal_s() -> float:
    """CPU time the hypervisor gave to other guests, summed over all CPUs
    (the ``steal`` column of /proc/stat); a pass that sees much of it ran
    on a busy host."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / _CLK_TCK


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            # the command name may hold spaces: fields start after its ')'
            return f.read().rsplit(")", 1)[1].split()
    except OSError:
        return None


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                kids.setdefault(int(st[1]), []).append(int(name))
    return kids


def descendants(root: int) -> list[int]:
    kids = _children()
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out


def tree_cpu_s(root: int | None = None) -> float:
    """User+system CPU seconds of ``root`` and every live descendant,
    including children they have already reaped (``cutime``/``cstime``)."""
    ticks = 0
    for pid in descendants(root or os.getpid()):
        st = _stat(pid)
        if st is not None:
            # utime, stime, cutime, cstime are fields 14-17 of stat(5)
            ticks += sum(int(x) for x in st[11:15])
    return ticks / _CLK_TCK


def _alive(pid: int) -> bool:
    st = _stat(pid)
    return st is not None and st[0] != "Z"


def stop_spark(spark, timeout_s: float = 60.0) -> None:
    """Stop the session, then the JVM PySpark launched, and wait until it
    and the Python workers below it have exited."""
    from pyspark import SparkContext

    me = os.getpid()
    started = [pid for pid in descendants(me) if pid != me]
    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        gateway.proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            gateway.proc.wait(timeout_s)
        except subprocess.TimeoutExpired:
            gateway.proc.kill()
            gateway.proc.wait()
        SparkContext._gateway = SparkContext._jvm = None
    deadline = time.monotonic() + timeout_s
    while any(_alive(p) for p in started) and time.monotonic() < deadline:
        time.sleep(0.05)
    for pid in started:
        if _alive(pid):
            os.kill(pid, signal.SIGKILL)


def _hwm_kib(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def spark_peak_rss_mib() -> float:
    """Kernel RSS high-water marks summed over the JVM this process started
    and the Python workers below it (the driver's own interpreter is not
    counted)."""
    me = os.getpid()
    total = sum(_hwm_kib(pid) for pid in descendants(me) if pid != me)
    return total / 1024.0
