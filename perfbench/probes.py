"""Host-side probes: process start time, memory, load and the calibration
probe recorded next to every run.  psutil is not available; everything is
read from ``/proc``."""

from __future__ import annotations

import os
import threading
import time

#: share of the host's CPU time busy (with this process idle) before the
#: run, or share of CPU time stolen by other tenants' virtual CPUs during
#: it, that flags a run as made on a loaded host
LOADED_SHARE = 0.5
LOADED_STEAL = 0.1


def process_start_boottime() -> float:
    """This process's start, on the CLOCK_BOOTTIME scale (seconds)."""
    with open("/proc/self/stat") as fh:
        fields = fh.read().rsplit(")", 1)[1].split()
    # field 22 of stat is starttime; fields[0] here is field 3
    return int(fields[19]) / os.sysconf("SC_CLK_TCK")


def seconds_since_process_start() -> float:
    return time.clock_gettime(time.CLOCK_BOOTTIME) - process_start_boottime()


def rss_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1]) / 1024.0
    except FileNotFoundError:
        pass
    return 0.0


class RssSampler:
    """Peak of the summed RSS of the given processes, sampled every
    ``interval`` seconds on a daemon thread until :meth:`stop`."""

    def __init__(self, pids: list[int], interval: float = 0.1) -> None:
        self.pids = list(pids)
        self.interval = interval
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def start(self) -> "RssSampler":
        self._thread.start()
        return self

    def sample(self) -> None:
        self.peak_mb = max(self.peak_mb, sum(rss_mb(p) for p in self.pids))

    def _run(self) -> None:
        while not self._stop.wait(self.interval):
            self.sample()

    def stop(self) -> float:
        self._stop.set()
        self._thread.join(timeout=5)
        self.sample()
        return self.peak_mb


def jvm_pid(spark) -> int | None:
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    return proc.pid if proc is not None else None


def loadavg() -> float:
    return os.getloadavg()[0]


def cpu_times() -> tuple[int, int, int]:
    """(busy, steal, total) ticks of all CPUs since boot, from /proc/stat."""
    with open("/proc/stat") as fh:
        vals = [int(x) for x in fh.readline().split()[1:]]
    idle = vals[3] + vals[4]  # idle + iowait
    steal = vals[7] if len(vals) > 7 else 0
    return sum(vals) - idle, steal, sum(vals)


def steal_share(before: tuple[int, int, int], after: tuple[int, int, int]) -> float:
    """Share of CPU time between two :func:`cpu_times` readings that the
    hypervisor gave to other tenants."""
    return (after[1] - before[1]) / max(1, after[2] - before[2])


def host_busy_share(window: float = 0.5) -> float:
    """Share of all CPUs busy over ``window`` seconds while this process
    sleeps — the load other tenants put on the host."""
    b0, _, t0 = cpu_times()
    time.sleep(window)
    b1, _, t1 = cpu_times()
    return (b1 - b0) / max(1, t1 - t0)


def host_ram_mb() -> int:
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def calibration_sec(spark) -> float:
    """Best-of-2 of a fixed shuffle+agg on spark.range — pure Spark/host
    cost, no repo code, no file IO (the same shape as bench.py's
    calibration probe), so runs on differently loaded hosts compare."""
    from pyspark.sql import functions as F

    best = float("inf")
    for _ in range(2):
        t0 = time.perf_counter()
        (
            spark.range(20_000_000)
            .groupBy((F.col("id") % 4096).alias("k"))
            .agg(F.sum("id").alias("s"), F.count("*").alias("n"))
            .write.mode("overwrite")
            .format("noop")
            .save()
        )
        best = min(best, time.perf_counter() - t0)
    return best
