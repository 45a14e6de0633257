"""Host-noise readings kept with every run (recorded, never compared):
hypervisor steal, load average and a fixed calibration probe; and the
steal-net clock the compared timings are taken on."""

from __future__ import annotations

import os
import time


def cpu_sec() -> tuple[float, float]:
    """(busy, steal): cumulative CPU-seconds this machine has run and has had
    stolen by the hypervisor, summed over vCPUs (/proc/stat); (0, 0) where
    /proc/stat is not readable."""
    try:
        with open("/proc/stat") as f:
            user, nice, system, _idle, _iowait, irq, softirq, steal = (
                int(v) for v in f.readline().split()[1:9])
    except (OSError, ValueError):
        return 0.0, 0.0
    tick = float(os.sysconf("SC_CLK_TCK"))
    return (user + nice + system + irq + softirq) / tick, steal / tick


class Watch:
    """Times a stretch of work on two clocks. ``wall()`` is plain wall time.
    ``net()`` is wall time net of host steal: the wall time scaled by the
    share of the CPU time the machine asked for that the host delivered
    (busy / (busy + steal)). If steal slows the busy vCPUs alike, this is
    the time the work would take on an unshared host; without steal the two
    agree. On a shared host the steal varies from run to run by more than
    the compared bounds allow, so comparisons are made on ``net()``."""

    def __init__(self):
        self.t0 = time.perf_counter()
        self.busy0, self.steal0 = cpu_sec()

    def wall(self) -> float:
        return time.perf_counter() - self.t0

    def net(self) -> float:
        wall = self.wall()
        busy, steal = cpu_sec()
        busy, steal = busy - self.busy0, steal - self.steal0
        return wall * busy / (busy + steal) if busy + steal > 0 else wall


def calibrate(spark) -> float:
    """Time of a fixed CPU-bound JVM job (no shuffle, no I/O, no Python
    boundary), after one untimed warm pass; it runs after the timed loop."""
    def run() -> float:
        t0 = time.perf_counter()
        spark.range(0, 16_000_000, 1, 8).selectExpr("sum(id % 1000) AS s").collect()
        return time.perf_counter() - t0

    run()
    return run()


def cpu_times(pid: int) -> dict:
    """User and system CPU-seconds a process has used (/proc/<pid>/stat);
    high system time means page faults or other kernel work."""
    with open(f"/proc/{pid}/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    tick = float(os.sysconf("SC_CLK_TCK"))
    return {"user_s": int(fields[11]) / tick, "sys_s": int(fields[12]) / tick}


def snapshot(run: Watch, spark) -> dict:
    return {
        "steal_s": round(cpu_sec()[1] - run.steal0, 2),
        "load_avg": [round(v, 2) for v in os.getloadavg()],
        "jvm_cpu": cpu_times(spark.sparkContext._gateway.proc.pid),
        "calibration_s": round(calibrate(spark), 4),
    }
