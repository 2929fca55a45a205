"""Shared plumbing for the benchmark: the Spark session, the host's
contention marker, memory readings, summary statistics and the
per-run record of attempted and failed operations.

Everything a run writes goes under one work directory inside the
checkout (``.perfbench_work/``), which the run deletes when it ends.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time
from dataclasses import dataclass, field

# Spark runs on fewer cores than the 4-vCPU reference host has: at
# local[4] per-op medians moved 9-18% between identical runs and set-up
# time 19%; at local[2] they moved 3-11% and 4% (see README.md).
SPARK_CORES = 2
# session.py defaults the driver heap to 90g; pin it so the JVM's
# footprint does not follow the host's RAM. The heap is also committed
# and touched at start-up: left to grow, G1's heap sizing moved the
# JVM's peak RSS by 15% between runs of one build, which would hide any
# real change in the memory the rest of the process uses.
DRIVER_MEMORY = "2g"
JVM_OPTIONS = f"-Xms{DRIVER_MEMORY} -XX:+AlwaysPreTouch"


def median(values: list[float]) -> float:
    return float(statistics.median(values))


def p90(values: list[float]) -> float:
    """Nearest-rank 90th percentile (the largest value when there are
    fewer than ten samples)."""
    ordered = sorted(values)
    return float(ordered[min(len(ordered) - 1, (9 * len(ordered)) // 10)])


# ------------------------------------------------------------ host state


def _psi_some_total_us() -> int | None:
    """Cumulative microseconds some task waited for a CPU
    (/proc/pressure/cpu); None where the kernel has no PSI."""
    try:
        with open("/proc/pressure/cpu") as f:
            for line in f:
                if line.startswith("some "):
                    return int(line.rsplit("total=", 1)[1])
    except (OSError, ValueError, IndexError):
        return None
    return None


def _loadavg_1m() -> float:
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def calibration_ms() -> float:
    """Time for a fixed single-threaded loop. A host that throttles the
    VM's CPUs slows this down without raising in-guest CPU pressure."""
    t0 = time.perf_counter()
    s = 0
    for i in range(300_000):
        s += i * i
    return (time.perf_counter() - t0) * 1000


class ContentionMarker:
    """cpus, a loadavg bracket, the CPU-pressure delta and a calibration
    loop timed at both ends of a run, so a throttled run is visible in
    its own output."""

    def __init__(self):
        self.t0 = time.perf_counter()
        self.load_start = _loadavg_1m()
        self.psi0 = _psi_some_total_us()
        self.calib_start = calibration_ms()

    def finish(self) -> dict:
        wall = time.perf_counter() - self.t0
        psi1 = _psi_some_total_us()
        pressure = None
        if self.psi0 is not None and psi1 is not None and wall > 0:
            pressure = 100.0 * (psi1 - self.psi0) / 1e6 / wall
        return {
            "cpus": os.cpu_count(),
            "spark_cores": SPARK_CORES,
            "loadavg_start": self.load_start,
            "loadavg_end": _loadavg_1m(),
            "cpu_pressure_pct": pressure,
            "calibration_ms_start": self.calib_start,
            "calibration_ms_end": calibration_ms(),
            "wall_s": wall,
        }


def vm_hwm_mb(pid: int | str = "self") -> float:
    """Peak resident set size (VmHWM) of a process, in MB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def tree_bytes_files(path: str) -> tuple[int, int]:
    """Total bytes and number of regular files under ``path``."""
    total = files = 0
    for root, _, names in os.walk(path):
        for n in names:
            try:
                total += os.stat(os.path.join(root, n)).st_size
                files += 1
            except FileNotFoundError:
                pass  # vacuum may unlink while we walk
    return total, files


# --------------------------------------------------------- op accounting


@dataclass
class Ops:
    """Attempted and failed counts. An op fails when it returns an error
    or its output check rejects it; a check that is not a timed op
    counts the same way. An op that raises ends the run."""

    attempted: int = 0
    failed: int = 0
    failures: list[str] = field(default_factory=list)

    def record(self, kind: str, ok: bool, why: str = "") -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            if len(self.failures) < 20:
                self.failures.append(f"{kind}: {why}")


# ---------------------------------------------------------- spark session


class Session:
    """The benchmark's SparkSession and work directory. Built through the
    program's own ``get_spark``; the event log is enabled only for a
    traced run."""

    def __init__(self, workdir: str, *, trace: bool):
        self.workdir = workdir
        for sub in ("tmp", "local", "warehouse", "events", "data"):
            os.makedirs(os.path.join(workdir, sub), exist_ok=True)
        # pyspark's gateway handshake file and any tempfile land here
        os.environ["TMPDIR"] = os.path.join(workdir, "tmp")
        os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
        from vectordb_spark import get_spark

        tmp = os.path.join(workdir, "tmp")
        conf = {
            "spark.local.dir": os.path.join(workdir, "local"),
            "spark.sql.warehouse.dir": os.path.join(workdir, "warehouse"),
            "spark.driver.extraJavaOptions": f"{JVM_OPTIONS} -Djava.io.tmpdir={tmp}",
        }
        if trace:
            conf.update(
                {
                    "spark.eventLog.enabled": "true",
                    "spark.eventLog.dir": "file://" + os.path.join(workdir, "events"),
                    # Spark 4 compresses with zstd by default; no Python
                    # zstd module is available to read it back
                    "spark.eventLog.compress": "false",
                }
            )
        self.spark = get_spark(
            "perfbench",
            master=f"local[{SPARK_CORES}]",
            shuffle_partitions=SPARK_CORES,
            extra_conf=conf,
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        jvm = self.spark.sparkContext._jvm
        self.jvm_pid = int(jvm.java.lang.ProcessHandle.current().pid())

    def peak_rss_mb(self) -> tuple[float, float]:
        """Peak RSS of the Python driver and of the Spark JVM."""
        return vm_hwm_mb("self"), vm_hwm_mb(self.jvm_pid)

    def stop(self) -> None:
        """Stop Spark and wait for its JVM (and with it the Python
        workers it forked) to exit."""
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        proc = getattr(gateway, "proc", None)
        self.spark.stop()
        if gateway is not None:
            gateway.shutdown()
            SparkContext._gateway = None
            SparkContext._jvm = None
        if proc is not None:
            # the JVM exits when its stdin closes
            if proc.stdin is not None:
                proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except Exception:
                proc.kill()
                proc.wait(timeout=30)


def make_workdir(root: str, workload: str) -> str:
    path = os.path.join(root, ".perfbench_work", f"{workload}-{os.getpid()}")
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path


def remove_workdir(path: str) -> None:
    shutil.rmtree(path, ignore_errors=True)
    parent = os.path.dirname(path)
    try:
        os.rmdir(parent)  # only when no other run is using it
    except OSError:
        pass
