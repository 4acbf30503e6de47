"""Host stamp for benchmark records, measured before Spark starts.

Records from hosts with different core counts are not comparable
(``compare.py`` refuses them); the two calibration kernels let a reader
tell a slower CPU or disk from a slower engine.
"""

from __future__ import annotations

import hashlib
import os
import platform
import statistics
import subprocess
import time


def cpu_md5_s(mib: int = 32, repeats: int = 3) -> float:
    """Median seconds to md5 ``mib`` MiB in one thread."""
    block = b"\x5a" * (1 << 20)
    times = []
    for _ in range(repeats):
        t0 = time.perf_counter()
        h = hashlib.md5()
        for _ in range(mib):
            h.update(block)
        h.digest()
        times.append(time.perf_counter() - t0)
    return statistics.median(times)


def fsync_ms(directory: str, files: int = 20) -> float:
    """Median milliseconds to create, write 4 KiB to and fsync one file."""
    os.makedirs(directory, exist_ok=True)
    times = []
    for i in range(files):
        path = os.path.join(directory, f"fsync-{i}")
        t0 = time.perf_counter()
        with open(path, "wb") as fh:
            fh.write(b"\0" * 4096)
            fh.flush()
            os.fsync(fh.fileno())
        times.append((time.perf_counter() - t0) * 1000)
        os.remove(path)
    return statistics.median(times)


def cpu_ticks() -> list[int]:
    """The host-wide ``cpu`` line of ``/proc/stat`` (user, nice, system,
    idle, iowait, irq, softirq, steal, ...), in clock ticks."""
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:]]


def steal_share(before: list[int], after: list[int]) -> float:
    """Share of CPU time the hypervisor gave to other guests between two
    ``cpu_ticks`` readings; a high share explains a slow run."""
    d = [b - a for a, b in zip(before, after)]
    return d[7] / sum(d) if sum(d) else 0.0


def _git_sha(root: str) -> str:
    head = os.path.join(root, ".git", "HEAD")
    try:
        with open(head) as fh:
            ref = fh.read().strip()
        if ref.startswith("ref: "):
            with open(os.path.join(root, ".git", ref[5:])) as fh:
                return fh.read().strip()
        return ref
    except OSError:
        return "unknown"


def _java_version() -> str:
    try:
        out = subprocess.run(
            ["java", "-XX:-UsePerfData", "-version"], capture_output=True, text=True, timeout=60
        )
    except (OSError, subprocess.TimeoutExpired):
        return "unknown"
    lines = out.stderr.strip().splitlines()
    return lines[0] if lines else "unknown"


def stamp(work: str) -> dict:
    import pyspark

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    return {
        "nproc": os.cpu_count(),
        "spark_graft_cpus": os.environ.get("SPARK_GRAFT_CPUS"),
        "driver_mem": os.environ.get("SPARK_GRAFT_DRIVER_MEM"),
        "spark": pyspark.__version__,
        "java": _java_version(),
        "python": platform.python_version(),
        "git_sha": _git_sha(root),
        "calib_cpu_md5_s": cpu_md5_s(),
        "calib_fsync_ms": fsync_ms(os.path.join(work, "tmp", "calib")),
    }
