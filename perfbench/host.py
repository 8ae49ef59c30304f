"""Host fingerprint recorded with every run, and peak resident memory.

The fingerprint is context for judging drift between runs; no metric is
normalized by it. The md5 probe is the loop ``bench.py`` calibrates with
(md5 digests of a 4 KiB buffer), run for 50k digests rather than 200k to
keep it cheap; it sees CPU speed but not storage, so a fixed-size
write+fsync probe sits beside it.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import time


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def _meminfo_kb(key: str) -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith(key + ":"):
                return int(line.split()[1])
    return 0


def md5_probe_s() -> float:
    buf = b"x" * 4096
    t0 = time.perf_counter()
    for _ in range(50_000):
        hashlib.md5(buf).hexdigest()
    return time.perf_counter() - t0


def io_probe_s(directory: str, mib: int = 64) -> float:
    """Write ``mib`` MiB in 1 MiB blocks, fsync, delete; seconds taken."""
    path = os.path.join(directory, "io_probe.bin")
    block = os.urandom(1 << 20)
    t0 = time.perf_counter()
    with open(path, "wb") as f:
        for _ in range(mib):
            f.write(block)
        f.flush()
        os.fsync(f.fileno())
    took = time.perf_counter() - t0
    os.remove(path)
    return took


def cpu_seconds() -> dict:
    """Cumulative busy and steal CPU seconds of the whole machine, from
    /proc/stat: steal is time a hypervisor ran someone else on our vCPUs."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    tick = os.sysconf("SC_CLK_TCK")
    return {"busy": (fields[0] + fields[1] + fields[2]) / tick,
            "steal": fields[7] / tick if len(fields) > 7 else 0.0}


def fingerprint(directory: str) -> dict:
    return {
        "nproc": nproc(),
        "mem_total_mb": round(_meminfo_kb("MemTotal") / 1024),
        "mem_available_mb": round(_meminfo_kb("MemAvailable") / 1024),
        "disk_free_gb": round(shutil.disk_usage(directory).free / 2**30, 1),
        "md5_probe_50k_s": round(md5_probe_s(), 4),
        "io_probe_64mib_fsync_s": round(io_probe_s(directory), 4),
    }


def peak_rss_mb(pids) -> float:
    """Sum of the peak resident sets (VmHWM) of ``pids``."""
    total_kb = 0
    for pid in pids:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    total_kb += int(line.split()[1])
    return total_kb / 1024
