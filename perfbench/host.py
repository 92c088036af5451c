"""Host telemetry recorded with every run, so a drifted run explains
itself: CPU count, Spark master, load average, available memory, a
page-cache probe and the pyspark / Java / pyarrow versions.

The page-cache probe writes a file, drops it from the cache, then times
a cold read and a warm re-read. On a healthy host the warm read is far
faster; warm close to cold means the host is not caching pages. Every
field is best effort: telemetry never fails a run.
"""

from __future__ import annotations

import os
import time

PROBE_MB = 32


def nproc() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except (AttributeError, OSError):
        return os.cpu_count() or 1


#: the cores this process may use when it starts, before a run pins it
NPROC = nproc()


def _meminfo() -> dict:
    out = {}
    with open("/proc/meminfo") as f:
        for ln in f:
            k, v = ln.split(":", 1)
            out[k] = int(v.strip().split()[0])  # kB
    return out


def _page_cache_probe(tmp_dir: str) -> dict:
    path = os.path.join(tmp_dir, "page-cache-probe.bin")
    blk = bytes(1 << 20)
    try:
        with open(path, "wb") as f:
            for _ in range(PROBE_MB):
                f.write(blk)
            f.flush()
            os.fsync(f.fileno())
        with open(path, "rb") as f:

            def timed_read() -> float:
                t0 = time.perf_counter()
                f.seek(0)
                while f.read(1 << 22):
                    pass
                return time.perf_counter() - t0

            os.posix_fadvise(f.fileno(), 0, 0, os.POSIX_FADV_DONTNEED)
            cold = timed_read()
            warm = timed_read()
        return {f"cold_read_{PROBE_MB}mb_s": cold, f"warm_read_{PROBE_MB}mb_s": warm}
    finally:
        try:
            os.remove(path)
        except OSError:
            pass


def telemetry(tmp_dir: str, master: str, spark=None) -> dict:
    h: dict = {"nproc": NPROC, "pinned_cores": sorted(os.sched_getaffinity(0)),
               "master": master}
    probes = {
        "loadavg": lambda: list(os.getloadavg()),
        "mem_available_mb": lambda: _meminfo()["MemAvailable"] / 1024.0,
        "page_cache": lambda: _page_cache_probe(tmp_dir),
    }
    for key, fn in probes.items():
        try:
            h[key] = fn()
        except Exception as e:  # noqa: BLE001 — telemetry is best effort
            h[key] = f"unavailable: {type(e).__name__}"
    try:
        import pyarrow
        import pyspark

        h["pyspark"], h["pyarrow"] = pyspark.__version__, pyarrow.__version__
    except ImportError as e:
        h["versions"] = f"unavailable: {e}"
    if spark is not None:
        try:
            h["java"] = spark.sparkContext._jvm.System.getProperty("java.version")
        except Exception as e:  # noqa: BLE001
            h["java"] = f"unavailable: {type(e).__name__}"
    return h
