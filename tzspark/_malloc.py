"""Runtime malloc tuning for the fault-stall host (BASELINE.md round 4).

The MALLOC_TRIM_THRESHOLD_/MALLOC_MMAP_THRESHOLD_ env exports only help
processes STARTED after they are set (glibc reads them at malloc init, long
before Python code runs) — so conftest/bench setting os.environ protects the
JVM and Python workers but NOT the driver/pytest process itself. On this
sandbox's bad windows (first-touch page faults of 100-500 µs instead of
~2 µs), every >128 KB numpy temporary is a fresh mmap that pays the storm on
every call; measured on the world kNN-table compile: 37 s for the first
chunk of (cell, zone) distance scoring vs 0.27 s for an identical second one.

mallopt(3) changes the SAME tunables at runtime: disable trim (freed heap is
never returned, so the high-water mark is faulted once per process) and lift
the mmap threshold to 256 MB (numpy temporaries come from the reusable heap
instead of fresh mmaps). Idempotent; silently a no-op where glibc/ctypes are
unavailable (musl, non-Linux).
"""

from __future__ import annotations

_applied = False


def apply_malloc_tuning() -> bool:
    """mallopt(M_TRIM_THRESHOLD, max) + mallopt(M_MMAP_THRESHOLD, 256 MB)
    for the CURRENT process. Returns True if both calls succeeded."""
    global _applied
    if _applied:
        return True
    try:
        import ctypes

        libc = ctypes.CDLL("libc.so.6", use_errno=True)
        M_TRIM_THRESHOLD, M_MMAP_THRESHOLD = -1, -3
        ok = bool(libc.mallopt(M_TRIM_THRESHOLD, ctypes.c_int(2**31 - 1)))
        ok = bool(libc.mallopt(M_MMAP_THRESHOLD, ctypes.c_int(256 * 1024 * 1024))) and ok
        _applied = ok
        return ok
    except Exception:
        return False
