"""Size the driver JVM heap from the host: half of ``MemTotal`` in
``/proc/meminfo``, at least 1 GiB, capped at the caller's ceiling. A
fixed heap larger than the host lets the driver JVM grow until the
kernel kills it; half leaves room for the JVM's off-heap memory, the
Python driver and its workers."""

from __future__ import annotations


def driver_memory(cap_gb: int, meminfo: str = "/proc/meminfo") -> str:
    """``spark.driver.memory`` for this host, e.g. ``"7g"``; the cap
    when ``meminfo`` is unreadable or has no ``MemTotal`` line."""
    try:
        with open(meminfo) as f:
            kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    except (OSError, StopIteration, ValueError, IndexError):
        return f"{cap_gb}g"
    return f"{max(1, min(cap_gb, kb // (2 * 1024 * 1024)))}g"
