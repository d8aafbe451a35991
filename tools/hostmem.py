"""Driver-heap default for bench.py and the tools/ scripts, sized from
the host instead of hard-coded.

Standard library only, and importable without ``serd_spark``: the A/B
tools put another checkout's tree first on ``sys.path`` and must still
size the heap when that tree predates this helper.
"""

from __future__ import annotations

import os


def driver_mem() -> str:
    """``$SPARK_DRIVER_MEM`` if set, else a quarter of MemTotal capped
    at 8 GiB (the driver JVM shares the box with one Python worker per
    core and the page cache). The derived value is exported, so a
    later ``get_spark`` uses it. Raises if it is under 2 GiB."""
    mem = os.environ.get("SPARK_DRIVER_MEM")
    if mem:
        return mem
    with open("/proc/meminfo") as f:
        total_kb = next(
            int(line.split()[1]) for line in f if line.startswith("MemTotal:")
        )
    heap_mb = min(8192, total_kb // 1024 // 4)
    if heap_mb < 2048:
        raise RuntimeError(
            f"driver heap {heap_mb} MiB (MemTotal/4) is under the 2 GiB "
            "the benchmark queries need; set SPARK_DRIVER_MEM to override"
        )
    os.environ["SPARK_DRIVER_MEM"] = mem = f"{heap_mb}m"
    return mem
