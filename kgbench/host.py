"""Host facts, a fixed host-speed probe, process-tree CPU and peak-RSS
readings from ``/proc`` (Linux only), and the JVM's peak heap use.

Everything here belongs to the benchmark, not to the program under
test: the probe is a fixed pure-Python loop, so its rate moves only
when the host does, and a drifted set of runs shows as a moved
``host.speed``.
"""

from __future__ import annotations

import hashlib
import os
import signal
import subprocess
import sys
import time

_PROBE_ROUNDS = 12


def _probe_round() -> int:
    """One fixed unit of interpreter work: integer arithmetic, string
    building and dict traffic, the mix the extraction kernel spends
    its time on."""
    acc = 0
    d: dict[str, int] = {}
    for i in range(4000):
        k = f"k{i % 257}:{i * 7919 % 1009}"
        d[k] = d.get(k, 0) + (i ^ acc) % 97
        acc = (acc * 31 + len(k)) & 0xFFFFFFFF
    return acc + len(d)


def probe_rate() -> float:
    """Probe rounds per second in this process."""
    t = time.perf_counter()
    for _ in range(_PROBE_ROUNDS):
        _probe_round()
    return _PROBE_ROUNDS / (time.perf_counter() - t)


_PROBE_CMD = "import host; print(host.probe_rate())"


def host_speed(procs: int) -> float:
    """Probe rounds per second summed over ``procs`` processes running
    at once, as the job's executor threads do: the median of three
    tries. A single-process probe misses load that lands on the other
    cores."""
    here = os.path.dirname(os.path.abspath(__file__))
    tries = []
    for _ in range(3):
        ps = [
            subprocess.Popen([sys.executable, "-c", _PROBE_CMD], cwd=here,
                             stdout=subprocess.PIPE, text=True)
            for _ in range(procs)
        ]
        tries.append(sum(float(p.communicate()[0]) for p in ps))
    return sorted(tries)[1]


def meminfo() -> dict[str, int]:
    """/proc/meminfo in MiB."""
    out = {}
    with open("/proc/meminfo") as f:
        for line in f:
            k, v = line.split(":", 1)
            out[k] = int(v.split()[0]) // 1024
    return out


def cores() -> int:
    return len(os.sched_getaffinity(0))


def driver_heap_mb(mem: dict[str, int]) -> int:
    """A quarter of MemTotal, capped at 8 GiB: the driver JVM shares
    the host with the Python workers and the page cache."""
    return min(8192, mem["MemTotal"] // 4)


def fs_type(path: str) -> str:
    """Filesystem type of the longest mount point containing path."""
    path = os.path.realpath(path)
    best, kind = "", "?"
    with open("/proc/mounts") as f:
        for line in f:
            mnt, typ = line.split()[1:3]
            if (path == mnt or path.startswith(mnt.rstrip("/") + "/")) and len(
                mnt
            ) > len(best):
                best, kind = mnt, typ
    return kind


def package_hash(pkg_dir: str) -> str:
    """sha256 over every .py file of the package (path + bytes), so a
    record names the exact program it measured."""
    h = hashlib.sha256()
    for root, dirs, files in os.walk(pkg_dir):
        dirs.sort()
        for name in sorted(files):
            if name.endswith(".py"):
                p = os.path.join(root, name)
                h.update(os.path.relpath(p, pkg_dir).encode())
                with open(p, "rb") as f:
                    h.update(f.read())
    return h.hexdigest()[:16]


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat[stat.rfind(")") + 2 :].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def process_tree() -> list[int]:
    """This process and all its live descendants: the driver Python,
    the Spark JVM and the Python workers it forks."""
    kids = _children()
    out, todo = [], [os.getpid()]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


_TICK = os.sysconf("SC_CLK_TCK")


def tree_cpu_s() -> float:
    """User+system CPU of the process tree, including reaped children
    (a worker that exits moves its time into its parent's cutime, so
    the sum stays monotone across the interval being measured)."""
    total = 0
    for pid in process_tree():
        try:
            with open(f"/proc/{pid}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        fields = stat[stat.rfind(")") + 2 :].split()
        total += sum(int(x) for x in fields[11:15])
    return total / _TICK


def reset_peak_rss() -> None:
    """Reset every tree process's VmHWM to its current RSS (Linux
    clear_refs mode 5), so the next reading covers one job only."""
    for pid in process_tree():
        try:
            with open(f"/proc/{pid}/clear_refs", "w") as f:
                f.write("5")
        except OSError:
            pass


def python_peak_rss_mb() -> float:
    """Sum of the kernel high-water marks (VmHWM) over the tree's
    Python processes: the driver and the Spark Python workers. The JVM
    is left out; its heap is pre-touched, so its RSS is the heap size
    the benchmark set, and ``heap_peak_mb`` measures it instead."""
    total_kb = 0
    for pid in process_tree():
        try:
            with open(f"/proc/{pid}/comm") as f:
                if f.read().strip() == "java":
                    continue
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return total_kb / 1024


def heap_pools(spark) -> list:
    """The JVM's heap memory pools (eden, survivor, old)."""
    mf = spark._jvm.java.lang.management.ManagementFactory
    return [p for p in mf.getMemoryPoolMXBeans() if p.getType().name() == "HEAP"]


def reset_heap_peak(pools: list) -> None:
    for p in pools:
        p.resetPeakUsage()


def heap_peak_mb(pools: list) -> float:
    """Sum over the heap pools of the peak bytes used since the reset:
    what the job's objects occupied, not the heap's committed size."""
    return sum(p.getPeakUsage().getUsed() for p in pools) / 2**20


def reap_children(timeout: float = 10.0) -> None:
    """Wait for this process's descendants to exit; SIGKILL whatever is
    left after ``timeout`` seconds."""
    end = time.monotonic() + timeout
    while len(process_tree()) > 1 and time.monotonic() < end:
        time.sleep(0.1)
        _reap()
    for pid in process_tree()[1:]:
        try:
            os.kill(pid, signal.SIGKILL)
        except OSError:
            pass
    _reap()


def _reap() -> None:
    """Collect exited direct children, which would linger as zombies."""
    try:
        while os.waitpid(-1, os.WNOHANG)[0]:
            pass
    except ChildProcessError:
        pass
