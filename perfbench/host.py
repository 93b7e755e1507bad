"""Host sizing and process-tree memory sampling for the benchmark.

The engine's session default heap (``spark.driver.memory=16g``) assumes a
large host. The benchmark sizes the heap from ``/proc/meminfo`` instead,
through the engine's own ``SPARK_GRAFT_DRIVER_MEM`` knob, and keeps all
Spark scratch on disk inside the checkout.
"""

from __future__ import annotations

import os
import threading

_MB = 1024 * 1024
_PAGE = os.sysconf("SC_PAGE_SIZE")
# at most this heap: the workloads' working sets stay well below it, and
# the host is shared, so a larger heap only raises the resident size
HEAP_CAP_MB = 2048
HEAP_FLOOR_MB = 1024
# what the Python workers, the JVM's off-heap memory and everything else
# on the host need besides the heap
HEADROOM_MB = 3072


def meminfo_mb() -> dict[str, int]:
    out = {}
    with open("/proc/meminfo") as f:
        for line in f:
            key, rest = line.split(":", 1)
            if key in ("MemTotal", "MemAvailable"):
                out[key] = int(rest.split()[0]) // 1024
    return out


def plan(scratch_dir: str) -> dict:
    """Driver heap and scratch placement for this host.

    Heap: an eighth of MemTotal, capped, and shrunk so that ``HEADROOM_MB``
    stays free of what is available now. Scratch: never tmpfs. A tmpfs
    directory lives outside the checkout and, on a swap-free host, spends
    the same RAM the heap needs; shuffle and spill go to ``scratch_dir``.
    """
    mem = meminfo_mb()
    heap = min(HEAP_CAP_MB, mem["MemTotal"] // 8,
               mem["MemAvailable"] - HEADROOM_MB)
    heap = max(HEAP_FLOOR_MB, heap // 256 * 256)
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "mem_total_mb": mem["MemTotal"],
        "mem_available_mb": mem["MemAvailable"],
        "driver_mem": f"{heap}m",
        "tmpfs_scratch": False,
        "scratch_dir": scratch_dir,
    }


def apply(settings: dict) -> None:
    """Export the plan to the engine's environment knobs (before the JVM
    starts)."""
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = settings["driver_mem"]
    os.environ.pop("SPARK_GRAFT_TMPFS_SCRATCH", None)
    os.environ["SPARK_LOCAL_DIRS"] = settings["scratch_dir"]


def _tree_rss_bytes(root: int) -> int:
    children: dict[int, list[int]] = {}
    comm: dict[int, str] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may hold spaces; fields resume after its ')'
        head, tail = stat.rsplit(")", 1)
        comm[int(name)] = head.split("(", 1)[1]
        children.setdefault(int(tail.split()[1]), []).append(int(name))
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        kids = children.get(pid, ())
        # a JVM spawning a process shows a short-lived "java" child that
        # still shares the parent's memory until it execs: skip it
        todo.extend(k for k in kids
                    if not (comm.get(pid) == comm.get(k) == "java"))
        total += _resident_bytes(pid)
    return total


def _resident_bytes(pid: int) -> int:
    """RSS for the JVM; proportional set size (PSS) for the rest.

    Forked Python workers share the daemon's pages, and RSS would count
    those once per worker. The JVM shares nothing worth counting, and
    walking its multi-GiB address space for PSS takes tens of
    milliseconds under its mmap lock, so its RSS counter is read instead.
    """
    try:
        with open(f"/proc/{pid}/comm") as f:
            if f.read().strip() == "java":
                with open(f"/proc/{pid}/statm") as g:
                    return int(g.read().split()[1]) * _PAGE
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return 0


class RssSampler:
    """Peak resident size of this process and all its descendants (driver
    JVM, Python UDF workers), sampled on a background thread."""

    def __init__(self, interval_s: float = 0.5):
        self.interval_s = interval_s
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            self.peak_bytes = max(self.peak_bytes, _tree_rss_bytes(me))
            self._stop.wait(self.interval_s)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)

    @property
    def peak_mb(self) -> float:
        return self.peak_bytes / _MB
