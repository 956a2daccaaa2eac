"""Host facts the harness derives before Spark starts, and host telemetry
it records per run: heap and core count from /proc/meminfo and nproc,
CPU steal and load average, and the peak RSS of Spark's Python workers."""

from __future__ import annotations

import os

HEAP_SHARE = 0.40        # of MemTotal, for the Spark JVM heap
HEAP_CAP_GB = 24         # the session module's own default


def mem_total_kb(meminfo: str = "/proc/meminfo") -> int:
    with open(meminfo) as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1])
    raise RuntimeError(f"no MemTotal in {meminfo}")


def driver_heap_gb(total_kb: int) -> int:
    """≈40% of physical memory in whole GiB, at least 1, at most the
    session default."""
    return max(1, min(HEAP_CAP_GB, int(total_kb * HEAP_SHARE / (1 << 20))))


def cores() -> int:
    return len(os.sched_getaffinity(0))


def cpu_stat() -> tuple[int, int]:
    """(steal jiffies, total jiffies) from the aggregate /proc/stat line."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    return (vals[7] if len(vals) > 7 else 0), sum(vals)


def steal_pct(before: tuple[int, int], after: tuple[int, int]) -> float:
    dtot = after[1] - before[1]
    return 100.0 * (after[0] - before[0]) / dtot if dtot else 0.0


def loadavg() -> list[float]:
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def _children(pid: int) -> list[int]:
    out = []
    task_dir = f"/proc/{pid}/task"
    try:
        tids = os.listdir(task_dir)
    except OSError:
        return out
    for tid in tids:
        try:
            with open(f"{task_dir}/{tid}/children") as f:
                out.extend(int(x) for x in f.read().split())
        except OSError:
            pass
    return out


def _descendants(pid: int) -> list[int]:
    seen, stack = [], _children(pid)
    while stack:
        p = stack.pop()
        seen.append(p)
        stack.extend(_children(p))
    return seen


def wait_for_children(timeout: float) -> None:
    """Poll until this process has no descendants left; raise if some
    remain after `timeout` seconds."""
    import time
    deadline = time.monotonic() + timeout
    while _descendants(os.getpid()):
        if time.monotonic() > deadline:
            raise RuntimeError(f"processes still running: "
                               f"{_descendants(os.getpid())}")
        time.sleep(0.2)


def _status_kb(pid: int, key: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith(key + ":"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _is_python(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            argv0 = f.read().split(b"\0", 1)[0]
    except OSError:
        return False
    return b"python" in os.path.basename(argv0)


def python_worker_peak_rss_mb() -> tuple[float, int]:
    """Σ VmHWM (MiB) over the Python processes below this process's JVM —
    Spark's pyspark.daemon and the workers it forks — and their count."""
    pids = [p for p in _descendants(os.getpid()) if _is_python(p)]
    return sum(_status_kb(p, "VmHWM") for p in pids) / 1024.0, len(pids)
