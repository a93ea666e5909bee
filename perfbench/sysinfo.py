"""Process memory from /proc and the run environment."""

from __future__ import annotations

import os
import platform
import subprocess
import threading


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        # the command name may hold spaces; fields resume after ')'
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(entry))
    return kids


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def tree_rss_mb(root: int | None = None) -> float:
    """RSS of ``root`` and all its descendants: the driver Python, the
    JVM it launched and the JVM's Python workers."""
    root = root or os.getpid()
    kids = _children_map()
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        total += _rss_kb(pid)
        todo.extend(kids.get(pid, ()))
    return total / 1024.0


_TICK_S = 1.0 / os.sysconf("SC_CLK_TCK")


def tree_cpu_by_process(root: int | None = None) -> dict[int, float]:
    """User + system CPU seconds of ``root`` and each descendant, each
    including the children it has already reaped (a finished Python
    worker's time moves to its parent)."""
    root = root or os.getpid()
    kids = _children_map()
    out, todo = {}, [root]
    while todo:
        pid = todo.pop()
        try:
            with open(f"/proc/{pid}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
            out[pid] = sum(int(x) for x in fields[11:15]) * _TICK_S
        except (OSError, IndexError, ValueError):
            pass
        todo.extend(kids.get(pid, ()))
    return out


# native names of the JVM's own threads (JIT compilers, garbage
# collectors, the VM thread), as /proc shows them: 15 characters at most
JVM_INTERNAL_THREADS = ("C1 CompilerThre", "C2 CompilerThre", "GC Thread#",
                        "G1 ", "VM Thread", "VM Periodic Tas", "Sweeper thread",
                        "Monitor Deflati")


def jvm_internal_cpu_s(pid: int) -> float:
    """User + system CPU seconds of the live JIT-compiler, GC and VM
    threads of the JVM ``pid``."""
    total = 0
    for tid in os.listdir(f"/proc/{pid}/task"):
        try:
            with open(f"/proc/{pid}/task/{tid}/comm") as fh:
                name = fh.read().strip()
            if not name.startswith(JVM_INTERNAL_THREADS):
                continue
            with open(f"/proc/{pid}/task/{tid}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
            total += int(fields[11]) + int(fields[12])
        except (OSError, IndexError, ValueError):
            continue
    return total * _TICK_S


def tree_cpu_s(root: int | None = None) -> float:
    """User + system CPU seconds of ``root`` and its descendants."""
    return sum(tree_cpu_by_process(root).values())


class PeakRss:
    """Samples ``tree_rss_mb`` on a background thread between
    ``start`` and ``stop`` and keeps the maximum."""

    def __init__(self, interval_s: float = 0.25):
        self.interval_s = interval_s
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def _loop(self) -> None:
        while True:
            self.peak_mb = max(self.peak_mb, tree_rss_mb())
            if self._stop.wait(self.interval_s):
                break

    def start(self) -> None:
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()

    def stop(self) -> float:
        self._stop.set()
        if self._thread is not None:
            self._thread.join(timeout=5)
        self.peak_mb = max(self.peak_mb, tree_rss_mb())
        return self.peak_mb


def cpu_ticks() -> tuple[int, int]:
    """``(steal, total)`` jiffies of all CPUs since boot, from
    /proc/stat.  Steal is time the hypervisor gave this machine's
    virtual CPUs to someone else."""
    with open("/proc/stat") as fh:
        fields = [int(x) for x in fh.readline().split()[1:]]
    return (fields[7] if len(fields) > 7 else 0), sum(fields)


def loadavg_1m() -> float:
    with open("/proc/loadavg") as fh:
        return float(fh.read().split()[0])


def java_version() -> str:
    try:
        out = subprocess.run(["java", "-version"], capture_output=True,
                             text=True, timeout=30)
        return (out.stderr or out.stdout).splitlines()[0].strip()
    except (OSError, subprocess.SubprocessError, IndexError):
        return "unknown"


def environment(nproc: int) -> dict:
    import pyspark

    return {
        "nproc": nproc,
        "python": platform.python_version(),
        "spark": pyspark.__version__,
        "java": java_version(),
        "loadavg_start": loadavg_1m(),
    }
