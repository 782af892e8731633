"""Process-tree readings from /proc: start time, peak RSS, Python-worker CPU.

The benchmark's own process, the JVM it launches and the JVM's
``pyspark.daemon`` workers form one tree rooted at this process; every
reading here walks that tree.
"""

from __future__ import annotations

import os
import signal
import time

_TCK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # comm may contain spaces; the fields after it are space-separated
    return raw[raw.rindex(")") + 2:].split()


def process_age_s() -> float:
    """Seconds since this process started (the kernel's start stamp, in
    clock ticks since boot, against the boot-time clock)."""
    start = int(_stat(os.getpid())[19]) / _TCK
    return time.clock_gettime(time.CLOCK_BOOTTIME) - start


def descendants(root: int) -> list[int]:
    """Every live process below ``root``."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        st = _stat(int(name))
        if st is not None and st[0] != "Z":
            children.setdefault(int(st[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        for c in children.get(todo.pop(), ()):
            out.append(c)
            todo.append(c)
    return out


def _hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def tree_peak_rss_mb(root: int) -> float:
    """Sum over the live tree of each process's peak RSS (VmHWM): an upper
    bound on the tree's peak, read without sampling."""
    return sum(_hwm_kb(p) for p in [root, *descendants(root)]) / 1024.0


def _cmdline(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return f.read().replace(b"\0", b" ").decode(errors="replace")
    except OSError:
        return ""


def worker_cpu_s(root: int) -> float:
    """CPU seconds of the ``pyspark.daemon`` processes and their forked
    workers: live workers' own time plus what the daemon has reaped."""
    procs = descendants(root)
    total = 0
    daemons = [p for p in procs if "pyspark.daemon" in _cmdline(p)]
    for d in daemons:
        st = _stat(d)
        if st is not None:
            total += sum(int(x) for x in st[11:15])  # utime stime cutime cstime
        for w in descendants(d):
            st = _stat(w)
            if st is not None:
                total += int(st[11]) + int(st[12])
    return total / _TCK


def reap_tree(root: int, grace_s: float = 15.0) -> None:
    """Wait for every descendant of ``root`` to exit; terminate, then kill,
    what outlives ``grace_s``."""
    for sig, wait_s in ((None, grace_s), (signal.SIGTERM, 5.0), (signal.SIGKILL, 5.0)):
        for p in descendants(root) if sig is not None else ():
            try:
                os.kill(p, sig)
            except OSError:
                pass
        deadline = time.monotonic() + wait_s
        while descendants(root) and time.monotonic() < deadline:
            time.sleep(0.1)
        if not descendants(root):
            return
