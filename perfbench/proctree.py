"""Process-tree CPU and memory from ``/proc`` (no psutil here).

The tree is the benchmark's own process plus every descendant: the
Spark JVM, the PySpark daemon and its Python workers.  CPU is
utime + stime + cutime + cstime of each live process, so a worker that
exited and was reaped still counts through its parent.
"""

from __future__ import annotations

import os
import time

_TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:  # the process ended between listing and reading
        return None
    # field 2 (comm) may hold spaces; everything after ')' is fixed
    return raw[raw.rindex(")") + 2 :].split()


def tree_pids(root: int | None = None) -> list[int]:
    root = os.getpid() if root is None else root
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                children.setdefault(int(st[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def wait_ended(pids: list[int], timeout: float = 30.0) -> None:
    """Wait until each process has exited (or is a zombie)."""
    deadline = time.time() + timeout
    while time.time() < deadline:
        alive = [p for p in pids if (st := _stat(p)) is not None and st[0] != "Z"]
        if not alive:
            return
        time.sleep(0.1)
    raise RuntimeError(f"processes still running after {timeout} s: {alive}")


def _kind(pid: int) -> str:
    if pid == os.getpid():
        return "driver"
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            cmd = f.read()
    except OSError:
        return "other"
    if b"pyspark.daemon" in cmd or b"pyspark.worker" in cmd:
        return "python_workers"
    if b"java" in cmd:
        return "jvm"
    return "other"


def cpu_by_kind() -> dict[str, float]:
    """CPU-seconds used so far, split into the driver (this process),
    the JVM, the PySpark daemon and workers, and anything else."""
    out = dict.fromkeys(("driver", "jvm", "python_workers", "other"), 0.0)
    for pid in tree_pids():
        st = _stat(pid)
        if st is not None:
            # fields 14-17 of /proc/pid/stat, counted from 3 here
            out[_kind(pid)] += sum(int(x) for x in st[11:15]) / _TICK
    return out


def peak_rss_mb() -> float:
    """Sum over the tree of each process's peak resident set (VmHWM)."""
    kb = 0
    for pid in tree_pids():
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return kb / 1024.0
