"""Process-tree accounting from /proc: CPU seconds of this process and
every descendant (driver Python, the Spark JVM, pyspark workers) and the
JVM's peak resident set."""

from __future__ import annotations

import os
import signal
import time

_TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:
        return None
    # comm (field 2) may hold spaces; every field after it is numeric
    return raw.rsplit(")", 1)[1].split()


def descendants(root: int | None = None) -> list[int]:
    """PIDs below ``root`` (default: this process), nearest first."""
    root = os.getpid() if root is None else root
    children: dict[int, list[int]] = {}
    for ent in os.listdir("/proc"):
        if ent.isdigit():
            st = _stat(int(ent))
            if st is not None:
                children.setdefault(int(st[1]), []).append(int(ent))
    out, todo = [], list(children.get(root, []))
    while todo:
        pid = todo.pop(0)
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def tree_cpu_s() -> float:
    """User+system CPU of this process tree, including reaped children."""
    total = 0
    for pid in [os.getpid(), *descendants()]:
        st = _stat(pid)
        if st is not None:
            # utime, stime, cutime, cstime are fields 14-17 (1-based)
            total += sum(int(v) for v in st[11:15])
    return total / _TICK


def cpu_times() -> list[int]:
    """The machine-wide ``cpu`` line of /proc/stat, in ticks."""
    with open("/proc/stat") as fh:
        return [int(v) for v in fh.readline().split()[1:]]


def steal_share(before: list[int], after: list[int]) -> float:
    """Share of CPU time the hypervisor gave to other guests."""
    delta = [b - a for a, b in zip(before, after)]
    return delta[7] / max(1, sum(delta[:8]))


def jvm_pid() -> int | None:
    for pid in descendants():
        try:
            with open(f"/proc/{pid}/comm") as fh:
                if fh.read().strip() == "java":
                    return pid
        except OSError:
            continue
    return None


def vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError(f"no VmHWM for pid {pid}")


def reap_descendants(timeout: float = 20.0) -> list[int]:
    """Wait for every descendant to exit; SIGKILL what is left at the
    deadline. Returns the PIDs that had to be killed."""
    deadline = time.monotonic() + timeout
    while descendants() and time.monotonic() < deadline:
        time.sleep(0.2)
        try:
            while os.waitpid(-1, os.WNOHANG)[0]:
                pass
        except ChildProcessError:
            pass
    killed = descendants()
    for pid in killed:
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    while descendants():
        time.sleep(0.1)
        try:
            os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            pass
    return killed
