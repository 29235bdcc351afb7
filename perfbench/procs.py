"""Process accounting from /proc: the driver's process tree, its CPU
time and peak memory, and the VM-wide CPU counters kept as context."""

from __future__ import annotations

import os
import resource
import time


def _stat_fields(pid: int) -> list[str]:
    """Fields of /proc/<pid>/stat after the command name, so field 3 of
    proc(5) is index 0."""
    with open(f"/proc/{pid}/stat") as fh:
        return fh.read().rsplit(")", 1)[1].split()


def descendants(pid: int) -> set[int]:
    """PIDs of every live process below ``pid``."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                ppid = int(_stat_fields(int(d))[1])
            except (OSError, IndexError):
                continue
            children.setdefault(ppid, []).append(int(d))
    out, todo = set(), [pid]
    while todo:
        kids = children.get(todo.pop(), [])
        out.update(kids)
        todo.extend(kids)
    return out


def alive(pid: int) -> bool:
    """True while ``pid`` runs (an exited, unreaped zombie does not)."""
    try:
        return _stat_fields(pid)[0] != "Z"
    except OSError:
        return False


def tree_cpu(jvm_pid: int) -> float:
    """CPU seconds used so far by the driver JVM, every process below it
    (the Python worker daemon and its workers), and this driver Python
    process. A process's own utime + stime is summed with its cutime +
    cstime, so workers that exited and were reaped inside the tree still
    count."""
    tick = os.sysconf("SC_CLK_TCK")
    total = 0
    for pid in {jvm_pid} | descendants(jvm_pid):
        try:
            f = _stat_fields(pid)
        except OSError:
            continue  # exited between the listing and the read
        total += int(f[11]) + int(f[12]) + int(f[13]) + int(f[14])
    t = os.times()
    return total / tick + t.user + t.system


def vm_cpu() -> tuple[float, float]:
    """(busy, steal) CPU seconds of the whole VM so far, from /proc/stat.
    Context only: other processes on the VM count here too."""
    with open("/proc/stat") as fh:
        f = [int(x) for x in fh.readline().split()[1:]]
    tick = os.sysconf("SC_CLK_TCK")
    return (f[0] + f[1] + f[2] + f[5] + f[6]) / tick, f[7] / tick


def peak_rss_mb(jvm_pid: int) -> dict:
    """Peak RSS (VmHWM) of the driver JVM and of this driver Python process."""
    with open(f"/proc/{jvm_pid}/status") as fh:
        jvm_kb = next(int(line.split()[1]) for line in fh if line.startswith("VmHWM:"))
    return {"jvm": jvm_kb / 1024.0, "python": resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0}


def wait_exit(pids: set[int], timeout_s: float) -> None:
    deadline = time.monotonic() + timeout_s
    while pids and time.monotonic() < deadline:
        pids = {p for p in pids if alive(p)}
        time.sleep(0.05)
