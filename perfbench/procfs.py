"""Process-tree readings from /proc: CPU time, worker peak RSS, JVM RSS.

The Spark driver JVM is a child of this Python process; the PySpark
daemon is a child of the JVM and the Python workers are children of
the daemon. Everything here walks that tree from the outside, so the
package under test is never touched.
"""

from __future__ import annotations

import os

_TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> tuple[str, int, float] | None:
    """(command name, parent pid, CPU seconds incl. reaped children)."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:
        return None
    name = raw[raw.find("(") + 1 : raw.rfind(")")]
    fields = raw[raw.rfind(")") + 2 :].split()
    # utime, stime, cutime, cstime: a worker that exits and is reaped
    # moves its CPU into its parent's cutime, so the tree sum stays
    # continuous across worker restarts
    cpu = sum(int(v) for v in fields[11:15]) / _TICK
    return name, int(fields[1]), cpu


def descendants(root: int | None = None) -> dict[int, tuple[str, float]]:
    """Every live descendant of ``root`` (default: this process) as
    pid -> (command name, CPU seconds)."""
    root = os.getpid() if root is None else root
    children: dict[int, list[int]] = {}
    info: dict[int, tuple[str, float]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        st = _stat(int(entry))
        if st is None:
            continue
        name, ppid, cpu = st
        children.setdefault(ppid, []).append(int(entry))
        info[int(entry)] = (name, cpu)
    out: dict[int, tuple[str, float]] = {}
    stack = [root]
    while stack:
        for pid in children.get(stack.pop(), []):
            if pid in info:
                out[pid] = info[pid]
                stack.append(pid)
    return out


def tree_cpu_s() -> float:
    """CPU seconds of the JVM, the PySpark daemon and its workers."""
    return sum(cpu for _name, cpu in descendants().values())


def _status_kb(pid: int, field: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith(field + ":"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def jvm_pid() -> int | None:
    for pid, (name, _cpu) in descendants().items():
        if name == "java":
            return pid
    return None


def jvm_rss_mb() -> float:
    pid = jvm_pid()
    return _status_kb(pid, "VmRSS") / 1024.0 if pid else 0.0


def worker_peak_rss_mb() -> float:
    """Largest VmHWM among the Python processes under the JVM (the
    PySpark daemon's forked workers)."""
    jvm = jvm_pid()
    if jvm is None:
        return 0.0
    peaks = [
        _status_kb(pid, "VmHWM")
        for pid, (name, _cpu) in descendants(jvm).items()
        if name.startswith("python")
    ]
    return max(peaks, default=0) / 1024.0


def steal_s() -> float:
    """CPU seconds the hypervisor has taken from this VM's CPUs since
    boot, summed over CPUs (the ``steal`` column of /proc/stat)."""
    with open("/proc/stat") as fh:
        return int(fh.readline().split()[8]) / _TICK


def dir_mb(path: str) -> float:
    total = 0
    for base, _dirs, files in os.walk(path):
        for name in files:
            try:
                total += os.lstat(os.path.join(base, name)).st_size
            except OSError:
                pass
    return total / 1e6
