"""Process-tree accounting read straight from /proc (psutil is not installed).

The benchmark's driver process is the root of every process an op uses: the
JVM is its child, the PySpark daemon is the JVM's child and the Python
workers are forked from the daemon.
"""

from __future__ import annotations

import os

_CLK_TCK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:  # the process ended between listdir and open
        return None
    # comm (field 2) may hold spaces and parentheses: split after its last ')'
    return raw[raw.rindex(")") + 2:].split()


def running(pid: int) -> bool:
    """True while ``pid`` exists and is not a zombie."""
    st = _stat_fields(pid)
    return st is not None and st[0] != "Z"


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat_fields(int(name))
            if st is not None:
                kids.setdefault(int(st[1]), []).append(int(name))
    return kids


def process_tree(root: int | None = None) -> list[int]:
    """``root`` (default: this process) and all its live descendants."""
    kids = _children_map()
    out, todo = [], [root or os.getpid()]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


def tree_cpu_s(root: int | None = None) -> float:
    """utime + stime of every live process in the tree, plus the time of the
    children each has already reaped (cutime + cstime), so a worker that
    exits between two samples is not lost."""
    ticks = 0
    for pid in process_tree(root):
        st = _stat_fields(pid)
        if st is not None:
            # fields 14-17 of /proc/pid/stat, counted from 1 with pid and comm
            ticks += sum(int(x) for x in st[11:15])
    return ticks / _CLK_TCK


def _cmdline(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return f.read().replace(b"\0", b" ").decode(errors="replace")
    except OSError:
        return ""


def _vm_hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def python_worker_hwm_mb(root: int | None = None) -> dict[int, float]:
    """Peak resident set (VmHWM) of every PySpark Python worker in the tree,
    by pid.  Workers are forked from ``pyspark.daemon`` and keep its
    command line."""
    return {
        pid: _vm_hwm_kb(pid) / 1024.0
        for pid in process_tree(root)
        if "pyspark.daemon" in _cmdline(pid)
    }


def host_steal_s() -> float:
    """Cumulative steal time of all host CPUs, from /proc/stat."""
    with open("/proc/stat") as f:
        cpu = f.readline().split()
    return int(cpu[8]) / _CLK_TCK


def process_age_s(pid: int | None = None) -> float:
    """Seconds since a process started (10 ms resolution; /proc/stat's
    whole-second btime would be too coarse for set-up timing)."""
    st = _stat_fields(pid or os.getpid())
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - int(st[19]) / _CLK_TCK


def loadavg() -> list[float]:
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]
