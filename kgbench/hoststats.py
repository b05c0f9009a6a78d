"""Host context and process bookkeeping read from /proc."""

from __future__ import annotations

import os
import time


def cpu_times() -> tuple[float, list[int]]:
    """(wall time, aggregate jiffies from the first line of /proc/stat)."""
    with open("/proc/stat") as f:
        fields = f.readline().split()[1:]
    return time.monotonic(), [int(v) for v in fields]


def cpu_context(before, after) -> dict:
    """Busy cores and steal share between two cpu_times() readings.
    /proc/stat columns: user nice system idle iowait irq softirq steal."""
    (t0, a), (t1, b) = before, after
    d = [y - x for x, y in zip(a, b)]
    total = sum(d[:8]) or 1
    hz = os.sysconf("SC_CLK_TCK")
    busy = total - d[3] - d[4]
    return {"busy_cores": round(busy / hz / max(t1 - t0, 1e-9), 2),
            "steal_share": round(d[7] / total, 4)}


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
        # the command name may hold spaces: ppid is the 2nd field after ')'
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants(pid: int) -> list[int]:
    """pid and every live process below it."""
    kids = _children()
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


# JIT compiler threads of the JVM: their CPU is the JVM compiling Spark,
# not the program's work, and how much of it falls into one operation
# depends on how far compilation had got when the operation started
JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")


def _stat_fields(path: str) -> list[str]:
    """Fields of a /proc stat file after the command name, or []."""
    try:
        with open(path) as f:
            return f.read().rsplit(")", 1)[1].split()
    except OSError:
        return []


def _ticks(fields: list[str], last: int) -> int:
    # fields after ')': state(0) ppid(1) ... utime(11) stime(12)
    # cutime(13) cstime(14)
    return sum(int(v) for v in fields[11:last]) if fields else 0


def _jit_ticks(pid: int) -> int:
    total = 0
    try:
        tids = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return 0
    for tid in tids:
        try:
            with open(f"/proc/{pid}/task/{tid}/comm") as f:
                if not f.read().startswith(JIT_THREADS):
                    continue
        except OSError:
            continue
        total += _ticks(_stat_fields(f"/proc/{pid}/task/{tid}/stat"), 13)
    return total


def tree_cpu_s(pid: int | None) -> tuple[float, float]:
    """(CPU seconds, JIT compiler CPU seconds) used so far by this process
    and pid's process tree (this process alone for None); the first
    excludes the second.

    A worker that exits is counted in its parent's reaped-children time,
    so the sum only moves by the CPU used in between two readings. Time
    the host gives to other tenants (steal) is counted by no process. The
    JVM must run a fixed set of compiler threads
    (-XX:-UseDynamicNumberOfCompilerThreads): the CPU of one that exited
    would move from the JIT sum into the total."""
    own = os.times()
    ticks = jit = 0
    for p in descendants(pid) if pid is not None else []:
        ticks += _ticks(_stat_fields(f"/proc/{p}/stat"), 15)
        jit += _jit_ticks(p)
    hz = os.sysconf("SC_CLK_TCK")
    return own.user + own.system + (ticks - jit) / hz, jit / hz


def _hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def tree_hwm_mb(pid: int) -> dict:
    """VmHWM (peak resident set) of pid, and summed over its live
    descendants, in MB."""
    below = [_hwm_kb(p) for p in descendants(pid)[1:]]
    return {"top": _hwm_kb(pid) / 1024.0, "below": sum(below) / 1024.0,
            "n_below": len(below)}


def wait_gone(pids: list[int], timeout: float) -> list[int]:
    """Wait until every pid has exited; returns those still alive."""
    deadline = time.monotonic() + timeout
    alive = list(pids)
    while alive and time.monotonic() < deadline:
        alive = [p for p in alive if os.path.exists(f"/proc/{p}")
                 and not _is_zombie(p)]
        if alive:
            time.sleep(0.1)
    return alive


def _is_zombie(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] == "Z"
    except OSError:
        return True
