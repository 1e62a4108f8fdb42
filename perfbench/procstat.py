"""Process-tree accounting from /proc: CPU time, peak memory, host steal.

CPU time here is what the kernel charges to the benchmark's processes (the
driver, the JVM and Spark's Python workers). With paravirtual steal-time
accounting, time the hypervisor takes from a CPU is not charged to the task
that was running on it, so these figures do not grow with host steal the
way wall time does.
"""

from __future__ import annotations

import os

TICK = os.sysconf("SC_CLK_TCK")


def _stat_fields(path: str) -> list[str] | None:
    try:
        with open(path) as fh:
            return fh.read().rsplit(")", 1)[1].split()
    except (OSError, IndexError):
        return None


def tree_pids() -> set[int]:
    """This process and every live descendant."""
    parent: dict[int, int] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            f = _stat_fields(f"/proc/{d}/stat")
            if f:
                parent[int(d)] = int(f[1])
    tree, frontier = {os.getpid()}, [os.getpid()]
    while frontier:
        p = frontier.pop()
        kids = [c for c, pp in parent.items() if pp == p and c not in tree]
        tree.update(kids)
        frontier.extend(kids)
    return tree


#: (pid, start time) -> stat paths of the process's JIT threads (a fixed
#: set: the JVM runs with -XX:-UseDynamicNumberOfCompilerThreads)
_COMPILERS: dict[tuple[int, str], list[str]] = {}


def _compiler_threads(pid: int, start: str) -> list[str]:
    if (pid, start) not in _COMPILERS:
        paths = []
        try:
            tids = os.listdir(f"/proc/{pid}/task")
        except OSError:
            tids = []
        for t in tids:
            try:
                with open(f"/proc/{pid}/task/{t}/comm") as fh:
                    # "C1 CompilerThre", "C2 CompilerThre", "Sweeper thread"
                    if fh.read().startswith(("C1 Compiler", "C2 Compiler", "Sweeper")):
                        paths.append(f"/proc/{pid}/task/{t}/stat")
            except OSError:
                continue
        _COMPILERS[pid, start] = paths
    return _COMPILERS[pid, start]


def cpu_s() -> tuple[float, float]:
    """(all, JIT) CPU seconds used so far by this process and every live
    descendant: user + system time, reaped children included; JIT is the
    share of the JVM's JIT compiler and code-cache sweeper threads."""
    total = jit = 0
    for p in tree_pids():
        f = _stat_fields(f"/proc/{p}/stat")
        if not f:
            continue
        total += sum(int(x) for x in f[11:15])
        for path in _compiler_threads(p, f[19]):
            t = _stat_fields(path)
            if t:
                jit += int(t[11]) + int(t[12])
    return total / TICK, jit / TICK


def tree_peak_rss_mb() -> float:
    """Sum of the peak resident sizes (VmHWM) of this process and every
    live descendant (the JVM and its Python workers)."""
    kb = 0
    for p in tree_pids():
        try:
            with open(f"/proc/{p}/status") as fh:
                kb += next((int(line.split()[1]) for line in fh if line.startswith("VmHWM:")), 0)
        except OSError:
            continue
    return kb / 1024.0


def host_steal_s() -> float:
    """CPU seconds the hypervisor has taken from this machine's CPUs."""
    with open("/proc/stat") as fh:
        f = fh.readline().split()
    return int(f[8]) / TICK
