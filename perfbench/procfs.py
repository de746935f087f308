"""Process-tree memory and host counters from /proc: the Python driver,
the Spark JVM it launched, and any Python workers. No dependencies.
Process-tree CPU comes from ``bench.tree_cpu_seconds``."""

from __future__ import annotations

import os


def _tree() -> tuple[dict[int, list[str]], dict[int, list[int]]]:
    """(pid -> stat fields after the comm, ppid -> child pids)."""
    stats: dict[int, list[str]] = {}
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", "rb") as f:
                data = f.read().decode("ascii", "replace")
        except OSError:
            continue  # the process exited while we listed
        # comm may hold spaces or parentheses: fields restart after the last ')'
        fields = data[data.rindex(")") + 2:].split()
        stats[int(name)] = fields
        children.setdefault(int(fields[1]), []).append(int(name))
    return stats, children


def tree_pids() -> list[int]:
    """This process and every live descendant."""
    stats, children = _tree()
    out, stack = [], [os.getpid()]
    while stack:
        pid = stack.pop()
        if pid in stats:
            out.append(pid)
            stack.extend(children.get(pid, []))
    return out


def tree_peak_rss_mb() -> float:
    """Sum of VmHWM (each process's peak resident set) over the tree: an
    upper bound on the tree's simultaneous peak."""
    kb = 0
    for pid in tree_pids():
        try:
            with open(f"/proc/{pid}/status", encoding="ascii") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return kb / 1024


def host_cpu_ticks() -> list[int]:
    """The host-wide ``cpu`` line of /proc/stat: user nice system idle
    iowait irq softirq steal ..."""
    with open("/proc/stat", encoding="ascii") as f:
        return [int(x) for x in f.readline().split()[1:]]


def steal_pct(before: list[int], after: list[int]) -> float:
    """Share of host CPU time stolen by the hypervisor between two
    ``host_cpu_ticks`` readings, in percent."""
    d = [b - a for a, b in zip(before, after)]
    return 100.0 * d[7] / sum(d) if sum(d) else 0.0


def mem_total_mb() -> float:
    with open("/proc/meminfo", encoding="ascii") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")
