"""CPU time and peak memory of this process and everything it started.

The client launches the driver JVM, which forks the Python workers, so
the tree rooted at this process holds every process doing the
workload's work. Read from ``/proc`` (Linux only).
"""

from __future__ import annotations

import os

_TICKS = os.sysconf("SC_CLK_TCK")


def _children() -> dict[int, list[int]]:
    out: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # field 4 (ppid) follows the parenthesised command name
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        out.setdefault(ppid, []).append(int(entry))
    return out


def tree_usage(root_pid: int | None = None) -> tuple[float, int]:
    """(CPU seconds, summed ``VmHWM`` bytes) over the process tree.

    CPU seconds are user + system time of every live process plus that
    of the children each one has reaped, so a Python worker that exited
    still counts through the daemon that waited for it. The guest
    kernel does not charge a process for time its vCPU was stolen by
    the host, so this does not grow when neighbours load the machine.
    """
    children = _children()
    ticks, hwm_kb, todo = 0, 0, [root_pid or os.getpid()]
    while todo:
        pid = todo.pop()
        todo.extend(children.get(pid, ()))
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        hwm_kb += int(line.split()[1])
                        break
        except OSError:
            continue
        # utime, stime, cutime, cstime are fields 14-17 of stat
        ticks += sum(int(x) for x in fields[11:15])
    return ticks / _TICKS, hwm_kb * 1024
