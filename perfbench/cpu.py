"""CPU-seconds used by this process and everything it started.

The process tree is the one ``rss`` walks: the benchmark process (with
the HTTP server thread), the driver JVM and the PySpark Python workers.
Each process's ``utime + stime`` counts its own threads, the JVM's JIT
compiler and GC threads included; ``cutime + cstime`` counts its children
that have already ended, such as Python workers the daemon reaped, so a
delta between two readings covers all the work done in between.

On a shared virtual machine, wall time includes the time other tenants'
load takes the virtual CPUs away (steal). A kernel with paravirtual steal
accounting (``CONFIG_PARAVIRT_TIME_ACCOUNTING``) leaves steal out of a
task's CPU time, so these readings rise far less than wall time when the
host is busy.
"""

from __future__ import annotations

import os

from rss import _children

_HZ = os.sysconf("SC_CLK_TCK")


def _ticks(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
    except OSError:  # the process ended while we walked the tree
        return 0
    # fields[0] is field 3 of proc(5); utime, stime, cutime, cstime are 14-17
    return sum(int(x) for x in fields[11:15])


def tree_cpu_s(root: int | None = None) -> float:
    """CPU-seconds used so far by the process tree under ``root`` (this
    process by default)."""
    tree = _children()
    todo, ticks = [root or os.getpid()], 0
    while todo:
        pid = todo.pop()
        ticks += _ticks(pid)
        todo.extend(tree.get(pid, []))
    return ticks / _HZ
