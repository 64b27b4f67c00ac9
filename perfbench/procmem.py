"""Process-tree memory, read from /proc: the benchmark's driver, the
Spark JVM it launches and the JVM's Python workers."""

from __future__ import annotations

import os
import time


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:   # the process ended while we listed it
            continue
        # the command name may hold spaces; fields resume after its ')'
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        kids.setdefault(ppid, []).append(int(entry))
    return kids


def descendants(pid: int) -> list[int]:
    kids = _children_map()
    out, todo = [], list(kids.get(pid, []))
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


def tree_peak_rss_mb(pid: int) -> float:
    """Sum of the kernel-recorded peak RSS (VmHWM) of ``pid`` and every
    live process under it. Exact per process, and no sampling misses a
    short peak; the sum bounds the tree's simultaneous peak from above."""
    total_kb = 0
    for p in [pid, *descendants(pid)]:
        try:
            with open(f"/proc/{p}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return total_kb / 1024


def wait_for_exit(pids, timeout_s: float) -> list[int]:
    """Waits until none of ``pids`` is alive; returns those left."""
    deadline = time.monotonic() + timeout_s
    left = [p for p in pids if os.path.exists(f"/proc/{p}")]
    while left and time.monotonic() < deadline:
        time.sleep(0.1)
        left = [p for p in left if os.path.exists(f"/proc/{p}")]
    return left
