"""Small statistics and process helpers for the benchmark."""

from __future__ import annotations

import math
import os
import statistics


def median(values: list[float]) -> float:
    return float(statistics.median(values))


def geomean(values: list[float]) -> float:
    return math.exp(sum(math.log(v) for v in values) / len(values))


def ratio_or_zero(num: float, den: float) -> float:
    return num / den if den else 0.0


# --- processes ---------------------------------------------------------------


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                # the command name may hold spaces; ppid follows its ')'
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants(pid: int) -> list[int]:
    kids = _children()
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        for c in kids.get(p, []):
            out.append(c)
            todo.append(c)
    return out


def _hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def tree_cpu_s(pid: int | None = None) -> float:
    """User + system CPU seconds of this process and every live
    descendant."""
    root = pid or os.getpid()
    total = 0
    for p in [root, *descendants(root)]:
        try:
            with open(f"/proc/{p}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
            total += int(fields[11]) + int(fields[12])
        except (OSError, IndexError, ValueError):
            continue
    return total / os.sysconf("SC_CLK_TCK")


def tree_peak_rss_mb(pid: int | None = None) -> float:
    """Sum of the peak resident sizes of this process and every live
    descendant (the JVM and its Python workers)."""
    root = pid or os.getpid()
    return sum(_hwm_kb(p) for p in [root, *descendants(root)]) / 1024.0
