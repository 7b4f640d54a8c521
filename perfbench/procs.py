"""Process-tree CPU by kind and peak resident memory.

Extends ``bench.py``'s ``/proc`` walk (``tree_cpu_snapshot`` and its
per-pid ``tree_cpu_delta``) instead of copying it: the same pid set is
split into the driver Python process, the local-mode JVM and the Python
workers the JVM forks, and the kernel's per-process resident-memory peak
(``VmHWM``) is reset and read over it, so no sampler runs during the pass.
"""

from __future__ import annotations

import os

from bench import tree_cpu_delta, tree_cpu_snapshot

KINDS = ("driver", "jvm", "python")


def _kind(pid: int) -> str:
    if pid == os.getpid():
        return "driver"
    try:
        with open(f"/proc/{pid}/comm") as fh:
            comm = fh.read().strip()
    except OSError:
        return "python"
    return "jvm" if comm == "java" else "python"


def cpu_by_kind(start: dict[int, float], end: dict[int, float]) -> dict[str, float]:
    """CPU seconds between two ``tree_cpu_snapshot`` results, per kind,
    with ``tree_cpu_delta``'s per-pid rules (a pid born inside the window
    counts whole, a pid that vanished counts 0)."""
    out = dict.fromkeys(KINDS, 0.0)
    for pid, c1 in end.items():
        out[_kind(pid)] += tree_cpu_delta({pid: start.get(pid, 0.0)}, {pid: c1})
    return out


def reset_peak_rss() -> None:
    """Restart the peak-RSS count of every process in the tree (writing 5
    to ``clear_refs`` sets ``VmHWM`` back to the current RSS)."""
    for pid in tree_cpu_snapshot():
        try:
            with open(f"/proc/{pid}/clear_refs", "w") as fh:
                fh.write("5")
        except OSError:
            continue


def tree_peak_rss_bytes() -> int:
    """Sum over the tree of each process's ``VmHWM``: its peak resident
    memory since ``reset_peak_rss`` (or since it started)."""
    total = 0
    for pid in tree_cpu_snapshot():
        try:
            with open(f"/proc/{pid}/status") as fh:
                line = next(l for l in fh if l.startswith("VmHWM:"))
            total += int(line.split()[1]) * 1024
        except (OSError, StopIteration, ValueError, IndexError):
            continue
    return total
