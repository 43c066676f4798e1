"""CPU time and peak memory of this process and the Spark JVM it launched.

Read from ``/proc``: the JVM is a child of the Python driver (PySpark
launches it through ``spark-submit``), so the process tree rooted at this
process covers both sides of the py4j bridge.
"""

from __future__ import annotations

import os

_TICK = os.sysconf("SC_CLK_TCK")


def _descendants(root: int) -> list[int]:
    parent: dict[int, int] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue  # exited while scanning
        # the command name may contain spaces and ')': split after the last
        parent[int(entry)] = int(stat.rsplit(")", 1)[1].split()[1])
    found: list[int] = []
    frontier = [root]
    while frontier:
        pid = frontier.pop()
        kids = [c for c, p in parent.items() if p == pid]
        found += kids
        frontier += kids
    return found


class ProcessTree:
    """This process plus every live descendant, fixed at construction —
    build it after the JVM is up."""

    def __init__(self) -> None:
        self.pids = [os.getpid(), *_descendants(os.getpid())]

    def cpu_s(self) -> float:
        """User + system CPU seconds consumed so far by the tree."""
        total = 0
        for pid in self.pids:
            try:
                with open(f"/proc/{pid}/stat") as f:
                    fields = f.read().rsplit(")", 1)[1].split()
            except OSError:
                continue
            total += int(fields[11]) + int(fields[12])  # utime, stime
        return total / _TICK

    def reset_peak(self) -> None:
        """Restart each process's peak-RSS count from its current RSS."""
        for pid in self.pids:
            try:
                with open(f"/proc/{pid}/clear_refs", "w") as f:
                    f.write("5")
            except FileNotFoundError:
                continue  # exited

    def peak_rss_mb(self) -> float:
        """Sum of each process's peak resident set (VmHWM), in MB."""
        kb = 0
        for pid in self.pids:
            try:
                with open(f"/proc/{pid}/status") as f:
                    for line in f:
                        if line.startswith("VmHWM:"):
                            kb += int(line.split()[1])
                            break
            except OSError:
                continue
        return kb / 1024
