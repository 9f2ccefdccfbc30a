"""Process-tree CPU and memory, read from /proc.

The engine runs as several processes: the benchmark's own Python process, the
Spark JVM it launches, and the Python worker daemon plus its forked
workers under the JVM. Their costs only add up when the whole tree under
the benchmark's own process is read, so every figure here is a sum over
that tree.
"""

from __future__ import annotations

import os
import threading

_CLK_TCK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: str) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:  # the process exited while the tree was walked
        return None
    # comm (field 2) may contain spaces; everything after its ')' splits
    return raw[raw.rindex(")") + 2:].split()


def tree_pids(root: int | None = None) -> list[str]:
    """The root process and all its descendants."""
    root = str(root or os.getpid())
    children: dict[str, list[str]] = {}
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        fields = _stat_fields(pid)
        if fields is not None:
            children.setdefault(fields[1], []).append(pid)
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_cpu_s(root: int | None = None) -> float:
    """User + system CPU seconds of the tree, including children that
    exited and were reaped inside it (cutime/cstime): Python workers come
    and go under the worker daemon."""
    ticks = 0
    for pid in tree_pids(root):
        fields = _stat_fields(pid)
        if fields is not None:
            # fields[11..14] = utime, stime, cutime, cstime (stat fields 14-17)
            ticks += sum(int(x) for x in fields[11:15])
    return ticks / _CLK_TCK


def tree_pss_bytes(root: int | None = None) -> int:
    """Proportional set size of the tree. Python workers are forked from
    the worker daemon and share its pages; summing their RSS would count
    those pages once per worker, PSS splits them between the sharers."""
    total = 0
    for pid in tree_pids(root):
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        total += int(line.split()[1]) * 1024
                        break
        except OSError:  # the process exited while the tree was walked
            pass
    return total


class MemSampler:
    """Polls the tree's resident memory (PSS) in a background thread;
    ``peak`` is the largest sum seen while the context is open."""

    def __init__(self, interval_s: float = 0.1) -> None:
        self.interval_s = interval_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_pss_bytes())
            self._stop.wait(self.interval_s)

    def __enter__(self) -> "MemSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
