"""Spans around calls into the engine's layers, recorded from outside.

Each span tags the Spark jobs it starts with its own job group
(``SparkContext.setJobGroup``); when the span ends, the per-stage task
counters of those jobs are read back from the JVM's ``AppStatusStore``
(reachable with the UI off) and summed. CPU comes from /proc over the
benchmark's process tree. Spans stay in memory until ``dump``.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass

from procs import tree_cpu_s


@dataclass
class Span:
    name: str
    op: int
    parent: str | None
    start: float
    end: float = 0.0
    cpu_s: float = 0.0
    task_s: float = 0.0           # summed executor run time of the span's tasks
    shuffle_write_bytes: int = 0
    shuffle_read_bytes: int = 0
    spill_bytes: int = 0          # memory + disk spill

    @property
    def wall_s(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self._seq = 0

    @contextmanager
    def span(self, name: str, op: int, parent: str | None = None):
        self._seq += 1
        group = f"perfbench-{self._seq}-{name}"
        self.sc.setJobGroup(group, name)
        cpu0 = tree_cpu_s()
        sp = Span(name, op, parent, time.monotonic())
        try:
            yield sp
        finally:
            sp.end = time.monotonic()
            sp.cpu_s = tree_cpu_s() - cpu0
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        self._stage_counters(group, sp)
        self.spans.append(sp)

    def _stage_counters(self, group: str, sp: Span) -> None:
        tracker = self.sc.statusTracker()
        jsc = self.sc._jsc.sc()
        # the status store is fed by the listener bus, which runs behind
        # the job's return: drain it before reading
        jsc.listenerBus().waitUntilEmpty(10_000)
        store = jsc.statusStore()
        stage_ids = set()
        for jid in tracker.getJobIdsForGroup(group):
            stage_ids.update(tracker.getJobInfo(jid).stageIds)
        for sid in stage_ids:
            d = store.lastStageAttempt(sid)
            if d.status().toString() != "COMPLETE":
                continue  # skipped: its output was reused, no task ran
            sp.task_s += d.executorRunTime() / 1000.0
            sp.shuffle_write_bytes += d.shuffleWriteBytes()
            sp.shuffle_read_bytes += d.shuffleReadBytes()
            sp.spill_bytes += d.memoryBytesSpilled() + d.diskBytesSpilled()

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([{**asdict(s), "wall_s": s.wall_s} for s in self.spans], f, indent=1)
