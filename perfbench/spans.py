"""Spans around the benchmark's calls into the program, with Spark counters.

Each span runs under its own ``sc.setJobGroup``. The hot path only records
the group, name, parent and two clock readings; Spark's counters for the
group are read afterwards from the status store (jobs, stages, tasks,
executor run/CPU/GC time, input, shuffle, spill and output bytes), outside
any timed region. Spans stay in memory and are written out at the end.

With tracing off, ``span`` is a plain no-op context manager, so the
untraced run measures the program without job groups or status queries.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from pathlib import Path

COUNTERS = (
    "jobs",
    "stages",
    "tasks",
    "failed_tasks",
    "executor_run_s",
    "executor_cpu_s",
    "gc_s",
    "input_bytes",
    "input_records",
    "shuffle_read_bytes",
    "shuffle_write_bytes",
    "shuffle_write_records",
    "spill_bytes",
    "output_bytes",
)


class Tracer:
    def __init__(self, spark, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._sc = spark.sparkContext
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        """Time ``name``; when tracing, run its Spark jobs under one group."""
        if not self.enabled:
            yield None
            return
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        rec = {"id": sid, "name": name, "parent": parent, "group": f"perfbench-{sid}"}
        self.spans.append(rec)
        self._stack.append(sid)
        self._sc.setJobGroup(rec["group"], name)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if parent is None:
                self._sc._jsc.clearJobGroup()
            else:
                outer = self.spans[parent]
                self._sc.setJobGroup(outer["group"], outer["name"])

    def resolve(self) -> None:
        """Attach Spark counters to every span that has none yet."""
        if not self.enabled:
            return
        jsc = self._sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        gw = self._sc._gateway
        no_quantiles = gw.new_array(gw.jvm.double, 0)
        tracker = self._sc.statusTracker()
        for rec in self.spans:
            if "counters" in rec:
                continue
            c = dict.fromkeys(COUNTERS, 0)
            for job in tracker.getJobIdsForGroup(rec["group"]):
                c["jobs"] += 1
                info = tracker.getJobInfo(job)
                for stage in info.stageIds if info else ():
                    attempts = store.stageData(stage, False, None, False, no_quantiles)
                    for i in range(attempts.size()):
                        _add_stage(c, attempts.apply(i))
            rec["counters"] = c

    def dump(self, path: Path, extra: dict) -> None:
        if not self.enabled:
            return
        path.parent.mkdir(parents=True, exist_ok=True)
        path.write_text(json.dumps({**extra, "spans": self.spans}, indent=1))


def _add_stage(c: dict, sd) -> None:
    if sd.status().toString() != "COMPLETE":
        return
    c["stages"] += 1
    c["tasks"] += sd.numCompleteTasks()
    c["failed_tasks"] += sd.numFailedTasks()
    c["executor_run_s"] += sd.executorRunTime() / 1e3
    c["executor_cpu_s"] += sd.executorCpuTime() / 1e9
    c["gc_s"] += sd.jvmGcTime() / 1e3
    c["input_bytes"] += sd.inputBytes()
    c["input_records"] += sd.inputRecords()
    c["shuffle_read_bytes"] += sd.shuffleReadBytes()
    c["shuffle_write_bytes"] += sd.shuffleWriteBytes()
    c["shuffle_write_records"] += sd.shuffleWriteRecords()
    c["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
    c["output_bytes"] += sd.outputBytes()
