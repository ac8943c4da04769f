"""Spans around layer calls, and Spark stage metrics per job group.

One `Tracer` serves both kinds of pass. Disabled (every pass of an
untraced run, and the untraced passes of a traced one), `span` only
times the call: no span is kept, no job group is set and Spark's status
tracker is never read. Enabled, every span is kept in memory (name, start, end,
parent) and a span opened with `job_group=True` runs its Spark jobs in
a job group of its own; when it closes, the stages of that group are
read from the status tracker / status store and summed onto the span.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager

from py4j.protocol import Py4JJavaError

STAGE_FIELDS = {
    # StageData accessor -> (span key, scale to the reported unit)
    "numCompleteTasks": ("tasks", 1),
    "numFailedTasks": ("failed_tasks", 1),
    "executorRunTime": ("executor_run_s", 1e-3),
    "executorCpuTime": ("executor_cpu_s", 1e-9),
    "jvmGcTime": ("gc_s", 1e-3),
    "memoryBytesSpilled": ("spill_bytes", 1),
    "diskBytesSpilled": ("spill_bytes", 1),
    "shuffleWriteBytes": ("shuffle_write_bytes", 1),
}


class Tracer:
    def __init__(self):
        self.enabled = False
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._spark = None
        self._counted: set[int] = set()
        self.t0 = time.perf_counter()

    def bind(self, spark) -> None:
        """Point the tracer at the live session."""
        self._spark = spark

    @contextmanager
    def span(self, name: str, job_group: bool = False):
        rec = {"name": name, "start": time.perf_counter()}
        if self.enabled:
            rec["id"] = len(self.spans)
            rec["parent"] = self._stack[-1] if self._stack else None
            self.spans.append(rec)
            self._stack.append(rec["id"])
            group = f"perfbench-{rec['id']}"
            if job_group:
                self._spark.sparkContext.setJobGroup(group, name)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            rec["dur"] = rec["end"] - rec["start"]
            if self.enabled:
                self._stack.pop()
                if job_group:
                    self._spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
                    self.attach(rec, group)

    def attach(self, rec: dict, group: str) -> None:
        """Sum the stage metrics of job group `group` onto span `rec`."""
        if not self.enabled:
            return
        sc = self._spark.sparkContext
        jsc = sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        tracker = sc.statusTracker()
        store = jsc.statusStore()
        stage_ids: set[int] = set()
        for job_id in tracker.getJobIdsForGroup(group):
            info = tracker.getJobInfo(job_id)
            if info is not None:
                stage_ids.update(int(s) for s in info.stageIds)
        # a job lists the shuffle-map stages it reuses (skipped) under the
        # id they ran with; count each stage once, in the group that ran it
        stage_ids -= self._counted
        self._counted |= stage_ids
        totals = {key: 0.0 for key, _ in STAGE_FIELDS.values()}
        for sid in stage_ids:
            try:
                attempts = store.stageData(sid, False, None, False, None)
            except Py4JJavaError:
                continue  # stage never registered (skipped before submission)
            for i in range(attempts.size()):
                data = attempts.apply(i)
                for field, (key, scale) in STAGE_FIELDS.items():
                    totals[key] += getattr(data, field)() * scale
        rec["stages"] = len(stage_ids)
        rec.update(totals)

    def write(self, path: str) -> None:
        """Write the kept spans, times relative to tracer creation."""
        out = []
        for s in self.spans:
            row = dict(s)
            row["start"] = round(s["start"] - self.t0, 6)
            row["end"] = round(s.get("end", s["start"]) - self.t0, 6)
            row.pop("dur", None)
            out.append(row)
        with open(path, "w") as f:
            json.dump(out, f, indent=1)
