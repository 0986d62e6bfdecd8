"""Spans and Spark counters recorded around the benchmark's calls into the
program.

A span covers one call into a layer: its name (the repo module or registry
query called), kind (``op``, ``build``, ``plan`` or ``action``), start, end,
parent span and operation id, plus the Spark work that finished inside it:
jobs, jobs outside the operation's job group, stages, tasks, shuffle and
spill bytes, executor run and CPU time, and JVM GC time. Counters come from
the in-process status store (``sparkContext._jsc.sc().statusStore()``),
read after draining the listener bus, so no Spark UI is needed.

Spans live in memory and are written out once, when the run ends. With
tracing off, ``span`` records nothing and polls nothing; the job group is
set either way so both modes run the same Spark calls.
"""

from __future__ import annotations

import contextlib
import json
import time

COUNTERS = (
    "jobs",
    "jobs_ungrouped",
    "stages",
    "tasks",
    "shuffle_bytes",
    "spill_bytes",
    "executor_run_s",
    "executor_cpu_s",
    "gc_s",
)


class Tracer:
    def __init__(self, spark, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._sc = spark.sparkContext
        self._group: str | None = None
        self._stack: list[int] = []
        if not enabled:
            return
        jvm = self._sc._jvm
        ssc = self._sc._jsc.sc()
        self._store = ssc.statusStore()
        self._bus = ssc.listenerBus()
        self._gcs = list(jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans())
        self._stage_args = (
            None, False, False, self._sc._gateway.new_array(jvm.double, 0), jvm.java.util.ArrayList(),
        )
        self._totals = dict.fromkeys(COUNTERS, 0.0)
        self._last_job = self._newest(self._store.jobsList(None), "jobId")
        self._last_stage = self._newest(self._store.stageList(*self._stage_args), "stageId")
        self.poll_s = 0.0
        self._snapshot = self._poll()

    def set_group(self, op: str) -> None:
        """Label every job started from this thread with the operation id."""
        self._group = f"perfbench:{op}"
        self._sc.setJobGroup(self._group, op)

    @contextlib.contextmanager
    def span(self, name: str, kind: str, op: str):
        if not self.enabled:
            yield
            return
        # spans are sequential and no Spark work runs between them, so the
        # last poll (the previous span's end) is this span's start
        before = self._snapshot
        parent = self._stack[-1] if self._stack else None
        idx = len(self.spans)
        self.spans.append({"id": idx, "name": name, "kind": kind, "op": op, "parent": parent})
        self._stack.append(idx)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            t1 = time.perf_counter()
            self._stack.pop()
            after = self._snapshot = self._poll()
            self.spans[idx].update(
                start=t0, end=t1, **{k: after[k] - before[k] for k in COUNTERS}
            )

    @staticmethod
    def _newest(seq, id_attr: str) -> int:
        # status-store lists are newest first
        return getattr(seq.apply(0), id_attr)() if seq.size() else -1

    def _poll(self) -> dict:
        """Fold jobs and stages finished since the last poll into the
        running totals and return a copy of them."""
        t0 = time.perf_counter()
        self._bus.waitUntilEmpty()
        t = self._totals
        jobs = self._store.jobsList(None)
        newest = self._last_job
        for i in range(jobs.size()):
            j = jobs.apply(i)
            jid = j.jobId()
            if jid <= self._last_job:
                break
            newest = max(newest, jid)
            g = j.jobGroup()
            t["jobs"] += 1
            if not (g.isDefined() and g.get() == self._group):
                t["jobs_ungrouped"] += 1
        self._last_job = newest
        stages = self._store.stageList(*self._stage_args)
        newest = self._last_stage
        for i in range(stages.size()):
            s = stages.apply(i)
            sid = s.stageId()
            if sid <= self._last_stage:
                break
            newest = max(newest, sid)
            if s.status().toString() == "SKIPPED":
                continue
            t["stages"] += 1
            t["tasks"] += s.numCompleteTasks()
            t["shuffle_bytes"] += s.shuffleWriteBytes()
            t["spill_bytes"] += s.memoryBytesSpilled() + s.diskBytesSpilled()
            t["executor_run_s"] += s.executorRunTime() / 1e3
            t["executor_cpu_s"] += s.executorCpuTime() / 1e9
        self._last_stage = newest
        t["gc_s"] = sum(b.getCollectionTime() for b in self._gcs) / 1e3
        self.poll_s += time.perf_counter() - t0
        return dict(t)

    def self_times(self) -> dict[int, float]:
        """Span id -> duration minus the time its child spans cover."""
        out = {s["id"]: s["end"] - s["start"] for s in self.spans}
        for s in self.spans:
            if s["parent"] is not None:
                out[s["parent"]] -= s["end"] - s["start"]
        return out

    def write(self, path: str) -> None:
        selfs = self.self_times()
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps({**s, "self_s": selfs[s["id"]]}) + "\n")
