"""Span tracing from outside the program, with Spark's own work counters.

`Tracer.span(name)` gives the calls inside it a job group of their own. At
close it waits for Spark's listener bus to drain, then reads that group's
jobs, stages and tasks through ``statusTracker().getJobInfo(j).stageIds``
and ``statusStore().lastStageAttempt(id)``. It reads at close because the
store evicts old stages. ``stageList`` is avoided: its Scala default
arguments cannot be called through py4j. Spans that ask for SQL metrics
also sum "number of files read" over the group's SQL executions.

`Tracer.patch(owner, attr, name)` wraps a module or class attribute in a
span, so each layer is traced from the benchmark's files without editing
the program. `restore()` undoes every patch.

`patch` installs wrappers only on an active tracer (a traced run). Spans
record only while `enabled` is set; otherwise they yield at once, so set-up
stays untraced and a traced run can interleave untraced operations.
"""

from __future__ import annotations

import functools
import itertools
import json
import time
from collections import Counter
from contextlib import contextmanager

from py4j.protocol import Py4JJavaError

STAGE_COUNTERS = ("jobs", "stages", "tasks", "cpu_s", "input_bytes", "shuffle_bytes", "spill_bytes")


class Span:
    __slots__ = ("id", "name", "parent", "start", "end", "counters", "children_s")

    def __init__(self, id_: int, name: str, parent: int | None, start: float):
        self.id = id_
        self.name = name
        self.parent = parent
        self.start = start
        self.end = start
        self.counters: Counter = Counter()
        self.children_s = 0.0

    @property
    def dur_s(self) -> float:
        return self.end - self.start

    @property
    def self_s(self) -> float:
        return self.dur_s - self.children_s

    def record(self) -> dict:
        return {
            "id": self.id,
            "name": self.name,
            "parent": self.parent,
            "start": round(self.start, 6),
            "end": round(self.end, 6),
            "dur_s": round(self.dur_s, 6),
            "self_s": round(self.self_s, 6),
            **self.counters,
        }


class Tracer:
    def __init__(self, spark, active: bool):
        self.active = active
        self.enabled = False
        self.spark = spark
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._ids = itertools.count(1)
        self._patches: list[tuple[object, str, object]] = []

    # -- spans ---------------------------------------------------------------

    @contextmanager
    def span(self, name: str, sql_files: bool = False):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        sid = next(self._ids)
        group = f"bench-span-{sid}"
        self.sc.setJobGroup(group, name)
        sp = Span(sid, name, parent.id if parent else None, time.perf_counter())
        self._stack.append(sp)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            if parent is not None:
                parent.children_s += sp.dur_s
                self.sc.setJobGroup(f"bench-span-{parent.id}", parent.name)
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)
            self._read_counters(sp, group, sql_files)
            self.spans.append(sp)

    def _read_counters(self, sp: Span, group: str, sql_files: bool) -> None:
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        tracker = self.sc.statusTracker()
        store = jsc.statusStore()
        jobs = tracker.getJobIdsForGroup(group)
        c = sp.counters
        c["jobs"] += len(jobs)
        for j in jobs:
            info = tracker.getJobInfo(j)
            for sid in info.stageIds if info else ():
                try:
                    st = store.lastStageAttempt(sid)
                except Py4JJavaError:
                    continue
                if st.status().toString() == "SKIPPED":
                    continue
                c["stages"] += 1
                c["tasks"] += st.numCompleteTasks()
                c["cpu_s"] += st.executorCpuTime() / 1e9
                c["input_bytes"] += st.inputBytes()
                c["shuffle_bytes"] += st.shuffleWriteBytes()
                c["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
        if sql_files and jobs:
            c["files_read"] += self._files_read(set(jobs))

    def _files_read(self, jobs: set[int], recent: int = 16) -> int:
        """Sum "number of files read" over the most recent SQL executions
        whose jobs belong to `jobs`."""
        store = self.spark._jsparkSession.sharedState().statusStore()
        n = store.executionsCount()
        execs = store.executionsList(max(n - recent, 0), min(n, recent))
        total = 0
        for i in range(execs.size()):
            ex = execs.apply(i)
            ex_jobs = ex.jobs().keys().toSeq()
            if not any(ex_jobs.apply(k) in jobs for k in range(ex_jobs.size())):
                continue
            values = store.executionMetrics(ex.executionId())
            nodes = store.planGraph(ex.executionId()).allNodes()
            for k in range(nodes.size()):
                metrics = nodes.apply(k).metrics()
                for q in range(metrics.size()):
                    m = metrics.apply(q)
                    if m.name() == "number of files read":
                        v = values.get(m.accumulatorId())
                        if v.isDefined():
                            total += int(v.get().replace(",", ""))
        return total

    # -- patching ------------------------------------------------------------

    def patch(self, owner: object, attr: str, name: str, sql_files: bool = False) -> None:
        if not self.active:
            return
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            with tracer.span(name, sql_files=sql_files):
                return orig(*args, **kwargs)

        setattr(owner, attr, traced)
        self._patches.append((owner, attr, orig))

    def restore(self) -> None:
        while self._patches:
            owner, attr, orig = self._patches.pop()
            setattr(owner, attr, orig)

    # -- output --------------------------------------------------------------

    def write_jsonl(self, path: str) -> None:
        with open(path, "w") as f:
            for sp in self.spans:
                f.write(json.dumps(sp.record()) + "\n")

    def totals(self, since: int = 0, until: int | None = None) -> dict[str, dict[str, float]]:
        """Per span name: count, summed duration, self time and counters of
        the spans `spans[since:until]`."""
        out: dict[str, Counter] = {}
        for sp in self.spans[since:until]:
            t = out.setdefault(sp.name, Counter())
            t["n"] += 1
            t["dur_s"] += sp.dur_s
            t["self_s"] += sp.self_s
            t.update(sp.counters)
        return {k: dict(v) for k, v in out.items()}
