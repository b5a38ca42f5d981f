"""Spans and job-group-scoped Spark counters for the traced run.

Untraced runs use :data:`NULL_TRACER`, whose methods do nothing, so the
end-to-end numbers carry no instrumentation.  A traced run keeps every span in
memory and the caller writes them out once, after the timed passes.
"""

from __future__ import annotations

import contextlib
import time

COUNTERS = ("jobs", "stages", "tasks", "failed_tasks", "executor_run_s",
            "executor_cpu_s", "gc_s", "shuffle_write_bytes", "spill_bytes")


class NullTracer:
    enabled = False

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        yield

    def group(self, gid: str) -> None:
        pass

    def counters(self, gid: str) -> dict:
        return {}


NULL_TRACER = NullTracer()


class Tracer:
    """Records (name, start, end, parent) spans relative to ``t0`` and reads
    Spark's status tracker and status store per job group.  Counters must be
    read right after each operation: the status store keeps only the last
    1000 jobs and stages."""

    enabled = True

    def __init__(self, t0: float):
        self.t0 = t0
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.sc = None

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        rec = {"name": name, "start": time.perf_counter() - self.t0, "end": None,
               "parent": self._stack[-1] if self._stack else None, **attrs}
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter() - self.t0

    def group(self, gid: str) -> None:
        self.sc.setJobGroup(gid, gid)

    def counters(self, gid: str) -> dict:
        st = self.sc.statusTracker()
        store = self.sc._jsc.sc().statusStore()
        out = dict.fromkeys(COUNTERS, 0)
        for jid in st.getJobIdsForGroup(gid):
            info = st.getJobInfo(jid)
            if info is None:
                continue
            out["jobs"] += 1
            for sid in info.stageIds:
                try:
                    s = store.lastStageAttempt(sid)
                except Exception:  # evicted or never submitted
                    continue
                if s.status().toString() == "SKIPPED":
                    continue
                out["stages"] += 1
                out["tasks"] += s.numTasks()
                out["failed_tasks"] += s.numFailedTasks()
                out["executor_run_s"] += s.executorRunTime() / 1e3
                out["executor_cpu_s"] += s.executorCpuTime() / 1e9
                out["gc_s"] += s.jvmGcTime() / 1e3
                out["shuffle_write_bytes"] += s.shuffleWriteBytes()
                out["spill_bytes"] += s.memoryBytesSpilled() + s.diskBytesSpilled()
        return out


def catalyst_ms(df) -> dict:
    """Analysis / optimization / planning wall ms from the query-execution
    tracker of a DataFrame that has run an action."""
    out = {"analysis": 0, "optimization": 0, "planning": 0}
    it = df._jdf.queryExecution().tracker().phases().iterator()
    while it.hasNext():
        kv = it.next()
        if kv._1() in out:
            out[kv._1()] = kv._2().durationMs()
    return out
