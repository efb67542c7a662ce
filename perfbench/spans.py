"""Spans around the benchmark's calls into the engine, and the Spark-side
numbers attributed to them.

A span records name, start, end, parent and op id. While a span is open the
benchmark sets a Spark job group unique to it, so every job Spark runs inside
the call is attributed to the innermost open span. After the measured
window, ``resolve`` reads each span's jobs and stages from Spark's status
store, and Catalyst phase times from a query-execution listener, and keeps
them on the span. Nothing inside the engine is changed.

A disabled tracer records nothing and sets no job group: untraced runs pay
only an empty ``with`` block per call. The listener is registered only while
a traced operation runs, so untraced operations of a traced run do not pay
for it either.
"""

from __future__ import annotations

import itertools
import threading
import time
from contextlib import contextmanager

JOB_GROUP = "spark.jobGroup.id"
CATALYST_PHASES = ("analysis", "optimization", "planning")


class _QueryListener:
    """``QueryExecutionListener`` served over py4j: keeps the start time and
    the summed Catalyst phase times of each finished query execution."""

    def __init__(self) -> None:
        self.events: list[tuple[float, float]] = []  # (start epoch s, ms)

    def onSuccess(self, func_name, qe, duration_ns):  # noqa: N802 - Java name
        self._record(qe)

    def onFailure(self, func_name, qe, exception):  # noqa: N802 - Java name
        self._record(qe)

    def _record(self, qe) -> None:
        phases = qe.tracker().phases()
        start, total = None, 0.0
        for name in CATALYST_PHASES:
            found = phases.get(name)
            if found.isDefined():
                ph = found.get()
                total += ph.durationMs()
                start = ph.startTimeMs() if start is None else min(start, ph.startTimeMs())
        if start is not None:
            self.events.append((start / 1000.0, total))

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]


class Tracer:
    def __init__(self, spark, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._sc = spark.sparkContext
        self._ids = itertools.count()
        self._local = threading.local()
        self._listener = _QueryListener()
        self._watched: dict[str, object] = {}  # session uuid -> listener manager
        if enabled:
            from pyspark.java_gateway import ensure_callback_server_started

            ensure_callback_server_started(self._sc._gateway)

    def watch(self, session) -> None:
        """Record Catalyst phases of queries run in ``session`` until the
        next top-level span closes. A streaming query runs its batches in a
        clone of the session it was started from, and query listeners are
        per session."""
        if not self.enabled:
            return
        jsession = session._jsparkSession
        uuid = jsession.sessionUUID()
        if uuid not in self._watched:
            manager = jsession.listenerManager()
            manager.register(self._listener)
            self._watched[uuid] = manager

    @contextmanager
    def span(self, name: str, op=None):
        if not self.enabled:
            yield
            return
        stack = self._local.__dict__.setdefault("stack", [])
        parent = stack[-1] if stack else None
        sid = next(self._ids)
        rec = {
            "id": sid,
            "name": name,
            "op": op if op is not None or parent is None else parent["op"],
            "parent": parent["id"] if parent else None,
            "group": f"perfbench-span-{sid}",
        }
        prev_group = self._sc.getLocalProperty(JOB_GROUP)
        self._sc.setLocalProperty(JOB_GROUP, rec["group"])
        self.spans.append(rec)
        stack.append(rec)
        rec["start"] = time.time()
        try:
            yield
        finally:
            rec["end"] = time.time()
            stack.pop()
            self._sc.setLocalProperty(JOB_GROUP, prev_group)
            if not stack:
                self.close()

    def close(self) -> None:
        """Deliver the pending listener events, then unregister."""
        if self._watched:
            self._sc._jsc.sc().listenerBus().waitUntilEmpty()
        for manager in self._watched.values():
            manager.unregister(self._listener)
        self._watched.clear()

    def resolve(self) -> None:
        """Attach jobs, stage metrics and Catalyst time to every span."""
        if not self.enabled:
            return
        jsc = self._sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        status = self._sc.statusTracker()
        events = sorted(self._listener.events)
        for rec in self.spans:
            rec["catalyst_ms"] = sum(
                ms for start, ms in events if rec["start"] <= start <= rec["end"]
            )
            rec["jobs"] = status.getJobIdsForGroup(rec["group"])
            rec["stages"] = []
            for jid in rec["jobs"]:
                info = status.getJobInfo(jid)
                for sid in info.stageIds if info else ():
                    st = _stage(store, sid)
                    if st is not None:
                        rec["stages"].append(st)
        self.close()


def _stage(store, stage_id: int) -> dict | None:
    from py4j.protocol import Py4JJavaError

    try:
        sd = store.lastStageAttempt(stage_id)
    except Py4JJavaError:  # evicted from the status store
        return None
    if sd.status().toString() == "SKIPPED":
        return {"id": stage_id, "skipped": True}

    def epoch(opt):
        return opt.get().getTime() / 1000.0 if opt.isDefined() else None

    return {
        "id": stage_id,
        "skipped": False,
        "tasks": sd.numTasks(),
        "run_ms": sd.executorRunTime(),
        "cpu_ms": sd.executorCpuTime() / 1e6,
        "gc_ms": sd.jvmGcTime(),
        "shuffle_read_bytes": sd.shuffleReadBytes(),
        "shuffle_write_bytes": sd.shuffleWriteBytes(),
        "spill_bytes": sd.memoryBytesSpilled() + sd.diskBytesSpilled(),
        "submitted": epoch(sd.submissionTime()),
        "completed": epoch(sd.completionTime()),
    }


def _union_s(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, None
    for a, b in sorted(intervals):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


def exec_metrics(tracer: Tracer, build: tuple[str, ...], actions: tuple[str, ...]) -> dict:
    """Roll the resolved spans up into the build, Catalyst and executor
    layers. ``build`` names the spans that construct a plan, ``actions`` the
    spans that execute one; job overhead is an action's wall time minus its
    Catalyst time minus the time some stage of it was running."""
    m = dict.fromkeys(
        ("build.ms", "build.jobs", "catalyst.ms", "exec.jobs", "exec.stages",
         "exec.tasks", "exec.job_overhead_ms", "exec.run_ms", "exec.cpu_ms",
         "exec.gc_ms", "exec.shuffle_read_bytes", "exec.shuffle_write_bytes",
         "exec.spill_bytes"), 0.0)
    for rec in tracer.spans:
        wall_s = rec["end"] - rec["start"]
        if rec["name"] in build:
            m["build.ms"] += wall_s * 1000
            m["build.jobs"] += len(rec["jobs"])
        ran = [s for s in rec["stages"] if not s["skipped"]]
        if rec["name"] in actions:
            m["catalyst.ms"] += rec["catalyst_ms"]
            busy = _union_s([
                (max(s["submitted"], rec["start"]), min(s["completed"], rec["end"]))
                for s in ran if s["submitted"] and s["completed"]
            ])
            m["exec.job_overhead_ms"] += max(
                0.0, (wall_s - busy) * 1000 - rec["catalyst_ms"])
        m["exec.jobs"] += len(rec["jobs"])
        m["exec.stages"] += len(ran)
        for s in ran:
            m["exec.tasks"] += s["tasks"]
            m["exec.run_ms"] += s["run_ms"]
            m["exec.cpu_ms"] += s["cpu_ms"]
            m["exec.gc_ms"] += s["gc_ms"]
            m["exec.shuffle_read_bytes"] += s["shuffle_read_bytes"]
            m["exec.shuffle_write_bytes"] += s["shuffle_write_bytes"]
            m["exec.spill_bytes"] += s["spill_bytes"]
    m["exec.cpu_share"] = m["exec.cpu_ms"] / m["exec.run_ms"] if m["exec.run_ms"] else 0.0
    return m


def span_sum_ms(tracer: Tracer, name: str) -> float:
    return sum((s["end"] - s["start"]) * 1000 for s in tracer.spans if s["name"] == name)
