"""Spans for the traced run, recorded from outside the program.

Every span has a name, a start and an end in epoch milliseconds, and the id
of the op it belongs to. Sources:

* wall time around the registry call (``plans.construct``) and around the
  action on the DataFrame it returns (``plans.action``);
* Spark jobs and stages, read from the application status store after each op;
* streaming epochs and their phases, from a ``StreamingQueryListener``.

A span's parent is the innermost span of the same op whose interval contains
it. Self time is a span's duration minus the part of it its children cover.
"""

from __future__ import annotations

import threading
import time
from dataclasses import dataclass, field

# Nesting order: a span's parent is sought among spans of a lower level.
LEVEL = {
    "op": 0,
    "plans.construct": 1,
    "plans.action": 1,
    "streaming.epoch": 2,
    "spark.job": 3,
    "spark.stage": 4,
}
PHASE_LEVEL = 2.5  # streaming.<phase> spans sit under their epoch; nothing sits under them
# The order in which a micro-batch runs its phases; the progress event gives
# only their durations, so phase spans are laid end to end in this order.
EPOCH_PHASES = ("latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch", "commitOffsets")
SLACK_MS = 2.0  # the status store keeps millisecond timestamps


@dataclass
class Span:
    name: str
    start: float  # epoch ms
    end: float
    op: int
    attrs: dict = field(default_factory=dict)
    id: int = 0
    parent: int | None = None

    @property
    def dur(self) -> float:
        return self.end - self.start


def level(span: Span) -> float:
    return LEVEL.get(span.name, PHASE_LEVEL)


def assign_parents(spans: list[Span]) -> None:
    """Number the spans and set each one's parent to its innermost container.

    Stages go under the job that ran them when the job is known; phases go
    under their epoch (``attrs["epoch"]``).
    """
    for i, s in enumerate(spans):
        s.id = i
    jobs = {(s.op, s.attrs["job_id"]): s for s in spans if s.name == "spark.job"}
    epochs = {(s.op, s.attrs["epoch"]): s for s in spans if s.name == "streaming.epoch"}
    by_op: dict[int, list[Span]] = {}
    for s in spans:
        if level(s) != PHASE_LEVEL:
            by_op.setdefault(s.op, []).append(s)
    for s in spans:
        if s.name == "spark.stage" and (s.op, s.attrs.get("job_id")) in jobs:
            s.parent = jobs[(s.op, s.attrs["job_id"])].id
            continue
        if level(s) == PHASE_LEVEL and (s.op, s.attrs.get("epoch")) in epochs:
            s.parent = epochs[(s.op, s.attrs["epoch"])].id
            continue
        best = None
        for c in by_op.get(s.op, ()):
            if (
                level(c) < level(s)
                and c.start - SLACK_MS <= s.start and s.end <= c.end + SLACK_MS
                and (best is None or level(c) > level(best))
            ):
                best = c
        s.parent = None if best is None else best.id


def union_ms(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    covered, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                covered += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        covered += cur_e - cur_s
    return covered


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id -> duration minus the union of its children's intervals (ms)."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append((s.start, s.end))
    return {s.id: s.dur - union_ms(kids.get(s.id, []), s.start, s.end) for s in spans}


def _ms(opt_date) -> float | None:
    """scala.Option[java.util.Date] -> epoch ms."""
    return float(opt_date.get().getTime()) if opt_date.isDefined() else None


class StatusStoreReader:
    """Reads the jobs and stages an op ran, right after the op.

    The store keeps only the newest ``spark.ui.retainedJobs`` jobs (1,000 by
    default), so it is read after every op rather than at the end of the run.
    """

    def __init__(self, spark):
        self._sc = spark.sparkContext._jsc.sc()
        self._gw = spark.sparkContext._gateway
        self._last_job = -1

    def _store(self):
        return self._sc.statusStore()

    def _max_job_id(self) -> int:
        jobs = self._store().jobsList(None)
        return jobs.apply(0).jobId() if jobs.size() else -1

    def skip_to_now(self) -> None:
        """Let the next read return only jobs started after this call."""
        self.drain()
        self._last_job = self._max_job_id()

    def drain(self) -> None:
        """Wait until the listener bus has delivered every event so far."""
        self._sc.listenerBus().waitUntilEmpty()

    def read_new(self, op: int) -> list[Span]:
        """Job and stage spans of every job started since the last read.

        The store lists jobs and stages newest first, so each scan stops at
        the first one already seen.
        """
        store = self._store()
        jobs = store.jobsList(None)
        spans: list[Span] = []
        stage_job: dict[int, int] = {}
        for i in range(jobs.size()):
            j = jobs.apply(i)
            jid = j.jobId()
            if jid <= self._last_job:
                break
            start, end = _ms(j.submissionTime()), _ms(j.completionTime())
            if start is None or end is None:
                continue
            ids = j.stageIds()
            for k in range(ids.size()):
                stage_job[ids.apply(k)] = jid
            spans.append(Span("spark.job", start, end, op, {"job_id": jid, "tasks": j.numTasks()}))
        if not spans:
            return spans
        self._last_job = max(s.attrs["job_id"] for s in spans)
        oldest = min(stage_job)
        stages = store.stageList(None, False, False, self._gw.new_array(self._gw.jvm.double, 0), None)
        for i in range(stages.size()):
            st = stages.apply(i)
            sid = st.stageId()
            if sid < oldest:
                break
            jid = stage_job.get(sid)
            start, end = _ms(st.submissionTime()), _ms(st.completionTime())
            if jid is None or start is None or end is None or st.numTasks() == 0:
                continue
            spans.append(Span("spark.stage", start, end, op, {
                "job_id": jid,
                "stage_id": sid,
                "attempt": st.attemptId(),
                "tasks": st.numCompleteTasks(),
                "run_ms": st.executorRunTime(),
                "cpu_ns": st.executorCpuTime(),
                "gc_ms": st.jvmGcTime(),
                "input_bytes": st.inputBytes(),
                "input_records": st.inputRecords(),
                "output_bytes": st.outputBytes(),
                "output_records": st.outputRecords(),
                "shuffle_read_bytes": st.shuffleReadBytes(),
                "shuffle_write_bytes": st.shuffleWriteBytes(),
                "spill_bytes": st.memoryBytesSpilled() + st.diskBytesSpilled(),
            }))
        return spans


def make_listener(events: list, lock: threading.Lock):
    """A ``StreamingQueryListener`` that appends each progress event to ``events``."""
    from pyspark.sql.streaming import StreamingQueryListener

    class ProgressRecorder(StreamingQueryListener):
        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            p = event.progress
            rec = {
                "received": time.time() * 1000,
                "query": str(p.id),
                "batch": p.batchId,
                "timestamp": p.timestamp,
                "duration_ms": dict(p.durationMs),
                "input_rows": p.numInputRows,
            }
            with lock:
                events.append(rec)

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    return ProgressRecorder()


def epoch_spans(events: list[dict], op: int) -> list[Span]:
    """An epoch span per progress event, with its phases laid end to end."""
    from datetime import datetime

    spans = []
    for ev in events:
        start = datetime.fromisoformat(ev["timestamp"].replace("Z", "+00:00")).timestamp() * 1000
        d = ev["duration_ms"]
        key = f'{ev["query"]}:{ev["batch"]}'
        spans.append(Span("streaming.epoch", start, start + d.get("triggerExecution", 0), op,
                          {"epoch": key, "input_rows": ev["input_rows"]}))
        t = start
        for phase in EPOCH_PHASES:
            if phase in d:
                spans.append(Span(f"streaming.{phase}", t, t + d[phase], op, {"epoch": key}))
                t += d[phase]
    return spans
