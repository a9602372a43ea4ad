"""In-memory spans, runtime wrappers and the Spark status-store reader.

Spans live in a list and are written out once, at the end of a run.
The wrappers are installed at runtime around eager public calls of the
package; no package file is edited.  Spark stages read from the status
store become child spans of the innermost span that covers their start,
so a span's self time is its duration minus what its children cover.
"""

from __future__ import annotations

import functools
import itertools
import json
import threading
import time
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    thread: str = ""
    attrs: dict = field(default_factory=dict)


class Tracer:
    """Records spans.  Top-level workload phases are always recorded
    (they give the end-to-end times); the traced pass adds the wrapper
    spans (``wrap``) and the stage spans (``add_stages``)."""

    def __init__(self):
        # time spent recording the spans only a traced pass has (those
        # that are not workload phases): the cost tracing adds
        self.overhead_s = 0.0
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        self._phase: int | None = None  # parent for pool-thread spans

    def _stack(self) -> list[Span]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def span(self, name: str, phase: bool = False, **attrs):
        return _SpanCtx(self, name, phase, attrs)

    def _open(self, name: str, phase: bool, attrs: dict) -> Span:
        t = time.perf_counter()
        stack = self._stack()
        parent = stack[-1].id if stack else self._phase
        s = Span(next(self._ids), name, time.time(), parent=parent,
                 thread=threading.current_thread().name, attrs=attrs)
        with self._lock:
            self.spans.append(s)
        stack.append(s)
        if phase:
            self._prev_phase = self._phase
            self._phase = s.id
        else:
            self._charge(t)
        return s

    def _close(self, s: Span, phase: bool) -> None:
        t = time.perf_counter()
        s.end = time.time()
        self._stack().pop()
        if phase:
            self._phase = self._prev_phase
        else:
            self._charge(t)

    def _charge(self, t0: float) -> None:
        with self._lock:
            self.overhead_s += time.perf_counter() - t0

    def wrap(self, owner, attr: str, name: str, label=None) -> None:
        """Replace ``owner.attr`` with a spanned call of the original."""
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def wrapped(*a, **kw):
            attrs = label(*a) if label else {}
            with tracer.span(name, **attrs):
                return orig(*a, **kw)
        setattr(owner, attr, wrapped)

    def add_stages(self, stages: list[dict]) -> None:
        """Attach stage intervals as child spans of the innermost
        (latest-starting) span whose interval covers the stage start."""
        for st in stages:
            covering = [s for s in self.spans
                        if s.name != "spark.stage" and
                        s.start <= st["start"] <= s.end]
            parent = max(covering, key=lambda s: s.start).id \
                if covering else None
            self.spans.append(Span(
                next(self._ids), "spark.stage", st["start"], st["end"],
                parent=parent, thread="spark",
                attrs={k: v for k, v in st.items()
                       if k not in ("start", "end")}))

    def self_times(self) -> dict[str, float]:
        """Summed self time per span name (run_round[3] → run_round)."""
        kids: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                kids.setdefault(s.parent, []).append(s)
        out: dict[str, float] = {}
        for s in self.spans:
            covered = union_length(
                [(max(c.start, s.start), min(c.end, s.end))
                 for c in kids.get(s.id, [])])
            fam = s.name.split("[")[0]
            out[fam] = out.get(fam, 0.0) + max(
                0.0, (s.end - s.start) - covered)
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([asdict(s) for s in self.spans], f)


class _SpanCtx:
    def __init__(self, tracer: Tracer, name: str, phase: bool,
                 attrs: dict):
        self.t, self.name, self.phase, self.attrs = (tracer, name, phase,
                                                     attrs)

    def __enter__(self) -> Span:
        self.s = self.t._open(self.name, self.phase, self.attrs)
        return self.s

    def __exit__(self, *exc) -> None:
        self.t._close(self.s, self.phase)


def union_length(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(i for i in intervals if i[1] > i[0]):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


# ---- Spark status store -------------------------------------------------

def _opt_ms(opt) -> float | None:
    return opt.get().getTime() / 1000.0 if opt.isDefined() else None


class StatusStore:
    """Jobs and stages of the running application, read in-process from
    ``AppStatusStore`` (works with ``spark.ui.enabled=false``).  Jobs are
    selected by submission time, not job group, so jobs submitted from
    other threads (the round's commit pool) are counted too."""

    SUMMARY_KEYS = ("jobs", "stages", "tasks", "task_s",
                    "shuffle_read_bytes", "shuffle_write_bytes",
                    "spill_bytes", "no_stage_s")

    def __init__(self, spark):
        self._sc = spark.sparkContext
        self._store = self._sc._jsc.sc().statusStore()

    def jobs(self, t0: float, t1: float) -> list[dict]:
        out = []
        it = self._store.jobsList(None).iterator()
        while it.hasNext():
            j = it.next()
            sub = _opt_ms(j.submissionTime())
            if sub is not None and t0 <= sub <= t1:
                g = j.jobGroup()
                out.append({"id": j.jobId(), "start": sub,
                            "end": _opt_ms(j.completionTime()) or t1,
                            "group": g.get() if g.isDefined() else ""})
        return out

    def stages(self, t0: float, t1: float) -> list[dict]:
        """Completed stages whose submission falls in [t0, t1]."""
        gw = self._sc._gateway
        lst = self._store.stageList(gw.jvm.java.util.ArrayList(), False,
                                    False, gw.new_array(gw.jvm.double, 0),
                                    gw.jvm.java.util.ArrayList())
        out = []
        it = lst.iterator()
        while it.hasNext():
            s = it.next()
            sub = _opt_ms(s.submissionTime())
            if sub is None or not t0 <= sub <= t1:
                continue
            end = _opt_ms(s.completionTime()) or t1
            out.append({
                "start": sub, "end": end, "stage": s.stageId(),
                "tasks": s.numTasks(),
                "task_s": s.executorRunTime() / 1000.0,
                "shuffle_read_bytes": s.shuffleReadBytes(),
                "shuffle_write_bytes": s.shuffleWriteBytes(),
                "spill_bytes": s.memoryBytesSpilled() +
                s.diskBytesSpilled()})
        return out

    def summary(self, t0: float, t1: float) -> dict:
        """Jobs, stages, tasks, task time, shuffle, spill and the wall
        time in [t0, t1] with no stage running."""
        stages = self.stages(t0, t1)
        busy = union_length([(max(s["start"], t0), min(s["end"], t1))
                             for s in stages])
        return {
            "jobs": len(self.jobs(t0, t1)),
            "stages": len(stages),
            "tasks": sum(s["tasks"] for s in stages),
            "task_s": sum(s["task_s"] for s in stages),
            "shuffle_read_bytes": sum(s["shuffle_read_bytes"]
                                      for s in stages),
            "shuffle_write_bytes": sum(s["shuffle_write_bytes"]
                                       for s in stages),
            "spill_bytes": sum(s["spill_bytes"] for s in stages),
            "no_stage_s": max(0.0, (t1 - t0) - busy),
        }


def install_wrappers(tracer: Tracer) -> None:
    """Span the eager public calls a round, compaction and ingest make.
    Lazy DataFrame builders are left alone: their calls only build a
    query plan."""
    from open_source_search_engine_spark.operators import budget
    from open_source_search_engine_spark.plans import compaction
    from open_source_search_engine_spark.sources.snapstore import (
        SnapshotTable,
    )

    def table(self, *_a):
        import os
        return {"table": os.path.basename(self.path)}

    for m in ("append", "overwrite", "append_rows", "read_parts"):
        tracer.wrap(SnapshotTable, m, f"sources.snapshot.{m}", table)
    for f in ("budget_select", "stamp_global_seq"):
        tracer.wrap(budget, f, f"operators.{f}")
    for f in ("compact_requests", "compact_replies", "compact_inlinks"):
        tracer.wrap(compaction, f, f"plans.compaction.{f}")
