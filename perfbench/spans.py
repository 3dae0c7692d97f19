"""Spans around the engine's public entry points, recorded from outside.

Nothing under ``getl_spark/`` is changed: :class:`Tracer` replaces the
listed class attributes with timing wrappers for the life of one run and
puts the originals back in :meth:`Tracer.uninstall`.

Two modes:

- untraced (the end-to-end run): only ``CDCPipeline.apply_epoch`` is
  wrapped, with two clock reads, so epoch latency is measured the same
  way for batch replay and for the streaming tailer.
- traced: every entry point in ``TRACED`` gets a span, and each span
  runs its Spark jobs under its own job group. Spark evaluates lazily,
  so a span owns every job its call triggers, upstream work included:
  MOR's ``LakeTable.append`` owns the winner join feeding the delta
  write, and ``MergeBuilder.execute`` owns the source side of the merge.
  Per-group job and stage figures come from Spark's in-process status
  store, which is populated with the UI disabled.
"""

from __future__ import annotations

import functools
import threading
import time
from dataclasses import dataclass, field

from py4j.protocol import Py4JJavaError

from getl_spark.checkpoint import CheckpointManager
from getl_spark.lake.merge import MergeBuilder
from getl_spark.lake.table import LakeTable
from getl_spark.lineage import LineageRecorder
from getl_spark.pipeline import CDCPipeline

GROUP_PREFIX = "perfbench-"
_GROUP_KEY = "spark.jobGroup.id"


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    epoch: int | None
    start: float
    end: float = 0.0
    group: str | None = None
    attrs: dict = field(default_factory=dict)


def _epoch_arg(args, kwargs):
    return int(kwargs["epoch"] if "epoch" in kwargs else args[2])


def _epoch_attrs(res) -> dict:
    return {"events": int(res.events), "applied": bool(res.applied)}


def _append_attrs(snap) -> dict:
    return {"files_added": int(snap["summary"].get("added_files", 0))}


# (span name, class, attribute, epoch-of-call, attrs-of-result)
EPOCH = ("pipeline.apply_epoch", CDCPipeline, "apply_epoch", _epoch_arg, _epoch_attrs)
TRACED = (
    EPOCH,
    ("lake.merge", MergeBuilder, "execute", None, None),
    ("lake.table.append", LakeTable, "append", None, _append_attrs),
    ("lake.table.expire", LakeTable, "expire_snapshots", None, None),
    ("lake.table.compact", CDCPipeline, "compact", None, None),
    ("lineage.write", LineageRecorder, "write", None, None),
    ("checkpoint.save", CheckpointManager, "save", None, None),
    ("pipeline.state", CDCPipeline, "state", None, None),
)


class Tracer:
    """Records spans in memory; hooks run after each epoch span closes.

    ``after_epoch`` callbacks receive the closed epoch span. Their run
    time is kept on the span as ``hook_s`` and summed in ``harness_s``,
    so the harness's own bookkeeping can be taken out of wall times.
    """

    def __init__(self, spark, traced: bool):
        self.sc = spark.sparkContext
        self.traced = traced
        self.spans: list[Span] = []
        self.after_epoch: list = []
        self.harness_s = 0.0
        self._local = threading.local()
        self._saved: list = []

    # ------------------------------------------------------------ install
    def install(self) -> None:
        for name, cls, attr, epoch_of, attrs_of in TRACED if self.traced else (EPOCH,):
            orig = cls.__dict__[attr]
            self._saved.append((cls, attr, orig))
            setattr(cls, attr, self._wrap(name, orig, epoch_of, attrs_of))

    def uninstall(self) -> None:
        for cls, attr, orig in reversed(self._saved):
            setattr(cls, attr, orig)
        self._saved.clear()

    def _stack(self) -> list:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def _wrap(self, name, fn, epoch_of, attrs_of):
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            stack = tracer._stack()
            parent = stack[-1] if stack else None
            if epoch_of is not None:
                epoch = epoch_of(args, kwargs)
            else:
                epoch = parent.epoch if parent is not None else None
            span = tracer.open(name, epoch, parent)
            try:
                out = fn(*args, **kwargs)
                if attrs_of is not None:
                    span.attrs.update(attrs_of(out))
                return out
            finally:
                tracer.close(span)
                if name == EPOCH[0]:
                    t0 = time.monotonic()
                    for hook in tracer.after_epoch:
                        hook(span)
                    span.attrs["hook_s"] = time.monotonic() - t0
                    tracer.harness_s += span.attrs["hook_s"]

        return wrapper

    # -------------------------------------------------------------- spans
    def open(self, name: str, epoch=None, parent: Span | None = None) -> Span:
        """Start a span (also used by the harness for its own reads)."""
        stack = self._stack()
        if parent is None and stack:
            parent = stack[-1]
        span = Span(len(self.spans), name, parent.id if parent else None, epoch, 0.0)
        self.spans.append(span)
        stack.append(span)
        if self.traced:
            jsc = self.sc._jsc
            span.attrs["_prev_group"] = jsc.getLocalProperty(_GROUP_KEY)
            span.group = f"{GROUP_PREFIX}{span.id}"
            jsc.setLocalProperty(_GROUP_KEY, span.group)
        span.start = time.time()
        return span

    def close(self, span: Span) -> None:
        span.end = time.time()
        self._stack().pop()
        if self.traced:
            self.sc._jsc.setLocalProperty(_GROUP_KEY, span.attrs.pop("_prev_group"))

    # -------------------------------------------------------- spark jobs
    def spark_jobs(self, groups: set) -> tuple[list, dict]:
        """Jobs of the given job groups and the stages they ran, read
        from the status store once every queued listener event landed.

        Returns (jobs, stages): jobs as dicts with ``job_id``, ``group``,
        ``stage_ids``, ``start`` and ``end`` (epoch seconds); stages as
        id -> figures of the stage's last attempt.
        """
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty(60_000)
        store = jsc.statusStore()
        jobs = []
        it = store.jobsList(None).iterator()
        while it.hasNext():
            j = it.next()
            g = j.jobGroup()
            if not g.isDefined() or g.get() not in groups:
                continue
            sids = j.stageIds().iterator()
            stage_ids = []
            while sids.hasNext():
                stage_ids.append(int(sids.next()))
            sub, done = j.submissionTime(), j.completionTime()
            jobs.append({
                "job_id": int(j.jobId()),
                "group": g.get(),
                "stage_ids": stage_ids,
                "start": sub.get().getTime() / 1000.0 if sub.isDefined() else None,
                "end": done.get().getTime() / 1000.0 if done.isDefined() else None,
            })
        stages = {}
        for sid in {s for j in jobs for s in j["stage_ids"]}:
            try:
                sd = store.lastStageAttempt(sid)
            except Py4JJavaError:  # listed by a job but never submitted
                continue
            if sd.status().toString() != "COMPLETE":
                continue
            stages[sid] = {
                "tasks": int(sd.numTasks()),
                "task_ms": int(sd.executorRunTime()),
                "gc_ms": int(sd.jvmGcTime()),
                "shuffle_write_bytes": int(sd.shuffleWriteBytes()),
                "output_bytes": int(sd.outputBytes()),
            }
        return jobs, stages
