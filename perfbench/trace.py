"""Tracing helpers for the benchmark's traced run (``--trace 1``).

Nothing here is installed by an untraced run. The pieces:

* :class:`Tracer` keeps spans in memory (name, start, end, parent, run id)
  and writes them out once, at exit. Each span gets its own Spark job group,
  so the jobs, stages and tasks it launched are read from the status tracker
  when it ends.
* :func:`self_times` subtracts from each span the part of its interval that
  its children cover.
* :class:`CountingIO` wraps a ``CommitIO`` and counts calls, milliseconds and
  bytes per metadata operation.
* :class:`ProgressRecorder` is a ``StreamingQueryListener`` that keeps every
  micro-batch progress report of the tail queries.
"""

from __future__ import annotations

import json
import time
import uuid
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

from pyspark.sql.streaming import StreamingQueryListener

from kafka_connect_dynamodb_spark.lake.commitio import CommitConflict, CommitIO


@dataclass
class Span:
    span_id: int
    name: str
    start: float
    end: float | None
    parent: int | None
    run_id: str
    attrs: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return (self.end if self.end is not None else self.start) - self.start


def _covered(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of ``intervals``."""
    total, cur_start, cur_end = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_end is None or s > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = s, e
        else:
            cur_end = max(cur_end, e)
    if cur_end is not None:
        total += cur_end - cur_start
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id -> its duration minus the time its direct children cover
    (clipped to the parent's interval, overlapping children counted once)."""
    children: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)
    out = {}
    for s in spans:
        end = s.end if s.end is not None else s.start
        kids = [(max(c.start, s.start), min(c.end, end))
                for c in children.get(s.span_id, []) if c.end is not None]
        kids = [(a, b) for a, b in kids if b > a]
        out[s.span_id] = s.duration - _covered(kids)
    return out


class Tracer:
    """In-memory span recorder. ``span`` is a context manager; spans nest by
    the order they are opened on the calling thread."""

    def __init__(self, spark=None):
        self.spark = spark
        self.run_id = uuid.uuid4().hex[:12]
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    @contextmanager
    def span(self, name: str, **attrs):
        parent = self._stack[-1].span_id if self._stack else None
        s = Span(len(self.spans), name, time.perf_counter(), None, parent,
                 self.run_id, dict(attrs))
        self.spans.append(s)
        self._stack.append(s)
        sc = self.spark.sparkContext if self.spark is not None else None
        group = f"{self.run_id}-{s.span_id}"
        if sc is not None:
            prev_group = sc.getLocalProperty("spark.jobGroup.id")
            sc.setJobGroup(group, name)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            if sc is not None:
                s.attrs.update(job_counts(sc, group))
                if prev_group is None:
                    sc.setLocalProperty("spark.jobGroup.id", None)
                    sc.setLocalProperty("spark.job.description", None)
                else:
                    sc.setJobGroup(prev_group, self._stack[-1].name
                                   if self._stack else prev_group)

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def dump(self, path: str) -> None:
        selfs = self_times(self.spans)
        with open(path, "w") as fh:
            for s in self.spans:
                rec = asdict(s)
                rec["self_s"] = selfs[s.span_id]
                fh.write(json.dumps(rec, default=str) + "\n")


def job_counts(sc, group: str) -> dict[str, int]:
    """Jobs, stages, tasks and failed tasks the status tracker holds for a
    job group."""
    st = sc.statusTracker()
    jobs = stages = tasks = failed = 0
    for jid in st.getJobIdsForGroup(group):
        info = st.getJobInfo(jid)
        jobs += 1
        if info is None:
            continue
        for sid in info.stageIds:
            stage = st.getStageInfo(sid)
            stages += 1
            if stage is not None:
                tasks += stage.numTasks
                failed += stage.numFailedTasks
    return {"jobs": jobs, "stages": stages, "tasks": tasks, "failed_tasks": failed}


class CountingIO(CommitIO):
    """CommitIO wrapper counting calls, time and bytes per operation."""

    def __init__(self, inner: CommitIO):
        self.inner = inner
        self.calls: dict[str, int] = {}
        self.ms: dict[str, float] = {}
        self.read_bytes = 0
        self.conflicts = 0

    def snapshot(self) -> dict:
        return {"calls": dict(self.calls), "ms": dict(self.ms),
                "read_bytes": self.read_bytes, "conflicts": self.conflicts}

    def diff(self, before: dict) -> dict:
        """Counters accumulated since ``before`` (a :meth:`snapshot`)."""
        now = self.snapshot()
        return {"calls": {k: v - before["calls"].get(k, 0)
                          for k, v in now["calls"].items()},
                "ms": {k: v - before["ms"].get(k, 0.0) for k, v in now["ms"].items()},
                "read_bytes": now["read_bytes"] - before["read_bytes"],
                "conflicts": now["conflicts"] - before["conflicts"]}

    def _timed(self, op: str, fn, *args):
        t = time.perf_counter()
        try:
            return fn(*args)
        finally:
            self.calls[op] = self.calls.get(op, 0) + 1
            self.ms[op] = self.ms.get(op, 0.0) + (time.perf_counter() - t) * 1e3

    def put_if_absent(self, path, payload):
        try:
            return self._timed("put_if_absent", self.inner.put_if_absent, path, payload)
        except CommitConflict:
            self.conflicts += 1
            raise

    def read_text(self, path):
        text = self._timed("read_text", self.inner.read_text, path)
        self.read_bytes += len(text.encode())
        return text

    def list_dir(self, path):
        return self._timed("list_dir", self.inner.list_dir, path)

    def is_dir(self, path):
        return self._timed("is_dir", self.inner.is_dir, path)

    def delete_file(self, path):
        return self._timed("delete_file", self.inner.delete_file, path)

    def walk_files(self, root):
        return self.inner.walk_files(root)

    def file_mtime(self, path):
        return self.inner.file_mtime(path)

    def remove_dir_if_empty(self, path):
        return self._timed("remove_dir_if_empty", self.inner.remove_dir_if_empty, path)

    def move_dir(self, src, dst):
        return self._timed("move_dir", self.inner.move_dir, src, dst)

    def remove_tree(self, path):
        return self._timed("remove_tree", self.inner.remove_tree, path)

    def ensure_dir(self, path):
        return self._timed("ensure_dir", self.inner.ensure_dir, path)


class ProgressRecorder(StreamingQueryListener):
    """Keeps the ``durationMs`` breakdown of every micro-batch progress."""

    def __init__(self):
        self.progress: list[dict] = []

    def onQueryStarted(self, event):
        pass

    def onQueryProgress(self, event):
        p = event.progress
        self.progress.append({"run_id": str(p.runId), "batch_id": p.batchId,
                              "rows": p.numInputRows,
                              "duration_ms": dict(p.durationMs)})

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        pass
