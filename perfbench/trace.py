"""Spans recorded from outside the program, around public calls into its
layers.

A span is (name, start, end, parent). When it is bound to a live Spark
context, a span also owns a Spark job group: the jobs its call triggered
are read back through ``statusTracker()``, and each job's stages through
``statusStore().lastStageAttempt(stage_id)`` (works with the UI disabled).
Each stage is attributed once, to the first span that finishes after it
ran, so a shuffle stage reused by a later job is not counted twice.

Spans are kept in memory and written out once, when the run ends. Self
time is a span's duration minus the part of it its children cover.
"""

from __future__ import annotations

import functools
import json
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

from py4j.protocol import Py4JJavaError

# Public methods of SnapshotTable / BucketedSnapshotTable, by span category.
TABLE_METHODS = {
    "snapshot.commit_upsert": ("commit_upsert",),
    "snapshot.append": ("append",),
    "snapshot.commit": ("commit", "compact", "expire_older_than"),
    "snapshot.read": ("read", "read_buckets"),
    "snapshot.meta": ("manifest", "versions", "latest_version", "latest_meta",
                      "row_count_estimate", "rollback_newer_than",
                      "data_file_count"),
}
# categories whose calls never start a Spark job (pure manifest / footer I/O)
NO_JOB_CATEGORIES = {"snapshot.meta"}


@dataclass(eq=False)
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    group: str | None = None
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    busy_ms: int = 0
    gc_ms: int = 0
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0
    output_bytes: int = 0
    attrs: dict = field(default_factory=dict)

    @property
    def wall(self) -> float:
        return self.end - self.start


class Tracer:
    """Collects spans. ``enabled=False`` makes every span a no-op, so the
    same instrumented objects serve untraced and traced operations."""

    def __init__(self, enabled: bool = True):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._sc = None
        self._seen_stages: set[int] = set()

    def bind(self, spark) -> None:
        """Attach to a live SparkContext (job groups + status store)."""
        self._sc = spark.sparkContext
        self._seen_stages = set()

    # -- spans --------------------------------------------------------------

    @contextmanager
    def span(self, name: str, spark_jobs: bool = True, **attrs):
        if not self.enabled:
            yield None
            return
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        sp = Span(name=name, start=time.perf_counter(), parent=parent,
                  attrs=dict(attrs))
        self.spans.append(sp)
        use_jobs = spark_jobs and self._sc is not None
        if use_jobs:
            sp.group = f"perfbench-{idx}"
            self._sc.setJobGroup(sp.group, name, False)
        self._stack.append(idx)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            if use_jobs:
                self._restore_group(parent)
                self._collect(sp)

    def wrap(self, name: str, fn, spark_jobs: bool = True):
        @functools.wraps(fn)
        def traced(*a, **kw):
            with self.span(name, spark_jobs=spark_jobs):
                return fn(*a, **kw)
        return traced

    def instrument_table(self, table) -> None:
        """Replace the table INSTANCE's public methods with traced ones, so
        calls the program makes on it internally are spanned too."""
        for category, methods in TABLE_METHODS.items():
            for m in methods:
                if hasattr(table, m):
                    setattr(table, m, self.wrap(
                        category, getattr(table, m),
                        spark_jobs=category not in NO_JOB_CATEGORIES))

    def _restore_group(self, parent: int | None) -> None:
        group = None
        while parent is not None:
            group = self.spans[parent].group
            if group is not None:
                break
            parent = self.spans[parent].parent
        if group is not None:
            self._sc.setJobGroup(group, self.spans[parent].name, False)
        else:
            self._sc._jsc.clearJobGroup()

    def _collect(self, sp: Span) -> None:
        jsc = self._sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty(30_000)
        tracker = self._sc.statusTracker()
        store = jsc.statusStore()
        job_ids = tracker.getJobIdsForGroup(sp.group)
        sp.jobs = len(job_ids)
        for jid in job_ids:
            info = tracker.getJobInfo(jid)
            if info is None:
                continue
            for sid in info.stageIds:
                if sid in self._seen_stages:
                    continue
                try:
                    sd = store.lastStageAttempt(sid)
                except Py4JJavaError:  # the stage was never submitted
                    continue
                if sd.status().toString() == "SKIPPED":
                    continue
                self._seen_stages.add(sid)
                sp.stages += 1
                sp.tasks += sd.numCompleteTasks()
                sp.busy_ms += sd.executorRunTime()
                sp.gc_ms += sd.jvmGcTime()
                sp.shuffle_read_bytes += sd.shuffleReadBytes()
                sp.shuffle_write_bytes += sd.shuffleWriteBytes()
                sp.output_bytes += sd.outputBytes()

    # -- derived ------------------------------------------------------------

    def children(self, idx: int) -> list[int]:
        return [i for i, s in enumerate(self.spans) if s.parent == idx]

    def descendants(self, idx: int) -> list[int]:
        out, todo = [], self.children(idx)
        while todo:
            i = todo.pop()
            out.append(i)
            todo.extend(self.children(i))
        return out

    def self_time(self, idx: int) -> float:
        """Duration minus the union of the intervals its children cover."""
        sp = self.spans[idx]
        ivs = sorted((self.spans[c].start, self.spans[c].end)
                     for c in self.children(idx))
        covered, cur_s, cur_e = 0.0, None, None
        for s, e in ivs:
            if cur_e is None or s > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        if cur_e is not None:
            covered += cur_e - cur_s
        return sp.wall - covered

    def inclusive(self, idx: int, attr: str) -> int:
        """Counter summed over the span and all its descendants."""
        return getattr(self.spans[idx], attr) + sum(
            getattr(self.spans[d], attr) for d in self.descendants(idx))

    def outermost(self, idx: int, name: str) -> list[int]:
        """Descendants of `idx` named `name` with no ancestor of the same
        layer (name prefix) between them and `idx`, so nested calls such as
        latest_meta -> manifest count once."""
        out = []
        for d in self.descendants(idx):
            if self.spans[d].name != name:
                continue
            p = self.spans[d].parent
            nested = False
            while p is not None and p != idx:
                if self.spans[p].name.split(".")[0] == name.split(".")[0]:
                    nested = True
                    break
                p = self.spans[p].parent
            if not nested:
                out.append(d)
        return out

    def dump(self, path: str) -> None:
        rows = []
        for i, s in enumerate(self.spans):
            d = asdict(s)
            d["id"] = i
            d["wall_s"] = s.wall
            d["self_s"] = self.self_time(i)
            rows.append(d)
        with open(path, "w") as f:
            json.dump(rows, f)
