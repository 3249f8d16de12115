"""Spans and per-layer counters, taken from the benchmark's own code.

A span is opened around each call into a layer of the package. While it
is open, Spark jobs submitted from this thread run under the span's own
job group, so each job belongs to exactly one span. On close the span
records, from outside the package:

- wall time (``time.perf_counter``),
- its Spark jobs, their tasks and shuffle bytes (``statusTracker`` and
  the status store),
- the time its jobs covered, for ``driver_s``,
- py4j commands sent (the gateway client is wrapped),
- bytes written under the directories the layer owns (file-set diff).

Spans stay in memory; :meth:`Tracer.dump` writes them once at the end.
With tracing off the workloads use :class:`NullTracer`, whose spans do
nothing.
"""

from __future__ import annotations

import contextlib
import itertools
import json
import os
import statistics
import time
from dataclasses import asdict, dataclass, field
from pathlib import Path

from py4j.protocol import Py4JJavaError


def dir_files(roots) -> dict[str, int]:
    """path -> size of every regular file under ``roots``."""
    out: dict[str, int] = {}
    for root in roots:
        for dirpath, _, files in os.walk(root):
            for f in files:
                p = os.path.join(dirpath, f)
                try:
                    out[p] = os.stat(p).st_size
                except FileNotFoundError:
                    pass
    return out


def bytes_new(before: dict[str, int], after: dict[str, int]) -> int:
    """Bytes in files that appeared or changed size between two listings."""
    return sum(s for p, s in after.items() if before.get(p) != s)


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    cycle: int
    start: float
    end: float = 0.0
    py4j: int = 0
    jobs: int = 0
    tasks: int = 0
    job_cover_s: float = 0.0
    shuffle_bytes: int = 0
    bytes_written: int = 0
    counts: dict = field(default_factory=dict)


class NullTracer:
    """Tracing off: every hook is a no-op."""

    active = False
    cycle = 0

    def span(self, name, dirs=()):
        return contextlib.nullcontext({})

    def wrap_merge(self, fn):
        return fn


class Tracer(NullTracer):
    """Records spans while ``active`` is set; otherwise behaves like
    :class:`NullTracer`, so traced and untraced cycles can alternate."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self.cycle = 0
        self._stack: list[Span] = []
        self._ids = itertools.count(1)
        self._py4j = 0
        self._paused = False
        client = self.sc._gateway._gateway_client
        orig = client.send_command

        def counted(*a, **kw):
            if not self._paused:
                self._py4j += 1
            return orig(*a, **kw)

        client.send_command = counted
        self._client, self._orig = client, orig

    def close(self) -> None:
        self._client.send_command = self._orig

    # -- spans -------------------------------------------------------------
    def span(self, name: str, dirs=()):
        """Open a span; ``dirs`` are the directories whose new bytes the
        span is charged with. Yields a dict for caller-supplied counts."""
        if not self.active:
            return contextlib.nullcontext({})
        return self._span(name, dirs)

    @contextlib.contextmanager
    def _span(self, name: str, dirs):
        parent = self._stack[-1] if self._stack else None
        sp = Span(next(self._ids), name, parent.id if parent else None,
                  self.cycle, 0.0)
        self._paused = True
        before = dir_files(dirs) if dirs else None
        group = f"perfbench-{sp.id}"
        self.sc.setJobGroup(group, name)
        self._paused = False
        py0 = self._py4j
        sp.start = time.perf_counter()
        self._stack.append(sp)
        try:
            yield sp.counts
        finally:
            sp.end = time.perf_counter()
            sp.py4j = self._py4j - py0
            self._stack.pop()
            self._paused = True
            try:
                self._collect_jobs(sp, group)
                if before is not None:
                    sp.bytes_written = bytes_new(before, dir_files(dirs))
                if parent is not None:
                    self.sc.setJobGroup(f"perfbench-{parent.id}", parent.name)
                else:
                    self.sc.setLocalProperty("spark.jobGroup.id", None)
                    self.sc.setLocalProperty("spark.job.description", None)
            finally:
                self._paused = False
            self.spans.append(sp)

    def _collect_jobs(self, sp: Span, group: str) -> None:
        store = self.sc._jsc.sc().statusStore()
        intervals = []
        for jid in self.sc.statusTracker().getJobIdsForGroup(group):
            sp.jobs += 1
            try:
                jd = store.job(jid)
            except Py4JJavaError:  # evicted from the status store
                continue
            sub, done = jd.submissionTime(), jd.completionTime()
            if sub.isDefined() and done.isDefined():
                intervals.append((sub.get().getTime() / 1e3,
                                  done.get().getTime() / 1e3))
            stages = jd.stageIds()
            for i in range(stages.size()):
                try:
                    st = store.lastStageAttempt(stages.apply(i))
                except Py4JJavaError:  # skipped stage: never attempted
                    continue
                sp.tasks += st.numCompleteTasks()
                sp.shuffle_bytes += st.shuffleWriteBytes()
        sp.job_cover_s = _union_len(intervals)

    def wrap_merge(self, fn):
        """Wrap the pipeline's merge so each per-integration upsert inside
        ``process_batch`` gets its own ``upsert`` span."""

        def traced(table, envelopes, spec, *a, **kw):
            if not self.active:
                return fn(table, envelopes, spec, *a, **kw)
            dirs = [str(table.path)] if table.path.exists() else []
            before = _bucket_paths(table)
            with self.span("upsert", dirs=dirs) as c:
                res = fn(table, envelopes, spec, *a, **kw)
                c["rows_changed"] = res.total_changed
                after = _bucket_paths(table)
                c["buckets_touched"] = sum(
                    1 for b, p in after.items() if before.get(b) != p)
            return res

        return traced

    # -- output ------------------------------------------------------------
    def self_times(self) -> dict[int, float]:
        """Span id -> wall time minus the wall time of its direct children."""
        own = {s.id: s.end - s.start for s in self.spans}
        for s in self.spans:
            if s.parent in own:
                own[s.parent] -= s.end - s.start
        return own

    def dump(self, path: Path, extra: dict) -> None:
        rec = {"spans": [asdict(s) for s in self.spans], **extra}
        path.parent.mkdir(parents=True, exist_ok=True)
        path.write_text(json.dumps(rec, indent=1, default=str))


def _bucket_paths(table) -> dict[str, str]:
    return dict(table.manifest.buckets) if table.exists() else {}


def _union_len(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def layer_table(tr: Tracer, cycles: list[int]) -> dict[str, dict[str, float]]:
    """Per layer, the median over ``cycles`` of each per-cycle total.

    ``wall_s`` is self time (child layer spans excluded); ``driver_s`` is
    self time minus the time the span's own Spark jobs covered. Caller
    counts attached to spans are summed per cycle like the rest."""
    selft = tr.self_times()
    per: dict[str, dict[int, dict[str, float]]] = {}
    for s in tr.spans:
        if s.cycle not in cycles:
            continue
        acc = per.setdefault(s.name, {}).setdefault(s.cycle, {})
        vals = {
            "wall_s": selft[s.id],
            "driver_s": max(0.0, selft[s.id] - s.job_cover_s),
            "jobs": s.jobs, "tasks": s.tasks, "py4j_calls": s.py4j,
            "shuffle_bytes": s.shuffle_bytes,
            "bytes_written": s.bytes_written, **s.counts,
        }
        for k, v in vals.items():
            acc[k] = acc.get(k, 0) + v
    out: dict[str, dict[str, float]] = {}
    for layer, by_cycle in per.items():
        keys = set().union(*by_cycle.values())
        out[layer] = {
            k: statistics.median(by_cycle.get(c, {}).get(k, 0) for c in cycles)
            for k in keys
        }
    return out
