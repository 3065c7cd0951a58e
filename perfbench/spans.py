"""Spans around the program's layer entry points, kept in memory, plus the
join to Spark's event log.

``Tracer.install`` replaces each traced function on the object its caller
resolves it from (``engine.shred_stream``, ``merge.merge_upsert``,
``LakeCatalog.commit_snapshot`` ...) with a wrapper that records one span:
name, start, end, parent and thread. The wrapper also sets Spark's job
description to ``pbspan:<id>`` in its own thread for the length of the call
and restores the caller's afterwards, so every Spark job carries the id of
the innermost span that started it. ``event_log_jobs`` reads the event log
and sums task metrics per job; ``Tracer.jobs_by_span`` joins them to spans.

Pool threads have no span of their own when they start, so a span opened in
a thread with an empty stack takes as parent the most recent still-open
top-level span (``run_available``, ``apply_lines``, ``finalize`` or an ops
stage) of any thread.
"""

from __future__ import annotations

import functools
import glob
import json
import threading
import time
from dataclasses import dataclass, field
from typing import Callable, Optional

JOB_TAG = "pbspan:"
TOP_LEVEL = {"driver.run_available", "engine.apply_lines", "engine.finalize", "ops.stage"}


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float = 0.0
    parent: Optional[int] = None
    thread: str = ""
    info: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


def self_time(span: Span, children: list[Span]) -> float:
    """Duration of ``span`` minus the union of its children's intervals
    (clipped to the span). Children from pool threads may overlap each
    other; the overlap is counted once."""
    ivs = sorted((max(c.start, span.start), min(c.end, span.end)) for c in children)
    covered, cur_s, cur_e = 0.0, None, None
    for s, e in ivs:
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
    return span.duration - covered


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self._lock = threading.Lock()
        self._local = threading.local()
        self._open_top: list[Span] = []
        self._patched: list[tuple[object, str, object]] = []
        self.enabled = False

    # ------------------------------------------------------------ recording
    def _stack(self) -> list[Span]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def call(self, name: str, fn: Callable, *args, probe: Optional[Callable] = None, **kwargs):
        """Run ``fn`` inside a span named ``name``. ``probe(args, kwargs)``,
        called before ``fn``, may return ``finish(result) -> dict`` whose
        counts are attached to the span after the call."""
        if not self.enabled:
            return fn(*args, **kwargs)
        finish = probe(args, kwargs) if probe is not None else None
        stack = self._stack()
        with self._lock:
            if stack:
                parent = stack[-1].id
            else:
                parent = self._open_top[-1].id if self._open_top else None
            span = Span(len(self.spans), name, 0.0, parent=parent,
                        thread=threading.current_thread().name)
            self.spans.append(span)
            if name in TOP_LEVEL:
                self._open_top.append(span)
        prev = self.sc.getLocalProperty("spark.job.description")
        self.sc.setLocalProperty("spark.job.description", f"{JOB_TAG}{span.id}")
        stack.append(span)
        span.start = time.perf_counter()
        try:
            result = fn(*args, **kwargs)
        finally:
            span.end = time.perf_counter()
            stack.pop()
            self.sc.setLocalProperty("spark.job.description", prev)
            if name in TOP_LEVEL:
                with self._lock:
                    self._open_top.remove(span)
        if finish is not None:
            span.info.update(finish(result))
        return result

    def wrap(self, owner, attr: str, name: str, probe: Optional[Callable] = None) -> None:
        """Replace ``owner.attr`` with a traced wrapper (undone by
        ``uninstall``)."""
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            return tracer.call(name, orig, *args, probe=probe, **kwargs)

        self._patched.append((owner, attr, owner.__dict__.get(attr, orig)))
        setattr(owner, attr, traced)

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._patched):
            setattr(owner, attr, orig)
        self._patched.clear()
        self.enabled = False

    # ---------------------------------------------------------------- views
    def children(self) -> dict[int, list[Span]]:
        out: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                out.setdefault(s.parent, []).append(s)
        return out

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def subtree(self, root: Span, kids: dict[int, list[Span]]) -> list[Span]:
        out, todo = [], [root]
        while todo:
            s = todo.pop()
            out.append(s)
            todo.extend(kids.get(s.id, []))
        return out

    def jobs_by_span(self, jobs: dict[int, dict]) -> dict[int, list[dict]]:
        """Event-log jobs grouped by the span id in their description."""
        out: dict[int, list[dict]] = {}
        for j in jobs.values():
            desc = j.get("description") or ""
            if desc.startswith(JOB_TAG):
                out.setdefault(int(desc[len(JOB_TAG):]), []).append(j)
        return out


# ---------------------------------------------------------------- event log
_TASK_FIELDS = ("cpu_s", "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes",
                "output_bytes", "tasks")


def event_log_jobs(log_dir: str) -> dict[int, dict]:
    """Job id -> {description, stages, cpu_s, shuffle_read_bytes,
    shuffle_write_bytes, spill_bytes, output_bytes, tasks} from an
    uncompressed, non-rolling Spark event log."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    for path in sorted(glob.glob(f"{log_dir}/*")):
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    jid = ev["Job ID"]
                    props = ev.get("Properties") or {}
                    jobs[jid] = dict.fromkeys(_TASK_FIELDS, 0.0) | {
                        "description": props.get("spark.job.description")}
                    for sid in ev.get("Stage IDs", []):
                        stage_job[sid] = jid
                elif kind == "SparkListenerTaskEnd":
                    jid = stage_job.get(ev.get("Stage ID"))
                    m = ev.get("Task Metrics")
                    if jid is None or not m:
                        continue
                    j = jobs[jid]
                    rd = m.get("Shuffle Read Metrics", {})
                    j["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                    j["shuffle_read_bytes"] += rd.get("Remote Bytes Read", 0) + rd.get("Local Bytes Read", 0)
                    j["shuffle_write_bytes"] += m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
                    j["spill_bytes"] += m.get("Disk Bytes Spilled", 0)
                    j["output_bytes"] += m.get("Output Metrics", {}).get("Bytes Written", 0)
                    j["tasks"] += 1
    return jobs
