"""Span tracer for the traced pass.

A span wraps one call into a layer's public function.  While it is open
the Spark job group is the span's own, and before it closes the call's
output is materialized (eager local checkpoint), so every job the call
causes lands in exactly that group.  Spans are kept in memory; after the
pass, ``resolve`` reads each group's jobs from the status tracker and
their stage metrics from Spark's status store (populated with the UI
off) and aggregates them per layer, and ``audit`` checks the spans
against every job the application ran during the pass.
"""

from __future__ import annotations

import itertools
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

LAYERS = (
    "sources.edf",
    "operators.relational",
    "operators.fir",
    "operators.iir",
    "operators.resample",
    "operators.spectral",
    "operators.coupling",
    "llm.text",
    "llm.dedup",
    "llm.similarity",
    "llm.sampling",
    "streaming.stateful",
)
LAYER_METRICS = (
    ("wall_s", "s"),
    ("task_s", "s"),
    ("util", "ratio"),
    ("jobs", "count"),
    ("stages", "count"),
    ("shuffle_mb", "MB"),
    ("spill_mb", "MB"),
    ("rows_out", "count"),
    ("failed_tasks", "count"),
)
STREAM_METRICS = (
    ("add_batch_ms", "ms"),
    ("plan_ms", "ms"),
    ("wal_ms", "ms"),
    ("state_commit_ms", "ms"),
    ("state_rows", "count"),
)
EXTRA_METRICS = (
    ("llm.dedup.candidates", "count"),
    ("llm.dedup.lsh_yield", "ratio"),
    ("driver.idle_s", "s"),
    ("trace.overhead_s", "s"),
)
MB = 1024.0 * 1024.0
PER_LAYER = (
    [(f"{layer}.{m}", u) for layer in LAYERS for m, u in LAYER_METRICS]
    + [(f"streaming.stateful.{m}", u) for m, u in STREAM_METRICS]
    + list(EXTRA_METRICS)
)


def layer_of(span_name: str) -> str:
    """'operators.fir.apply_fir_blocks' -> 'operators.fir'."""
    return span_name.rsplit(".", 1)[0]


@dataclass
class Span:
    name: str
    group: str
    trace_id: str
    parent: str | None
    start: float
    end: float = 0.0
    outputs: list = field(default_factory=list)
    jobs: list = field(default_factory=list)   # [(job_id, submit_s, end_s)]
    stats: dict = field(default_factory=dict)
    # job groups other threads ran the span's work in (a streaming query's)
    extra_groups: list = field(default_factory=list)


def _materialize(obj, keep: list):
    """Eager local checkpoint of every DataFrame in ``obj``; SignalFrames
    keep their sampling rate."""
    from pyspark.sql import DataFrame

    if isinstance(obj, DataFrame):
        cp = obj.localCheckpoint(eager=True)
        keep.append(cp)
        return cp
    if isinstance(obj, tuple):
        return tuple(_materialize(o, keep) for o in obj)
    if hasattr(obj, "df") and hasattr(obj, "with_df"):
        return obj.with_df(_materialize(obj.df, keep))
    return obj


def next_job_id(sc) -> int:
    """The id the application's next job will get."""
    return int(sc._jsc.sc().dagScheduler().nextJobId())


def wait_for_listeners(sc) -> None:
    """The status store is fed by the listener bus: let it catch up."""
    sc._jsc.sc().listenerBus().waitUntilEmpty()


def _stages(store, job, seen: set):
    """(stage id, last attempt) of every stage the job ran that is not in
    ``seen``; adds them to ``seen``.  Skipped stages have nothing to add."""
    from py4j.protocol import Py4JJavaError

    sids = job.stageIds()
    for i in range(sids.size()):
        sid = sids.apply(i)
        if sid in seen:
            continue
        try:
            st = store.lastStageAttempt(sid)
        except Py4JJavaError:  # a skipped stage has no attempt
            continue
        if str(st.status()) == "SKIPPED":
            continue
        seen.add(sid)
        yield sid, st


class Tracer:
    """``call(name, fn, *a)`` runs fn; when enabled, inside a span."""

    def __init__(self, spark, trace_id: str, enabled: bool):
        self.spark = spark
        self.sc = spark.sparkContext
        self.trace_id = trace_id
        self.enabled = enabled
        self.spans: list[Span] = []
        self._seq = itertools.count()
        self._stack: list[Span] = []

    def _set_group(self, group: str | None) -> None:
        if group is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            self.sc.setJobGroup(group, group)

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        s = Span(
            name=name,
            group=f"{self.trace_id}/{next(self._seq)}/{name}",
            trace_id=self.trace_id,
            parent=parent.name if parent else None,
            start=time.perf_counter(),
        )
        self._stack.append(s)
        self._set_group(s.group)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            self._set_group(parent.group if parent else None)
            self.spans.append(s)

    def call(self, name: str, fn, *args, **kw):
        if not self.enabled:
            return fn(*args, **kw)
        with self.span(name) as s:
            return _materialize(fn(*args, **kw), s.outputs)

    def keep(self, obj):
        """User-level materialization of an intermediate that several
        consumers read; a traced call's output already is one."""
        return obj if self.enabled else _materialize(obj, [])

    # ----------------------------------------------------------- readout
    def resolve(self) -> None:
        """Attach jobs and stage metrics to every span (after the pass).

        A stage that several jobs list counts once, for the span of the
        earliest of them."""
        store = self.sc._jsc.sc().statusStore()
        tracker = self.sc.statusTracker()
        wait_for_listeners(self.sc)
        owner = {}
        for s in self.spans:
            for g in [s.group, *s.extra_groups]:
                for jid in tracker.getJobIdsForGroup(g):
                    owner[jid] = s
        stats = {
            id(s): dict(task_s=0.0, stages=0, shuffle_mb=0.0, spill_mb=0.0, failed_tasks=0, written=0)
            for s in self.spans
        }
        seen_stages = set()
        for jid in sorted(owner):
            s = owner[jid]
            job = store.job(jid)
            sub = job.submissionTime()
            fin = job.completionTime()
            t0 = sub.get().getTime() / 1e3 if sub.isDefined() else None
            t1 = fin.get().getTime() / 1e3 if fin.isDefined() else None
            s.jobs.append((jid, t0, t1))
            st = stats[id(s)]
            for sid, stage in _stages(store, job, seen_stages):
                st["stages"] += 1
                st["task_s"] += stage.executorRunTime() / 1e3
                st["shuffle_mb"] += stage.shuffleWriteBytes() / MB
                st["spill_mb"] += (stage.memoryBytesSpilled() + stage.diskBytesSpilled()) / MB
                st["failed_tasks"] += stage.numFailedTasks()
                st["written"] += stage.outputRecords()
        for s in self.spans:
            st = stats[id(s)]
            st["jobs"] = len(s.jobs)
            written = st.pop("written")
            if s.outputs:
                self._set_group(f"{self.trace_id}/rows")
                st["rows_out"] = sum(o.count() for o in s.outputs)
                self._set_group(None)
            else:  # a sink call: rows it wrote
                st["rows_out"] = written
            s.stats = st
            s.outputs = []

    def audit(self, first_job: int, end_job: int) -> dict:
        """Check the resolved spans against every job the application
        submitted with an id in [first_job, end_job), read straight from
        the status store: ``task_s`` is those jobs' summed executorRunTime,
        ``unattributed`` the jobs no span holds, ``shared`` the jobs more
        than one span holds."""
        store = self.sc._jsc.sc().statusStore()
        wait_for_listeners(self.sc)
        held: dict[int, int] = {}
        for s in self.spans:
            for jid, _, _ in s.jobs:
                held[jid] = held.get(jid, 0) + 1
        seen, task_s = set(), 0.0
        for jid in range(first_job, end_job):
            for _, stage in _stages(store, store.job(jid), seen):
                task_s += stage.executorRunTime() / 1e3
        return {
            "jobs": end_job - first_job,
            "task_s": task_s,
            "unattributed": [j for j in range(first_job, end_job) if j not in held],
            "shared": sorted(j for j, n in held.items() if n > 1),
        }

    def self_times(self) -> dict[str, float]:
        """Span duration minus the part its child spans cover."""
        out = {}
        for s in self.spans:
            kids = [
                c for c in self.spans
                if c.parent == s.name and c.start >= s.start and c.end <= s.end and c is not s
            ]
            out[id(s)] = (s.end - s.start) - sum(c.end - c.start for c in kids)
        return out

    def busy_seconds(self, t_start: float, t_end: float, wall_offset: float) -> float:
        """Union of job run intervals inside [t_start, t_end] (perf_counter
        clock; ``wall_offset`` = time.time() - perf_counter())."""
        ivals = sorted(
            (max(a - wall_offset, t_start), min(b - wall_offset, t_end))
            for s in self.spans for _, a, b in s.jobs
            if a is not None and b is not None
        )
        busy, cur_a, cur_b = 0.0, None, None
        for a, b in ivals:
            if b <= a:
                continue
            if cur_b is None or a > cur_b:
                if cur_b is not None:
                    busy += cur_b - cur_a
                cur_a, cur_b = a, b
            else:
                cur_b = max(cur_b, b)
        if cur_b is not None:
            busy += cur_b - cur_a
        return busy

    def layer_metrics(self, cores: int) -> dict[str, float]:
        """Per-layer aggregates over every layer span (root spans excluded)."""
        selft = self.self_times()
        out = {}
        for layer in LAYERS:
            for m, _ in LAYER_METRICS:
                out[f"{layer}.{m}"] = 0.0
        for s in self.spans:
            layer = layer_of(s.name)
            if layer not in LAYERS:
                continue
            out[f"{layer}.wall_s"] += selft[id(s)]
            for k in ("task_s", "jobs", "stages", "shuffle_mb", "spill_mb", "rows_out", "failed_tasks"):
                out[f"{layer}.{k}"] += s.stats.get(k, 0)
        for layer in LAYERS:
            w = out[f"{layer}.wall_s"]
            out[f"{layer}.util"] = out[f"{layer}.task_s"] / (w * cores) if w > 0 else 0.0
        return out

    def span_records(self, t0: float) -> list[dict]:
        selft = self.self_times()
        return [
            {
                "name": s.name,
                "trace_id": s.trace_id,
                "parent": s.parent,
                "group": s.group,
                "start_s": round(s.start - t0, 6),
                "end_s": round(s.end - t0, 6),
                "self_s": round(selft[id(s)], 6),
                "jobs": [j for j, _, _ in s.jobs],
                **s.stats,
            }
            for s in self.spans
        ]
