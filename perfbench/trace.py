"""Tracing for the per-layer run (``--trace 1``).

Spans are recorded from outside the engine: around the calls the
benchmark makes, and around engine functions that run inside one engine
call (``catalog.load`` inside ``Planner.plan``, ``HotColdStore.read``
inside ``Catalog.load`` ...). The latter are timed by replacing the
module attribute or method with a timing wrapper for the duration of
the traced run (``instrument``) and by the ``TracedCatalog`` subclass the
benchmark passes in; no engine file is changed.

Spark jobs become spans too: every operation runs under its own job
group, and when it ends the job and stage records are read from the
driver's status store (``statusStore().job(...)`` and ``stageData(...)``,
which work with ``spark.ui.enabled=false``). A job span hangs under the
innermost benchmark span that contains it.

A span's self time is its duration minus the part of it that its
children cover. Per-layer times are sums of self times by span name,
so for one operation they add up to its wall time; the root span's own
self time is reported as the unaccounted remainder.
"""

from __future__ import annotations

import contextlib
import time
from collections import defaultdict
from dataclasses import dataclass, field

from aresdb_spark.catalog import Catalog


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: "Span | None" = None
    op_id: int = 0
    children: list["Span"] = field(default_factory=list)

    @property
    def dur(self) -> float:
        return self.end - self.start

    def self_time(self) -> float:
        """Duration minus the part of it the children cover."""
        return max(self.dur - covered(self.children, self), 0.0)


def covered(spans: list[Span], within: Span) -> float:
    """Length of the union of the spans' intervals, clipped to
    ``within`` (overlapping spans, such as concurrent Spark jobs, count
    once)."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(c.start, within.start), min(c.end, within.end))
                       for c in spans):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


# per-stage fields read from the status store, with the metric each
# one is summed into (times in ms, bytes as bytes)
_STAGE_FIELDS = (
    ("executorRunTime", "spark.executor_run_ms", 1.0),
    ("executorCpuTime", "spark.executor_cpu_ms", 1e-6),
    ("inputBytes", "spark.input_bytes", 1.0),
    ("shuffleReadBytes", "spark.shuffle_read_bytes", 1.0),
    ("shuffleWriteBytes", "spark.shuffle_write_bytes", 1.0),
)


class Tracer:
    """Holds every span and counter of a traced run in memory; ``layer``
    sums them per operation at the end."""

    def __init__(self, spark):
        self.spark = spark
        self.spans: list[Span] = []
        self.counts: dict[str, float] = defaultdict(float)
        self._stack: list[Span] = []
        self._op_id = 0
        self.ops: list[Span] = []
        # status-store times are epoch ms; spans use perf_counter
        self._epoch_offset = time.time() - time.perf_counter()

    @property
    def active(self) -> bool:
        """True inside a traced operation; outside one, spans and
        counters are not recorded (the untraced half of the run)."""
        return bool(self._stack)

    def span(self, name: str):
        if not self._stack:
            return contextlib.nullcontext()
        return self._span(name)

    @contextlib.contextmanager
    def _span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        s = Span(name, time.perf_counter(), parent=parent, op_id=self._op_id)
        if parent is not None:
            parent.children.append(s)
        self._stack.append(s)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            self.spans.append(s)

    def count(self, name: str, n: float = 1.0) -> None:
        if self._stack:
            self.counts[name] += n

    @contextlib.contextmanager
    def op(self, name: str = "bench.op"):
        """One measured operation: a root span plus its own Spark job
        group, whose jobs are attached as spans when it ends."""
        self._op_id += 1
        sc = self.spark.sparkContext
        group = f"perfbench-{self._op_id}"
        sc.setJobGroup(group, "perfbench traced operation")
        try:
            with self._span(name) as root:
                yield root
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
            self.ops.append(root)
            self._attach_jobs(group, root)

    # -- Spark status store --------------------------------------------------

    def _attach_jobs(self, group: str, root: Span) -> None:
        sc = self.spark.sparkContext
        jsc = sc._jsc.sc()
        # the status store is fed by the listener bus; drain it so the
        # job-end and stage-completed events of this operation are in
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        jvm = self.spark._jvm
        empty = jvm.java.util.ArrayList()
        no_q = self.spark.sparkContext._gateway.new_array(jvm.double, 0)
        for jid in sc.statusTracker().getJobIdsForGroup(group):
            job = store.job(jid)
            sub, comp = job.submissionTime(), job.completionTime()
            if sub.isEmpty() or comp.isEmpty():
                continue
            start = sub.get().getTime() / 1e3 - self._epoch_offset
            end = comp.get().getTime() / 1e3 - self._epoch_offset
            parent = self._innermost(root, start, end)
            js = Span("spark.job", max(start, parent.start),
                      min(max(end, start), parent.end), parent=parent,
                      op_id=root.op_id)
            parent.children.append(js)
            self.spans.append(js)
            self.counts["spark.jobs"] += 1
            self.counts["spark.skipped_stages"] += job.numSkippedStages()
            it = job.stageIds().iterator()
            while it.hasNext():
                sid = it.next()
                try:
                    attempts = store.stageData(sid, False, empty, False, no_q)
                except Exception:  # noqa: BLE001 — skipped stage: no data
                    continue
                ait = attempts.iterator()
                while ait.hasNext():
                    st = ait.next()
                    if st.status().toString() == "SKIPPED":
                        continue
                    self.counts["spark.stages"] += 1
                    self.counts["spark.tasks"] += st.numTasks()
                    for attr, metric, scale in _STAGE_FIELDS:
                        self.counts[metric] += getattr(st, attr)() * scale

    @staticmethod
    def _innermost(root: Span, start: float, end: float) -> Span:
        """The deepest span under ``root`` containing the job's midpoint
        (status-store times have millisecond resolution)."""
        mid = (start + end) / 2
        node = root
        while True:
            inner = [c for c in node.children
                     if c.name != "spark.job" and c.start <= mid <= c.end]
            if not inner:
                return node
            node = inner[-1]

    # -- summary -------------------------------------------------------------

    def layer_ms(self) -> dict[str, float]:
        """Self time per span name, ms per operation, so one operation's
        layer times add up to its wall time. The root span's own self
        time is reported under ``trace.unaccounted``; Spark jobs count
        as the union of the job intervals under each parent span."""
        n = max(len(self.ops), 1)
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            if s.name == "spark.job":
                continue
            key = "trace.unaccounted" if s.parent is None else s.name
            out[key] += s.self_time() * 1e3 / n
            jobs = [c for c in s.children if c.name == "spark.job"]
            if jobs:
                out["spark.job"] += covered(jobs, s) * 1e3 / n
        return dict(out)

    def tree(self, root: Span) -> list[str]:
        """One operation's spans as indented lines: name, duration and
        self time in ms, offset from the operation's start."""
        lines = []

        def walk(span: Span, depth: int) -> None:
            lines.append(f"{'  ' * depth}{span.name} "
                         f"+{(span.start - root.start) * 1e3:.1f} "
                         f"dur {span.dur * 1e3:.1f} "
                         f"self {span.self_time() * 1e3:.1f}")
            for c in sorted(span.children, key=lambda c: c.start):
                walk(c, depth + 1)

        walk(root, 0)
        return lines

    def per_op(self, name: str) -> float:
        return self.counts.get(name, 0.0) / max(len(self.ops), 1)

    def op_wall_ms(self) -> float:
        return sum(o.dur for o in self.ops) * 1e3 / max(len(self.ops), 1)


class TracedCatalog(Catalog):
    """The catalog the traced run passes to the engine: every ``load``
    (called from inside ``Planner.plan``) is a ``catalog.load`` span,
    with its calls and cache hits counted. The cache test mirrors
    ``Catalog.load``'s own: a load without a time range of a table
    already in ``_cache`` returns the cached DataFrame."""

    tracer: Tracer  # set by the workload before use

    def load(self, spark, name, time_range=None):
        self.tracer.count("catalog.load_calls")
        if time_range is None and name in self._cache:
            self.tracer.count("catalog.cache_hits")
        with self.tracer.span("catalog.load"):
            return super().load(spark, name, time_range)


class _PlannedFrame:
    """Stands in for the DataFrame handed to a result shaper. The
    shaper's only plan-building call is ``df.limit(n)``; here that
    builds the limited DataFrame and forces its physical plan (analysis,
    optimisation, physical planning) inside a ``spark.optimize`` span,
    so the shaper's collect reuses that plan and its own span holds only
    Spark jobs and Python row shaping."""

    def __init__(self, df, tracer: Tracer):
        self._df = df
        self._tracer = tracer

    def limit(self, n):
        out = self._df.limit(n)
        with self._tracer.span("spark.optimize"):
            out._jdf.queryExecution().executedPlan()
        return out

    def __getattr__(self, name):
        return getattr(self._df, name)


def _timed(tracer: Tracer, name: str, fn):
    def wrapper(*args, **kwargs):
        with tracer.span(name):
            return fn(*args, **kwargs)
    return wrapper


@contextlib.contextmanager
def instrument(tracer: Tracer):
    """Wrap the engine functions that run inside one engine call with
    timing spans, and restore them on exit."""
    from aresdb_spark.aql import api, sql
    from aresdb_spark.sources import hotcold, pointer
    from aresdb_spark.streaming import data_handler

    patches: list[tuple[object, str, object]] = []

    def patch(owner, attr, replacement):
        patches.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, replacement)

    def shaper(fn):
        def wrapper(df, *args, **kwargs):
            if not tracer.active:
                return fn(df, *args, **kwargs)
            with tracer.span("aql.result"):
                return fn(_PlannedFrame(df, tracer), *args, **kwargs)
        return wrapper

    class TracedPlanner(api.Planner):
        def plan(self, q):
            with tracer.span("aql.planner"):
                return super().plan(q)

    def counted_commit(fn):
        def wrapper(*args, **kwargs):
            tracer.count("pointer.commits")
            return fn(*args, **kwargs)
        return wrapper

    patch(api, "query_from_json", _timed(tracer, "aql.model", api.query_from_json))
    patch(sql, "sql_to_query", _timed(tracer, "aql.model", sql.sql_to_query))
    patch(api, "Planner", TracedPlanner)
    patch(api, "to_aggregate_result", shaper(api.to_aggregate_result))
    patch(api, "to_matrix_result", shaper(api.to_matrix_result))
    patch(data_handler, "parse_upsert_batch",
          _timed(tracer, "upsert_wire.parse", data_handler.parse_upsert_batch))
    patch(data_handler, "upsert_batch_to_df",
          _timed(tracer, "upsert_wire.to_df", data_handler.upsert_batch_to_df))
    patch(pointer, "commit_state", counted_commit(pointer.commit_state))
    for cls in (hotcold.HotColdStore, hotcold.DimensionStore):
        for attr, name in (("ingest", "hotcold.ingest"),
                           ("journal_ingest", "hotcold.ingest"),
                           ("read", "hotcold.read"),
                           ("archive", "lifecycle.archive"),
                           ("flush_backfill", "lifecycle.backfill"),
                           ("snapshot", "lifecycle.snapshot"),
                           ("gc", "lifecycle.gc")):
            if attr in vars(cls):
                patch(cls, attr, _timed(tracer, name, vars(cls)[attr]))
    try:
        yield
    finally:
        for owner, attr, orig in reversed(patches):
            setattr(owner, attr, orig)
