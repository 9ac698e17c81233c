"""In-memory spans for the traced run.

The benchmark's launcher wraps public entry points of each layer in
the process it starts (``install``). pgwire and sql look these names up
at call time, so wrapping the module attribute reaches every call
without touching the engine. Spans live in memory on the system-wide
monotonic clock — the clients in another process read the same clock —
and are written out when the run ends.

Self time is computed here too (``self_ms``), from the spans alone.
"""

from __future__ import annotations

import functools
import itertools
import threading
import time
from dataclasses import asdict, dataclass, field

#: the key pgwire announces in BackendKeyData for the calling thread
PID_MASK = 0x7FFFFFFF


@dataclass
class Span:
    name: str
    start: float
    end: float
    span_id: int
    parent: int | None
    pid: int  # BackendKeyData pid of the pgwire thread (thread id elsewhere)
    attrs: dict = field(default_factory=dict)

    def to_json(self) -> dict:
        return asdict(self)


def self_ms(span: Span, children: list[Span]) -> float:
    """``span``'s duration minus the part of it its children cover
    (overlapping children counted once), in ms."""
    iv = sorted(
        (max(c.start, span.start), min(c.end, span.end))
        for c in children
        if c.end > span.start and c.start < span.end
    )
    covered, cur_s, cur_e = 0.0, None, None
    for s, e in iv:
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                covered += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        covered += cur_e - cur_s
    return (span.end - span.start - covered) * 1000.0


def union_ms(spans: list[Span]) -> float:
    """Wall time covered by the union of ``spans``, in ms."""
    if not spans:
        return 0.0
    lo = min(s.start for s in spans)
    hi = max(s.end for s in spans)
    outer = Span("u", lo, hi, -1, None, 0)
    return (hi - lo) * 1000.0 - self_ms(outer, spans)


class Tracer:
    """Span recorder for one process. Top-level spans (no parent on
    the calling thread) also start a fresh Spark job group, so the
    jobs, stages and tasks each statement ran can be counted through
    ``SparkContext.statusTracker()`` afterwards."""

    def __init__(self, spark=None):
        self.spark = spark
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()

    def _stack(self) -> list[int]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def begin(self, name: str) -> tuple[int, int | None, float]:
        st = self._stack()
        sid = next(self._ids)
        parent = st[-1] if st else None
        st.append(sid)
        return sid, parent, time.monotonic()

    def end(self, name, sid, parent, start, **attrs) -> Span:
        end = time.monotonic()
        st = self._stack()
        if st and st[-1] == sid:
            st.pop()
        sp = Span(name, start, end, sid, parent,
                  threading.get_ident() & PID_MASK, attrs)
        with self._lock:
            self.spans.append(sp)
        return sp

    def _job_group(self, sid: int, parent: int | None) -> str | None:
        if parent is not None or self.spark is None:
            return None
        group = f"bench-{sid}"
        self.spark.sparkContext.setJobGroup(group, "benchmark trace")
        return group

    def wrap(self, owner: object, attr: str, name: str, describe=None) -> None:
        """Replace ``owner.attr`` by a timing wrapper for the rest of the
        process. ``describe(args)`` adds attributes to the span."""
        fn = getattr(owner, attr)
        tracer = self

        @functools.wraps(fn)
        def wrapper(*a, **kw):
            sid, parent, t0 = tracer.begin(name)
            group = tracer._job_group(sid, parent)
            try:
                return fn(*a, **kw)
            finally:
                extra = describe(a) if describe else {}
                tracer.end(name, sid, parent, t0, job_group=group, **extra)

        setattr(owner, attr, wrapper)

    def wrap_iterator(self, owner: object, attr: str, name: str) -> None:
        """Wrap a method returning an iterator: the span runs from the
        call until the iterator is exhausted or dropped, and records the
        time spent inside ``next()`` (``fetch_ms``, first row apart) and
        between calls (``between_ms`` — the consumer's loop body)."""
        fn = getattr(owner, attr)
        tracer = self

        @functools.wraps(fn)
        def wrapper(*a, **kw):
            sid, parent, t0 = tracer.begin(name)
            group = tracer._job_group(sid, parent)
            # the stack entry is released now: the consumer's loop runs
            # other wrapped calls that are not children of the fetch
            tracer._stack().pop()
            inner = iter(fn(*a, **kw))
            cols = len(a[0].columns)
            return tracer._timed_iter(inner, name, sid, parent, t0, group, cols)

        setattr(owner, attr, wrapper)

    def _timed_iter(self, inner, name, sid, parent, t0, group, cols):
        clock = time.monotonic
        rows, fetch, between, first = 0, 0.0, 0.0, None
        last = clock()
        try:
            while True:
                a = clock()
                if rows:
                    between += a - last
                try:
                    item = next(inner)
                except StopIteration:
                    last = clock()
                    fetch += last - a
                    return
                last = clock()
                if first is None:
                    first = last - t0
                else:
                    fetch += last - a
                rows += 1
                yield item
        finally:
            sp = Span(name, t0, last, sid, parent,
                      threading.get_ident() & PID_MASK,
                      {"job_group": group, "rows": rows, "cols": cols,
                       "first_row_ms": (first or (last - t0)) * 1000.0,
                       "fetch_ms": fetch * 1000.0,
                       "between_ms": between * 1000.0})
            with self._lock:
                self.spans.append(sp)

    def job_counts(self, group: str) -> dict[str, int]:
        """Jobs, stages, tasks and failed tasks Spark ran under a job
        group (public ``statusTracker`` API)."""
        st = self.spark.sparkContext.statusTracker()
        out = {"jobs": 0, "stages": 0, "tasks": 0, "failed_tasks": 0}
        for jid in st.getJobIdsForGroup(group):
            info = st.getJobInfo(jid)
            if info is None:
                continue
            out["jobs"] += 1
            for sid in info.stageIds:
                si = st.getStageInfo(sid)
                if si is None:
                    continue
                out["stages"] += 1
                out["tasks"] += si.numTasks
                out["failed_tasks"] += si.numFailedTasks
        return out


def install(tracer: Tracer) -> None:
    """Wrap the serve-path entry points named in the benchmark's layer
    map: sql, translate, pg_catalog, the Spark row iterator and the
    writer calls."""
    import pyspark.sql.classic.dataframe as classic
    import pyspark.sql.readwriter as rw

    import csvb_spark.functions.translate as translate
    import csvb_spark.server.pg_catalog as pg_catalog
    import csvb_spark.sql as sql

    tracer.wrap(sql, "execute_sql", "sql.execute_sql",
                describe=lambda a: {"sql": str(a[1])[:500]})
    tracer.wrap(sql, "refresh_information_schema", "sql.info_schema_refresh")
    tracer.wrap(translate, "translate_sql", "translate.translate_sql")
    tracer.wrap(pg_catalog, "refresh_pg_catalog", "pg_catalog.refresh")
    # the classic (non-Connect) DataFrame overrides the base class method
    tracer.wrap_iterator(classic.DataFrame, "toLocalIterator", "spark.iter")
    tracer.wrap(rw.DataFrameWriter, "insertInto", "spark.write")
    tracer.wrap(rw.DataFrameWriter, "parquet", "spark.write")
