"""Outside-in tracer: spans around the program's module entry points, plus
Spark job/stage metrics from the driver's status store.

Nothing in the program is edited. ``Tracer.install`` replaces each traced
name in the namespace that calls it (``engine.eval_steps_local``,
``api.profile_table``, ...) with a wrapper that records a span, and
``uninstall`` puts the originals back, so a run can alternate traced and
untraced sessions in one process.

Spans are kept in memory and analysed once at the end. Each span records
its layer name, start, end, parent span and request id. A thread with no
open span of its own (the engine's prefetch pool threads) parents its spans
to the innermost open span of the request thread, so pool work is
attributed to the active request.
"""

from __future__ import annotations

import itertools
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass


@dataclass
class Span:
    sid: int
    name: str
    start: float
    end: float
    parent: int | None
    req: int | None


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by a set of possibly overlapping intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        elif e > cur_e:
            cur_e = e
    if cur_e is not None:
        total += cur_e - cur_s
    return total


class Tracer:
    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.counts: dict[str, float] = {}
        self.req: int | None = None
        self._ids = itertools.count(1)
        self._tls = threading.local()
        self._lock = threading.Lock()
        self._request_thread = threading.get_ident()
        self._request_stack: list[int] = []
        self._patches: list[tuple[object, str, object]] = []
        self._open: dict[int, str] = {}  # sid -> layer of the spans still open

    # ---- recording ----

    def _stack(self) -> list[int]:
        if threading.get_ident() == self._request_thread:
            return self._request_stack
        st = getattr(self._tls, "stack", None)
        if st is None:
            st = self._tls.stack = []
        return st

    def current(self) -> int | None:
        st = self._stack()
        if st:
            return st[-1]
        return self._request_stack[-1] if self._request_stack else None

    @contextmanager
    def span(self, name: str):
        parent = self.current()
        sid = next(self._ids)
        st = self._stack()
        st.append(sid)
        self._open[sid] = name
        start = time.perf_counter()
        try:
            yield sid
        finally:
            end = time.perf_counter()
            st.pop()
            self._open.pop(sid, None)
            with self._lock:
                self.spans.append(Span(sid, name, start, end, parent, self.req))

    def count(self, key: str, n: float = 1) -> None:
        with self._lock:
            self.counts[key] = self.counts.get(key, 0) + n

    # ---- patching ----

    def wrap(self, owner, attr: str, name: str, on_return=None, when=None) -> None:
        """Trace ``owner.attr`` as layer ``name``. ``on_return(args, result)``
        records counts; ``when()`` can restrict tracing to some callers."""
        original = getattr(owner, attr)
        tracer = self

        def wrapper(*args, **kwargs):
            if when is not None and not when():
                return original(*args, **kwargs)
            with tracer.span(name):
                result = original(*args, **kwargs)
            if on_return is not None:
                on_return(args, result)
            return result

        wrapper.__wrapped__ = original
        # an inherited method is restored by deleting the override
        own = not isinstance(owner, type) or attr in vars(owner)
        self._patches.append((owner, attr, original if own else None))
        setattr(owner, attr, wrapper)

    def wrap_property(self, owner: type, attr: str, name: str, when=None) -> None:
        prop = vars(owner)[attr]
        tracer = self

        def fget(obj):
            if when is not None and not when():
                return prop.fget(obj)
            with tracer.span(name):
                return prop.fget(obj)

        self._patches.append((owner, attr, prop))
        setattr(owner, attr, property(fget, prop.fset, prop.fdel, prop.__doc__))

    def wrap_dict(self, table: dict, name: str) -> None:
        for key, fn in list(table.items()):
            tracer = self

            def wrapper(*args, _fn=fn, **kwargs):
                with tracer.span(name):
                    return _fn(*args, **kwargs)

            self._patches.append((table, key, fn))
            table[key] = wrapper

    def uninstall(self) -> None:
        for owner, attr, original in reversed(self._patches):
            if isinstance(owner, dict):
                owner[attr] = original
            elif original is None:
                delattr(owner, attr)
            else:
                setattr(owner, attr, original)
        self._patches.clear()

    def install(self) -> None:
        """Wrap every traced entry point of the program."""
        from pyspark.sql import SparkSession
        from pyspark.sql.classic.dataframe import DataFrame as ClassicDataFrame

        from data_transformation_2022_spark import api, engine
        from data_transformation_2022_spark.ml import coret_local

        def under_ingest() -> bool:
            cur = self.current()
            return cur is not None and self._open.get(cur) == "endpoint.ingest"

        def under_endpoint() -> bool:
            cur = self.current()
            return cur is not None and self._open.get(cur, "").startswith("endpoint.")

        for attr in ("read_parquet", "read_csv", "read_json", "with_rid"):
            self.wrap(api, attr, "readers")
        # ingest_records builds its frame with createDataFrame; other
        # callers of it (the profiler's small metadata frames) are not reads
        self.wrap(SparkSession, "createDataFrame", "readers", when=under_ingest)
        self.wrap(api, "profile_table", "profiler")
        self.wrap(engine, "profile_table", "profiler")
        self.wrap(api, "recommend", "engine", on_return=self._on_recommend)
        self.wrap(engine, "enumerate_tpaths", "enumerate", on_return=self._on_enumerate)
        self.wrap(engine.Executor, "__init__", "executor.init")
        self.wrap(engine.Executor, "prefetch", "prefetch", on_return=self._on_prefetch)
        self.wrap(engine.Executor, "channel_frame", "executor.channel_frame")
        self.wrap(engine.Executor, "bar_aggregate", "executor.bar_aggregate")
        self.wrap(engine.Executor, "release", "executor.release")
        self.wrap(engine, "eval_steps_local", "steps_local", on_return=self._served("steps_local"))
        self.wrap(coret_local, "eval_coret_local", "coret_local", on_return=self._on_coret_local)
        for ns in (engine, api):
            self.wrap(ns, "apply_tpath", "steps")
        self.wrap(engine, "apply_step", "steps")
        self.wrap_dict(engine.CORE_T_RUNNERS, "coret")
        for attr in ("scagnostics", "cdm_score", "sig_correlation", "sig_linearness", "sig_outstanding1"):
            self.wrap(engine, attr, "scoring")
        self.wrap(ClassicDataFrame, "toPandas", "collect")
        # the API's own DataFrame calls (sample, preview): each one is a
        # synchronous Catalyst analysis on the driver
        for attr in ("select", "limit", "orderBy", "cache"):
            self.wrap(ClassicDataFrame, attr, "plan", when=under_endpoint)
        self.wrap_property(ClassicDataFrame, "columns", "plan", when=under_endpoint)

    # ---- counters recorded at layer boundaries ----

    def _served(self, layer: str):
        def on_return(args, result) -> None:
            self.count(f"{layer}.served", result is not None)

        return on_return

    def _on_coret_local(self, args, result) -> None:
        from data_transformation_2022_spark.ml.coret_local import PROVEN_NONE

        self.count("coret_local.served", result is not None and result is not PROVEN_NONE)

    def _on_enumerate(self, args, result) -> None:
        self.count("enumerate.candidates", sum(len(v) for v in result.values()))

    def _on_recommend(self, args, result) -> None:
        self.count("charts.returned", len(result.charts))

    def _on_prefetch(self, args, result) -> None:
        ex, frame_jobs, bar_jobs = args[0], args[1], args[2]
        frames = {(c.signature(), coret) for c, coret in frame_jobs}
        bars = {
            (x, y.signature() if y is not None else None, agg) for x, y, agg in bar_jobs
        }
        self.count("frames.requested", len(frames))
        self.count("frames.served", sum(ex._frames.get(k) is not None for k in frames))
        self.count("bars.requested", len(bars))
        self.count("bars.served", sum(ex._bar_frames.get(k) is not None for k in bars))


# ---- analysis ----


def children_index(spans: list[Span]) -> dict[int, list[Span]]:
    out: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            out.setdefault(s.parent, []).append(s)
    return out


def self_time(span: Span, kids: dict[int, list[Span]]) -> float:
    covered = union_length(
        [(max(c.start, span.start), min(c.end, span.end)) for c in kids.get(span.sid, []) if c.end > span.start]
    )
    return max(0.0, (span.end - span.start) - covered)


def layer_busy(spans: list[Span], name: str) -> float:
    """Wall time during which at least one call of the layer was running."""
    return union_length([(s.start, s.end) for s in spans if s.name == name])


def spark_activity(sc) -> tuple[list[tuple[float, int]], list[dict]]:
    """(job submission times, per-stage metrics) from the status store.

    Times are converted from JVM epoch milliseconds to this process's
    ``perf_counter`` clock so they can be matched against spans."""
    offset = time.perf_counter() - time.time()
    store = sc._jsc.sc().statusStore()
    jobs = []
    jl = store.jobsList(None)
    for i in range(jl.size()):
        j = jl.apply(i)
        sub = j.submissionTime()
        if sub.isDefined():
            jobs.append((sub.get().getTime() / 1000.0 + offset, j.jobId()))
    stages = []
    quantiles = sc._gateway.new_array(sc._gateway.jvm.double, 0)
    sl = store.stageList(None, False, False, quantiles, None)
    for i in range(sl.size()):
        s = sl.apply(i)
        sub = s.submissionTime()
        if not sub.isDefined():
            continue  # never submitted (skipped): no work done
        stages.append(
            {
                "t": sub.get().getTime() / 1000.0 + offset,
                "tasks": s.numCompleteTasks(),
                "run_s": s.executorRunTime() / 1000.0,
                "cpu_s": s.executorCpuTime() / 1e9,
                "gc_s": s.jvmGcTime() / 1000.0,
                "shuffle_write_mb": s.shuffleWriteBytes() / 1e6,
            }
        )
    return jobs, stages
