"""Layer tracing from outside the engine.

``Tracer`` keeps spans (name, start, end, parent) and counters in memory;
``Wrappers`` installs timing wrappers around the public functions of the
engine's layers wherever the query catalog bound them, and restores every
original binding on ``uninstall``. ``job_group_metrics``,
``persisted_bytes`` and ``retained_heap_bytes`` read Spark's status store,
block manager and JVM directly; none of them runs a Spark job.

Span tree: pass -> row -> build | collect -> sources.* | operators.*.
"""

from __future__ import annotations

import ast
import functools
import inspect
import sys
import time
from collections import Counter
from contextlib import contextmanager

PKG = "savio_training_dask_2019_spark"
SOURCE_FUNCS = ("load_table", "load_table_spread", "ensure_min_partitions")
SPREAD_FUNCS = ("load_table_spread", "ensure_min_partitions")
OPERATOR_MODULES = ("dedup", "similarity")  # the operator modules the workloads' rows call


class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict] = []
        self.counts: Counter = Counter()
        self.secs: Counter = Counter()
        self._stack: list[int] = []
        self._t0 = time.perf_counter()

    @contextmanager
    def span(self, name: str, **attrs):
        sid = len(self.spans)
        rec = {"id": sid, "name": name, "parent": self._stack[-1] if self._stack else None}
        rec.update(attrs)
        self.spans.append(rec)
        self._stack.append(sid)
        start = time.perf_counter()
        try:
            yield rec
        finally:
            end = time.perf_counter()
            self._stack.pop()
            rec["start_s"] = start - self._t0
            rec["end_s"] = end - self._t0

    def inside(self, prefix: str) -> bool:
        """True when an open span's name starts with ``prefix``."""
        return any(self.spans[i]["name"].startswith(prefix) for i in self._stack)

    def take_counters(self) -> tuple[Counter, Counter]:
        counts, secs = self.counts, self.secs
        self.counts, self.secs = Counter(), Counter()
        return counts, secs


@functools.cache
def _imported_in_functions(opmod: str) -> tuple[str, ...]:
    """Names that query-catalog functions import from ``operators.<opmod>``
    inside their bodies (``from ..operators.<opmod> import name``)."""
    names: set[str] = set()
    for name, mod in sorted(sys.modules.items()):
        if not name.startswith(f"{PKG}.queries.") or mod is None:
            continue
        tree = ast.parse(inspect.getsource(mod))
        for fn in ast.walk(tree):
            if not isinstance(fn, ast.FunctionDef):
                continue
            for node in ast.walk(fn):
                if isinstance(node, ast.ImportFrom) and node.level == 2 and node.module == f"operators.{opmod}":
                    names.update(alias.name for alias in node.names)
    return tuple(sorted(names))


def _is_repartition(df) -> bool:
    plan = df._jdf.queryExecution().logical()
    return plan.getClass().getSimpleName() in ("Repartition", "RepartitionByExpression")


class Wrappers:
    """Timing wrappers over the sources, cache and operators layers."""

    def __init__(self, tracer: Tracer) -> None:
        self._tracer = tracer
        self._saved: list[tuple[object, str, object]] = []

    def _bind(self, owner: object, attr: str, new: object) -> None:
        self._saved.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, new)

    def _package_modules(self) -> list:
        return [m for n, m in sorted(sys.modules.items()) if n.startswith(PKG) and m is not None]

    def install(self) -> None:
        from savio_training_dask_2019_spark import cache
        from savio_training_dask_2019_spark.sources import parquet

        for fname in SOURCE_FUNCS:
            original = getattr(parquet, fname)
            wrapped = self._source_wrapper(fname, original)
            for mod in self._package_modules():
                if getattr(mod, fname, None) is original:
                    self._bind(mod, fname, wrapped)
        self._bind(cache.BoundedCache, "get", self._cache_wrapper(cache.BoundedCache.get))
        query_mods = [m for m in self._package_modules() if m.__name__.startswith(f"{PKG}.queries")]
        for opmod in OPERATOR_MODULES:
            modname = f"{PKG}.operators.{opmod}"
            for mod in query_mods:
                for attr, value in list(vars(mod).items()):
                    if callable(value) and getattr(value, "__module__", None) == modname:
                        self._bind(mod, attr, self._operator_wrapper(opmod, attr, value))
            # a query that imports an operator inside its body reads the
            # operator module's attribute at call time
            operator_mod = sys.modules[modname]
            for attr in _imported_in_functions(opmod):
                original = getattr(operator_mod, attr)
                self._bind(operator_mod, attr, self._operator_wrapper(opmod, attr, original))

    def uninstall(self) -> None:
        while self._saved:
            owner, attr, original = self._saved.pop()
            setattr(owner, attr, original)

    def _source_wrapper(self, fname: str, fn):
        tracer = self._tracer

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            outer = not tracer.inside("sources.")
            with tracer.span(f"sources.{fname}") as rec:
                t0 = time.perf_counter()
                df = fn(*args, **kwargs)
                secs = time.perf_counter() - t0
            tracer.counts["sources.load_calls"] += 1
            if outer:
                tracer.secs["sources.load_s"] += secs
            if fname in SPREAD_FUNCS:
                tracer.counts["sources.spread_calls"] += 1
                added = _is_repartition(df)
                tracer.counts["sources.spread_added"] += added
                rec["spread_added"] = added
            return df

        return wrapper

    def _cache_wrapper(self, fn):
        tracer = self._tracer

        @functools.wraps(fn)
        def get(cache, key):
            value = fn(cache, key)
            tracer.counts["cache.gets"] += 1
            tracer.counts["cache.hits"] += value is not None
            return value

        return get

    def _operator_wrapper(self, opmod: str, attr: str, fn):
        tracer = self._tracer

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            outer = not tracer.inside(f"operators.{opmod}.")
            with tracer.span(f"operators.{opmod}.{attr}"):
                t0 = time.perf_counter()
                try:
                    return fn(*args, **kwargs)
                finally:
                    if outer:
                        tracer.counts[f"operators.{opmod}.calls"] += 1
                        tracer.secs[f"operators.{opmod}.s"] += time.perf_counter() - t0

        return wrapper


def _opt_ms(opt) -> float | None:
    return opt.get().getTime() if opt.isDefined() else None


def job_group_metrics(spark, group: str, start_ms: float, end_ms: float) -> dict[str, float]:
    """Jobs, stages, tasks and executor metrics of one job group, from the
    status store. ``start_ms``/``end_ms`` bound the execution's wall time;
    the part of it no job was running is the driver gap."""
    sc = spark.sparkContext
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty(10_000)
    store = jsc.statusStore()
    out = Counter()
    intervals = []
    stage_ids: set[int] = set()
    for jid in sc.statusTracker().getJobIdsForGroup(group):
        job = store.job(jid)
        out["jobs"] += 1
        ids = job.stageIds()
        stage_ids.update(ids.apply(i) for i in range(ids.size()))
        sub, done = _opt_ms(job.submissionTime()), _opt_ms(job.completionTime())
        if sub is not None:
            intervals.append((max(sub, start_ms), min(done or end_ms, end_ms)))
    for sid in sorted(stage_ids):
        st = store.lastStageAttempt(sid)
        if st.status().toString() != "COMPLETE":
            continue  # skipped: its output was reused
        out["stages"] += 1
        out["tasks"] += st.numCompleteTasks()
        out["single_task_stages"] += st.numTasks() == 1
        out["executor_run_s"] += st.executorRunTime() / 1e3
        out["executor_cpu_s"] += st.executorCpuTime() / 1e9
        out["shuffle_read_mb"] += st.shuffleReadBytes() / 1e6
        out["shuffle_write_mb"] += st.shuffleWriteBytes() / 1e6
        out["spill_mb"] += (st.memoryBytesSpilled() + st.diskBytesSpilled()) / 1e6
        out["gc_s"] += st.jvmGcTime() / 1e3
    covered, last = 0.0, start_ms
    for a, b in sorted(intervals):
        a = max(a, last)
        if b > a:
            covered += b - a
            last = b
    out["driver_gap_s"] = max(0.0, (end_ms - start_ms) - covered) / 1e3
    return dict(out)


def persisted_bytes(spark) -> int:
    """Bytes the block manager holds for persisted and checkpointed RDDs."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(i.memSize() + i.diskSize() for i in infos)


def retained_heap_bytes(spark) -> int:
    """Driver JVM heap in use right after a forced full collection. A first
    collection queues the dead broadcasts and shuffles for Spark's context
    cleaner; 0.2 s later the second one frees what it released."""
    mx = spark._jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    mx.gc()
    time.sleep(0.2)
    mx.gc()
    return mx.getHeapMemoryUsage().getUsed()
