"""The tracer reads from outside: reading stage metrics, plan counts and
persisted bytes runs no Spark job and leaves the query's plan unchanged;
uninstalling the wrappers restores every original binding."""

from __future__ import annotations

import re
import sys
import time

from savio_training_dask_2019_spark import plans
from savio_training_dask_2019_spark import queries as catalog

import tracing


def _job_count(spark) -> int:
    jsc = spark.sparkContext._jsc.sc()
    jsc.listenerBus().waitUntilEmpty(10_000)
    return jsc.statusStore().jobsList(None).size()


def _plan_text(df) -> str:
    return re.sub(r"#\d+", "#", df._jdf.queryExecution().executedPlan().toString())


def _bindings() -> dict:
    snap = {}
    for name, mod in list(sys.modules.items()):
        if name.startswith(tracing.PKG) and mod is not None:
            for attr, value in vars(mod).items():
                snap[(name, attr)] = value
    from savio_training_dask_2019_spark.cache import BoundedCache

    snap[("BoundedCache", "get")] = BoundedCache.get
    return snap


def test_reading_metrics_runs_no_job_and_keeps_the_plan(spark, data_dir):
    sc = spark.sparkContext
    sc.setJobGroup("probe-group", "tracing test")
    df = catalog.QUERIES["join_3way"](spark, data_dir)
    start = time.time() * 1e3
    df.collect()
    end = time.time() * 1e3
    sc.setJobGroup(None, None)
    before_jobs, before_plan = _job_count(spark), _plan_text(df)

    status = tracing.job_group_metrics(spark, "probe-group", start, end)
    counts = (
        plans.shuffle_count(df),
        plans.broadcast_join_count(df),
        plans.single_partition_exchange_count(df),
    )
    tracing.persisted_bytes(spark)
    tracing.retained_heap_bytes(spark)

    assert status["jobs"] >= 1 and status["tasks"] >= status["stages"] >= 1
    assert counts[0] >= 1
    assert _job_count(spark) == before_jobs
    assert _plan_text(df) == before_plan


def test_traced_build_has_the_untraced_plan(spark, data_dir):
    plain = catalog.QUERIES["semdedup_clusters"](spark, data_dir)
    tracer = tracing.Tracer()
    wrappers = tracing.Wrappers(tracer)
    wrappers.install()
    try:
        traced = catalog.QUERIES["semdedup_clusters"](spark, data_dir)
    finally:
        wrappers.uninstall()
    # expression ids, operator ids and lambda variable numbers differ per build
    ids = re.compile(r"#\d+|\(\d+\)|\[id=\d+\]|plan_id=\d+|(?<=\b[a-z])_\d+\b")
    assert ids.sub("", plans.formatted_plan(traced)) == ids.sub("", plans.formatted_plan(plain))
    names = {s["name"] for s in tracer.spans}
    assert "sources.load_table_spread" in names
    assert tracer.counts["operators.dedup.calls"] == 1


def test_uninstall_restores_every_binding(spark):
    from savio_training_dask_2019_spark.queries import relational

    original = _bindings()
    wrappers = tracing.Wrappers(tracing.Tracer())
    wrappers.install()
    try:
        assert relational.load_table is not original[(relational.__name__, "load_table")]
    finally:
        wrappers.uninstall()
    after = _bindings()
    assert after.keys() == original.keys()
    assert all(after[k] is original[k] for k in original)
