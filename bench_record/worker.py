"""One benchmark process: a fresh interpreter, JVM and SparkSession.

    python3 bench_record/worker.py --role probe|main --workload W --data DIR
        --out FILE [--warmup N --passes N --trace 0|1 --spans FILE]

Both roles time their own set-up (package import, then ``get_spark``). A
probe stops there. The main process then collects the workload's cheap
first row, runs the rest of the cold pass, the discarded warm-up passes and
the measured passes, resetting persisted state after every pass. With
``--trace 1`` every second measured pass runs with the layer wrappers
installed and reads the status store after each row. Every execution is
checked outside its timed region. Each measured pass is bracketed by a
fixed pure-Python reference loop, timed outside the pass, so that pass
times can be read in units of the host's speed during the run. The summary
goes to ``--out`` as JSON.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import sys
import time
from contextlib import nullcontext

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
ROW_TIMEOUT_S = 60.0
REF_LOOPS = 2_000_000  # host reference loop: about 0.15 s on this 4-core host

sys.path.insert(0, HERE)
import check  # noqa: E402 - stdlib only at import time
import tracing  # noqa: E402


def _no_span(name: str, **attrs):
    return nullcontext({})


class Session:
    """The process's Spark session and the row executions run in it."""

    def __init__(self, workload: str, data_dir: str) -> None:
        sys.path.insert(0, REPO)
        t0 = time.time()
        import bench
        from savio_training_dask_2019_spark import queries as catalog
        from savio_training_dask_2019_spark.queries import vectorops
        from savio_training_dask_2019_spark.session import get_spark

        t1 = time.time()
        self.spark = get_spark()
        self.ready_epoch = time.time()
        self.import_s, self.get_spark_s = t1 - t0, self.ready_epoch - t1
        self.catalog, self.vectorops, self.headline = catalog, vectorops, bench.HEADLINE
        self.workload, self.data_dir = workload, data_dir
        self.sc = self.spark.sparkContext
        self.attempts = check.Attempts()
        self.reference: check.Reference | None = None
        self._seq = 0

    def execute(self, row: str, tracer: tracing.Tracer | None = None) -> dict:
        """Build and collect one row under its own job group; the timer
        covers exactly the build and the collect."""
        self._seq += 1
        group = f"{row}-{self._seq}"
        self.sc.setJobGroup(group, f"{self.workload}: {row}", interruptOnCancel=True)
        query = self.catalog.QUERIES[self.headline[row]]
        rec: dict = {"row": row, "group": group, "start_ms": time.time() * 1e3}
        span = tracer.span if tracer else _no_span

        def work():
            with span("row", row=row):
                t0 = time.perf_counter()
                with span("build"):
                    df = query(self.spark, self.data_dir)
                t1 = time.perf_counter()
                with span("collect"):
                    rows = df.collect()
                rec["build_s"], rec["collect_s"] = t1 - t0, time.perf_counter() - t1
            return df, rows

        try:
            rec["result"], rec["s"] = check.run_with_timeout(
                work, ROW_TIMEOUT_S, lambda: self.sc.cancelJobGroup(group)
            )
        except Exception as exc:  # noqa: BLE001 - any failure is one failed attempt
            rec["s"] = time.time() - rec["start_ms"] / 1e3
            rec["problem"] = f"{type(exc).__name__}: {(str(exc).splitlines() or [''])[0]}"
        rec["end_ms"] = time.time() * 1e3
        self.sc.setJobGroup(None, None)
        return rec

    def finish(self, rec: dict, traced: bool = False) -> dict:
        """Check one execution (outside its timed region) and, when traced,
        read its status-store and plan metrics."""
        if self.reference is None:
            import datagen

            self.reference = check.Reference(self.data_dir, datagen.TABLES, self.catalog.ORACLE)
        problem = rec.pop("problem", None)
        df, rows = rec.pop("result", (None, None))
        if problem is None:
            problem = self.reference.check(rec["row"], df.columns, [tuple(r) for r in rows])
        rec["ok"] = self.attempts.record(rec["row"], problem)
        if traced and rec["ok"]:
            from savio_training_dask_2019_spark import plans

            rec["status"] = tracing.job_group_metrics(
                self.spark, rec["group"], rec["start_ms"], rec["end_ms"]
            )
            rec["plans"] = {
                "shuffle_count": plans.shuffle_count(df),
                "broadcast_join_count": plans.broadcast_join_count(df),
                "single_partition_exchange_count": plans.single_partition_exchange_count(df),
            }
        return rec

    def reset(self) -> dict:
        """Drop persisted state (a batch over a new corpus pays the rebuild),
        then read what survives and the retained heap."""
        self.spark.catalog.clearCache()
        self.vectorops.invalidate_cached_indexes()
        # drop the pass's Python-side proxies now, so the JVM objects they pin
        # are freed here rather than whenever Python's collector next runs
        gc.collect()
        return {
            "persisted_bytes": tracing.persisted_bytes(self.spark),
            "heap_bytes": tracing.retained_heap_bytes(self.spark),
        }

    def peak_rss_mb(self) -> float:
        pid = self.spark._jvm.java.lang.ProcessHandle.current().pid()
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024
        return 0.0

    def close(self) -> None:
        if self.reference is not None:
            self.reference.close()
        self.spark.stop()


def host_ref_s() -> float:
    """Time of a fixed pure-Python loop: how fast the host runs right now.
    Taken at pass boundaries, outside the timed region."""
    t0 = time.perf_counter()
    x = 0
    for i in range(REF_LOOPS):
        x += i * i
    return time.perf_counter() - t0


def run_pass(sess: Session, rows: tuple[str, ...], tracer: tracing.Tracer | None = None) -> dict:
    """One pass over ``rows``; with a tracer, under the layer wrappers."""
    wrappers = None
    if tracer is not None:
        wrappers = tracing.Wrappers(tracer)
        wrappers.install()
        tracer.take_counters()
    try:
        span = tracer.span("pass", workload=sess.workload) if tracer else _no_span("pass")
        with span:
            execs = [sess.execute(row, tracer) for row in rows]
    finally:
        if wrappers is not None:
            wrappers.uninstall()
    out: dict = {"traced": tracer is not None}
    if tracer is not None:
        counts, secs = tracer.take_counters()
        out["counters"] = {**counts, **secs}
    out["execs"] = [sess.finish(e, traced=tracer is not None) for e in execs]
    out["pass_s"] = sum(e["s"] for e in execs)
    out.update(sess.reset())
    return out


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--role", choices=("probe", "main"), required=True)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--data", required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--warmup", type=int, default=0)
    ap.add_argument("--passes", type=int, default=0)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--spans", default="")
    args = ap.parse_args()

    from workloads import WORKLOADS

    rows = WORKLOADS[args.workload].rows
    sess = Session(args.workload, args.data)
    result = {
        "import_s": sess.import_s,
        "get_spark_s": sess.get_spark_s,
        "ready_epoch": sess.ready_epoch,
    }
    if args.role == "main":
        first = sess.execute(rows[0])
        result["first_epoch"] = first["end_ms"] / 1e3
        cold = [sess.finish(first)] + [sess.finish(sess.execute(r)) for r in rows[1:]]
        result["cold_pass_s"] = sum(e["s"] for e in cold)
        sess.reset()
        result["warmup_s"] = [run_pass(sess, rows)["pass_s"] for _ in range(args.warmup)]
        tracer = tracing.Tracer() if args.trace else None
        result["passes"] = []
        ref = host_ref_s()
        for i in range(args.passes):
            p = run_pass(sess, rows, tracer if i % 2 else None)
            after = host_ref_s()
            p["ref_s"] = (ref + after) / 2  # the host's speed around the pass
            result["passes"].append(p)
            ref = after
        result["peak_rss_mb"] = sess.peak_rss_mb()
        if tracer is not None and args.spans:
            with open(args.spans, "w") as fh:
                json.dump(tracer.spans, fh)
    result.update(
        attempted=sess.attempts.attempted,
        failed=sess.attempts.failed,
        failures=sess.attempts.failures,
    )
    sess.close()
    with open(args.out, "w") as fh:
        json.dump(result, fh)


if __name__ == "__main__":
    main()
