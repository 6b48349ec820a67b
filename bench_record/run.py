#!/usr/bin/env python3
"""Benchmark of record: one workload, one seed, one run.

    python3 bench_record/run.py --workload llm_dedup --seed 1 --seconds 20 --trace 0

Run from the repository root. The run

1. records host state (1-minute load, cores, seed, bench.py's quiet-host
   threshold) and flags a busy start instead of waiting it out;
2. empties its Spark local, temp and warehouse dirs under ``.benchwork/``;
3. generates the ten input tables from ``--seed`` (not part of any timing);
4. starts SETUP_PROCESSES fresh processes one after another (closed loop,
   one client, ``local[<cores>]``); each times its set-up, and the last one
   goes on to its first result, the cold pass, a fixed number of discarded
   warm-up passes and a fixed number of measured passes (``workloads.py``);
5. prints every metric with its unit and, as the last line, one JSON object
   with ``correct``, ``attempted``, ``failed`` and ``metrics``: the
   end-to-end metrics with ``--trace 0``, the per-layer ones with
   ``--trace 1``. End-to-end pass and query times are in ``ref`` units
   (the run's median time of a fixed reference loop, see ``worker.py``);
   the same figures in seconds are per-layer metrics.

Everything it writes stays under ``.benchwork/``; spans and the full
result of each run are kept there.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
WORK = os.path.join(REPO, ".benchwork")
sys.path.insert(0, HERE)
import tracing  # noqa: E402 - stdlib only at import time
SETUP_PROCESSES = 2  # fresh processes per run, one after the other; the last measures
RUN_DEADLINE_S = 170.0

E2E_UNITS = {
    "setup_s": "s",
    "pass_ref": "ref",
    "query_ref.p50": "ref",
    "query_ref.tail": "ref",
    "query_ref.geomean": "ref",
    "heap_retained_mb": "MB",
}

STATUS_KEYS = (
    "jobs",
    "stages",
    "tasks",
    "executor_run_s",
    "executor_cpu_s",
    "shuffle_read_mb",
    "shuffle_write_mb",
    "spill_mb",
    "gc_s",
    "driver_gap_s",
)
PLAN_KEYS = ("shuffle_count", "broadcast_join_count", "single_partition_exchange_count")


def layer_units() -> dict[str, str]:
    units = {
        "session.import_s": "s",
        "session.get_spark_s": "s",
        "session.first_result_s": "s",
        "sources.load_calls": "count",
        "sources.load_s": "s",
        "sources.spread_calls": "count",
        "sources.spread_frac": "fraction",
        "cache.hits": "count",
        "cache.hit_frac": "fraction",
        "cache.persisted_mb": "MB",
        "queries.build_s": "s",
        "queries.collect_s": "s",
        "queries.cold_pass_s": "s",
        "queries.pass_s": "s",
        "queries.query_s.p50": "s",
        "queries.query_s.tail": "s",
        "queries.query_s.geomean": "s",
        "host.ref_s": "s",
        "queries.single_task_stage_frac": "fraction",
        "queries.core_util": "fraction",
    }
    for key in STATUS_KEYS:
        units[f"queries.{key}"] = "s" if key.endswith("_s") else (
            "MB" if key.endswith("_mb") else "count"
        )
    for mod in tracing.OPERATOR_MODULES:
        units[f"operators.{mod}.calls"] = "count"
        units[f"operators.{mod}.s"] = "s"
    for key in PLAN_KEYS:
        units[f"plans.{key}"] = "count"
    units["trace.overhead_s"] = "s"
    return units


def tail(per_row: dict[str, list[float]]) -> tuple[float, str]:
    """The highest percentile of all row executions with at least 10 of
    them beyond it. Below 21 executions that percentile would sit under the
    median, and the slowest row's median stands in for it."""
    xs = sorted(s for v in per_row.values() for s in v)
    if len(xs) >= 21:
        k = len(xs) - 11
        return xs[k], f"p{100.0 * (k + 1) / len(xs):.0f} of {len(xs)} row executions"
    row = max(per_row, key=lambda r: statistics.median(per_row[r]))
    return statistics.median(per_row[row]), (
        f"{len(xs)} row executions (< 21): median of the slowest row, {row}"
    )


def query_stats(measured: list[dict], unit: float) -> tuple[dict, str, dict]:
    """Per-row executions of the measured passes, divided by ``unit``: p50 (median over rows of each row's median; with two
    rows of unlike cost the pooled median would sit on the gap between
    them), tail and geomean of the row medians."""
    per_row: dict[str, list[float]] = {}
    for p in measured:
        for e in p["execs"]:
            per_row.setdefault(e["row"], []).append(e["s"] / unit)
    tail_v, tail_note = tail(per_row)
    medians = [statistics.median(xs) for xs in per_row.values()]
    stats = {
        "p50": statistics.median(medians),
        "tail": tail_v,
        "geomean": math.exp(sum(math.log(m) for m in medians) / len(medians)),
    }
    return stats, tail_note, {r: statistics.median(xs) for r, xs in per_row.items()}


def end_to_end(setups: list[dict], main: dict) -> tuple[dict, dict, list[str]]:
    """The end-to-end metrics, and the same figures in seconds (which go to
    the per-layer set). Pass and query times are read in ``ref`` units:
    divided by the run's median time of the host reference loop, which
    cancels the host's own speed swings from run to run."""
    measured = [p for p in main["passes"] if not p["traced"]]
    ref_s = statistics.median(p["ref_s"] for p in measured)
    ref, tail_note, ref_rows = query_stats(measured, ref_s)
    sec, _, sec_rows = query_stats(measured, 1.0)
    metrics = {
        "setup_s": statistics.median(s["ready_epoch"] - s["spawn_epoch"] for s in setups),
        "pass_ref": statistics.median(p["pass_s"] for p in measured) / ref_s,
        **{f"query_ref.{k}": v for k, v in ref.items()},
        "heap_retained_mb": statistics.median(p["heap_bytes"] for p in measured) / 1e6,
    }
    seconds = {
        "queries.pass_s": statistics.median(p["pass_s"] for p in measured),
        **{f"queries.query_s.{k}": v for k, v in sec.items()},
        "host.ref_s": ref_s,
    }
    notes = [
        f"pass_ref over {len(measured)} measured passes",
        f"query_ref.tail: {tail_note}",
    ] + [
        f"row {r}: median {sec_rows[r]:.4f} s, {ref_rows[r]:.4f} ref over {len(measured)}"
        for r in sec_rows
    ]
    return metrics, seconds, notes


def per_layer(setups: list[dict], main: dict, cores: int) -> dict:
    traced = [p for p in main["passes"] if p["traced"]]
    untraced = [p for p in main["passes"] if not p["traced"]]
    per_pass: list[dict] = []
    for p in traced:
        c = p["counters"]
        execs = p["execs"]
        status = {k: sum(e.get("status", {}).get(k, 0) for e in execs) for k in STATUS_KEYS}
        single = sum(e.get("status", {}).get("single_task_stages", 0) for e in execs)
        wall = sum(e["s"] for e in execs)
        m = {
            "sources.load_calls": c.get("sources.load_calls", 0),
            "sources.load_s": c.get("sources.load_s", 0.0),
            "sources.spread_calls": c.get("sources.spread_calls", 0),
            "sources.spread_frac": c.get("sources.spread_added", 0)
            / max(1, c.get("sources.spread_calls", 0)),
            "cache.hits": c.get("cache.hits", 0),
            "cache.hit_frac": c.get("cache.hits", 0) / max(1, c.get("cache.gets", 0)),
            "cache.persisted_mb": p["persisted_bytes"] / 1e6,
            "queries.build_s": sum(e.get("build_s", 0.0) for e in execs),
            "queries.collect_s": sum(e.get("collect_s", 0.0) for e in execs),
            "queries.single_task_stage_frac": single / max(1, status["stages"]),
            "queries.core_util": status["executor_run_s"] / (cores * wall),
        }
        m.update({f"queries.{k}": v for k, v in status.items()})
        for mod in tracing.OPERATOR_MODULES:
            m[f"operators.{mod}.calls"] = c.get(f"operators.{mod}.calls", 0)
            m[f"operators.{mod}.s"] = c.get(f"operators.{mod}.s", 0.0)
        for key in PLAN_KEYS:
            m[f"plans.{key}"] = sum(e.get("plans", {}).get(key, 0) for e in execs)
        per_pass.append(m)
    out = {k: statistics.median(m[k] for m in per_pass) for k in per_pass[0]}
    out["session.import_s"] = statistics.median(s["import_s"] for s in setups)
    out["session.get_spark_s"] = statistics.median(s["get_spark_s"] for s in setups)
    out["session.first_result_s"] = main["first_epoch"] - main["spawn_epoch"]
    out["queries.cold_pass_s"] = main["cold_pass_s"]
    out["trace.overhead_s"] = statistics.median(p["pass_s"] for p in traced) - statistics.median(
        p["pass_s"] for p in untraced
    )
    return out


def host_state(seed: int) -> dict:
    sys.path.insert(0, REPO)
    import bench

    load = os.getloadavg()[0]
    threshold = bench._settle_threshold()
    return {
        "load_1min": load,
        "nproc": len(os.sched_getaffinity(0)),
        "seed": seed,
        "quiet_threshold": threshold,
        "busy_host": load > threshold,
    }


def fresh_dirs(*names: str) -> list[str]:
    paths = []
    for name in names:
        path = os.path.join(WORK, name)
        shutil.rmtree(path, ignore_errors=True)
        os.makedirs(path)
        paths.append(path)
    return paths


def spawn(cmd: list[str], env: dict, log_path: str, deadline: float) -> float:
    """Run one worker to completion; returns its spawn time (epoch)."""
    with open(log_path, "ab") as log:
        spawned = time.time()
        proc = subprocess.Popen(cmd, env=env, stdout=log, stderr=log, start_new_session=True)
        try:
            code = proc.wait(timeout=max(1.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            raise RuntimeError(f"worker passed the {RUN_DEADLINE_S:g} s run deadline")
        finally:
            _reap_group(proc.pid)
    if code != 0:
        raise RuntimeError(f"worker exited with {code}; see {log_path}")
    return spawned


def _reap_group(pgid: int) -> None:
    """Wait until the worker's process group (its JVM included) is gone."""
    for _ in range(100):
        try:
            os.killpg(pgid, 0)
        except ProcessLookupError:
            return
        time.sleep(0.1)
    try:
        os.killpg(pgid, signal.SIGKILL)
    except ProcessLookupError:
        pass


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawTextHelpFormatter)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    deadline = time.monotonic() + RUN_DEADLINE_S

    import datagen
    import workloads

    if not os.path.isfile(os.path.join(REPO, "savio_training_dask_2019_spark", "__init__.py")):
        print("engine package not found beside the benchmark", file=sys.stderr)
        return 2
    if args.workload not in workloads.WORKLOADS:
        print(f"unknown workload {args.workload!r}; have {sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2
    wl = workloads.WORKLOADS[args.workload]
    host = host_state(args.seed)

    local, tmp, warehouse, data, logs = fresh_dirs("spark-local", "tmp", "warehouse", "data", "logs")
    rows_in = datagen.generate(data, workloads.SCALE, args.seed)
    env = dict(
        os.environ,
        SPARK_GRAFT_CPUS=str(host["nproc"]),
        SPARK_LOCAL_DIRS=local,
        SPARK_GRAFT_WAREHOUSE=warehouse,
        TMPDIR=tmp,
        PYSPARK_SUBMIT_ARGS=f"--driver-java-options -Djava.io.tmpdir={tmp} pyspark-shell",
        PYTHONPATH=REPO,
    )
    env.pop("OMP_NUM_THREADS", None)
    passes = wl.measured_passes(args.seconds)
    if args.trace:
        passes += passes % 2  # traced and untraced passes alternate
    tag = f"{args.workload}-{args.seed}-trace{args.trace}"
    spans_path = os.path.join(WORK, f"spans-{tag}.json")
    worker = [sys.executable, os.path.join(HERE, "worker.py"), "--workload", args.workload, "--data", data]

    setups = []
    for i in range(SETUP_PROCESSES):
        role = "main" if i == SETUP_PROCESSES - 1 else "probe"
        out = os.path.join(WORK, f"{role}{i}-{tag}.json")
        cmd = worker + ["--role", role, "--out", out]
        if role == "main":
            cmd += ["--warmup", str(wl.warmup), "--passes", str(passes)]
            cmd += ["--trace", str(args.trace), "--spans", spans_path]
        spawned = spawn(cmd, env, os.path.join(logs, f"{role}{i}.log"), deadline)
        with open(out) as fh:
            res = json.load(fh)
        res["spawn_epoch"] = spawned
        setups.append(res)
    main_res = setups[-1]
    attempted = sum(s["attempted"] for s in setups)
    failed = sum(s["failed"] for s in setups)

    e2e, seconds, notes = end_to_end(setups, main_res)
    if args.trace:
        metrics = {**per_layer(setups, main_res, host["nproc"]), **seconds}
        units = layer_units()
    else:
        metrics, units = e2e, E2E_UNITS

    print(f"workload {args.workload}: rows {', '.join(wl.rows)}")
    print("inputs: " + ", ".join(f"{t}={n}" for t, n in rows_in.items()))
    print("host: " + json.dumps(host))
    print(
        f"set-up processes: {len(setups)}; measured passes: {passes} after the cold pass "
        f"and {wl.warmup} discarded warm-up passes; persisted state reset after every pass"
    )
    for line in notes:
        print(line)
    for name, v in seconds.items():
        print(f"{name}: {v:.4f} s")
    print(f"peak_rss_mb (JVM of the measuring process): {main_res['peak_rss_mb']:.1f} MB")
    print(f"queries.cold_pass_s: {main_res['cold_pass_s']:.4f} s")
    print("warm-up passes (discarded): " + ", ".join(f"{x:.4f} s" for x in main_res["warmup_s"]))
    print(f"session.first_result_s: {main_res['first_epoch'] - main_res['spawn_epoch']:.4f} s")
    if args.trace:
        print(f"spans: {spans_path}")
    for name in sorted(metrics):
        print(f"{name} = {metrics[name]:.6g} {units[name]}")
    for failure in [f for s in setups for f in s["failures"]]:
        print(f"FAILED {failure}")

    record = {
        "host": host, "inputs": rows_in, "passes": passes, "metrics": metrics,
        "e2e": e2e, "seconds": seconds,
    }
    with open(os.path.join(WORK, f"result-{tag}.json"), "w") as fh:
        json.dump(record, fh, indent=1)
    print(
        json.dumps(
            {
                "correct": failed == 0,
                "attempted": attempted,
                "failed": failed,
                "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
