"""Result checking and attempt accounting for the benchmark.

Every execution is checked after its timer stops:

- rows with a DuckDB twin (``queries.ORACLE``) are compared with the
  oracle's answer on the same generated parquet, both sides reduced to the
  canonical row form of ``scripts/check_correctness.py`` (``canon_df``:
  columns sorted by name, cells canonicalised, rows sorted);
- rows-only rows (no twin: ``minhash_pairs``, ``emb_near_dup_lsh``,
  ``distinct_approx``) are compared with the first result this run
  collected for them.

An error, a timeout or a mismatch each count as one failed attempt.
"""

from __future__ import annotations

import functools
import importlib.util
import os
import threading
import time
from collections.abc import Callable
from dataclasses import dataclass, field

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@functools.cache
def _check_correctness():
    path = os.path.join(REPO, "scripts", "check_correctness.py")
    spec = importlib.util.spec_from_file_location("_check_correctness", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def canonical(columns: list[str], rows: list[tuple]) -> list[tuple]:
    """``rows`` (tuples of python values, one per column) in canonical form."""
    import pandas as pd

    return _check_correctness().canon_df(pd.DataFrame.from_records(rows, columns=columns))


class Reference:
    """Expected canonical results: DuckDB oracle answers, else first results."""

    def __init__(self, data_dir: str, tables: tuple[str, ...], oracle_sql: dict[str, str]):
        import duckdb

        self._sql = oracle_sql
        self._con = duckdb.connect()
        for t in tables:
            self._con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')"
            )
        self._expected: dict[str, list[tuple]] = {}

    def check(self, row: str, columns: list[str], rows: list[tuple]) -> str | None:
        """None when ``rows`` is the expected answer, else what differs."""
        got = canonical(columns, rows)
        want = self._expected.get(row)
        if want is None:
            if row not in self._sql:
                self._expected[row] = got  # rows-only: the first result is the reference
                return None
            cur = self._con.execute(self._sql[row])
            cols = [d[0] for d in cur.description]
            if sorted(cols) != sorted(columns):
                return f"columns {sorted(columns)} != oracle {sorted(cols)}"
            want = self._expected[row] = canonical(cols, cur.fetchall())
        if got == want:
            return None
        if len(got) != len(want):
            return f"{len(got)} rows, expected {len(want)}"
        diff = next(i for i, (a, b) in enumerate(zip(got, want)) if a != b)
        return f"row {diff} differs: {got[diff]} != {want[diff]}"

    def close(self) -> None:
        self._con.close()


@dataclass
class Attempts:
    """Counts executions and the ones that failed, with the reason of each."""

    attempted: int = 0
    failed: int = 0
    failures: list[str] = field(default_factory=list)

    def record(self, row: str, problem: str | None) -> bool:
        self.attempted += 1
        if problem is not None:
            self.failed += 1
            self.failures.append(f"{row}: {problem}")
        return problem is None


class Timeout(Exception):
    pass


def run_with_timeout(
    work: Callable[[], object], timeout_s: float, cancel: Callable[[], None]
) -> tuple[object, float]:
    """Run ``work()`` and return (result, seconds). ``cancel`` is called from
    a timer thread once ``timeout_s`` has passed (for Spark: cancel the job
    group, which makes the running ``collect`` raise); a result that arrives
    after the deadline is a timeout too."""
    timer = threading.Timer(timeout_s, cancel)
    timer.daemon = True
    t0 = time.perf_counter()
    timer.start()
    try:
        result = work()
    except Exception as exc:
        if time.perf_counter() - t0 >= timeout_s:
            raise Timeout(f"timed out after {timeout_s:g} s") from exc
        raise
    finally:
        timer.cancel()
    secs = time.perf_counter() - t0
    if secs >= timeout_s:
        raise Timeout(f"took {secs:.1f} s, limit {timeout_s:g} s")
    return result, secs
