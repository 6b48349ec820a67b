"""Attempt accounting: a corrupted result and a timeout each count as one
failed attempt, through the same execute/finish path the benchmark runs."""

from __future__ import annotations

import time
from types import SimpleNamespace

import pytest

import check
import worker


@pytest.fixture()
def session(spark, data_dir):
    sess = worker.Session("text_dedup", data_dir)
    yield sess
    if sess.reference is not None:
        sess.reference.close()


def _use_queries(sess, queries: dict, oracle: dict) -> None:
    sess.catalog = SimpleNamespace(QUERIES=queries, ORACLE=oracle)
    sess.headline = {name: name for name in queries}


def test_correct_result_passes(session):
    from savio_training_dask_2019_spark import queries as catalog

    _use_queries(session, {"topk": catalog.QUERIES["topk"]}, {"topk": catalog.ORACLE["topk"]})
    session.finish(session.execute("topk"))
    assert (session.attempts.attempted, session.attempts.failed) == (1, 0)


def test_corrupted_result_counts_as_failed(session):
    from pyspark.sql import functions as F

    from savio_training_dask_2019_spark import queries as catalog

    def corrupted(spark, sf_dir):
        df = catalog.QUERIES["topk"](spark, sf_dir)
        return df.withColumn("total", F.col("total") + F.lit(0.01))

    _use_queries(session, {"topk": corrupted}, {"topk": catalog.ORACLE["topk"]})
    rec = session.finish(session.execute("topk"))
    assert not rec["ok"]
    assert (session.attempts.attempted, session.attempts.failed) == (1, 1)
    assert "differs" in session.attempts.failures[0]


def test_timeout_counts_as_failed(session, monkeypatch):
    from pyspark.sql import functions as F

    @F.udf("long")
    def slow(x):
        time.sleep(30)
        return x

    def slow_query(spark, sf_dir):
        return spark.range(1).select(slow("id").alias("id"))

    monkeypatch.setattr(worker, "ROW_TIMEOUT_S", 2.0)
    _use_queries(session, {"slow": slow_query}, {})
    t0 = time.perf_counter()
    rec = session.finish(session.execute("slow"))
    assert time.perf_counter() - t0 < 25  # the job group was cancelled, not waited out
    assert not rec["ok"]
    assert (session.attempts.attempted, session.attempts.failed) == (1, 1)
    assert "Timeout" in session.attempts.failures[0]


def test_late_result_is_a_timeout():
    with pytest.raises(check.Timeout):
        check.run_with_timeout(lambda: time.sleep(0.3), 0.1, lambda: None)


def test_rows_only_rows_compare_with_first_result(data_dir):
    ref = check.Reference(data_dir, (), {})
    assert ref.check("minhash_pairs", ["a"], [(1,), (2,)]) is None
    assert ref.check("minhash_pairs", ["a"], [(2,), (1,)]) is None
    assert ref.check("minhash_pairs", ["a"], [(1,), (3,)]) is not None
    ref.close()
