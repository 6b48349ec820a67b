"""Fixtures for the benchmark's own tests: one local SparkSession and one
small generated input set, shared by every test.

    python -m pytest bench_record/tests -q
"""

from __future__ import annotations

import os
import sys

import pytest

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
REPO = os.path.dirname(HERE)
for path in (HERE, REPO):
    if path not in sys.path:
        sys.path.insert(0, path)


@pytest.fixture(scope="session")
def spark():
    os.environ.setdefault("SPARK_GRAFT_CPUS", "2")
    from savio_training_dask_2019_spark.session import get_spark

    yield get_spark(app_name="bench_record_tests")


@pytest.fixture(scope="session")
def data_dir(tmp_path_factory):
    import datagen

    out = str(tmp_path_factory.mktemp("inputs"))
    datagen.generate(out, 0.001, seed=5)
    return out
