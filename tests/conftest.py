from __future__ import annotations

import itertools
import os

import pytest

# Spark's Python workers import step functions defined in test modules by
# reference; make the tests dir importable in workers (must be set before the
# JVM/gateway launches so the env propagates).
_TESTS_DIR = os.path.dirname(os.path.abspath(__file__))
os.environ["PYTHONPATH"] = (
    _TESTS_DIR + os.pathsep + os.environ.get("PYTHONPATH", "")
)

from polars_numba_spark import get_spark  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    s = get_spark(
        app_name="polars-numba-spark-tests",
        master="local[4]",
        shuffle_partitions=4,
    )
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


@pytest.fixture()
def tiny_batches(spark):
    """Adversarial 19-row Arrow batches for one test, so groups span many
    batches and every batch-boundary carry path runs. The previous value is
    set back afterwards: ``conf.unset`` would fall back to Spark's default,
    not the session's."""
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    previous = spark.conf.get(key)
    spark.conf.set(key, "19")
    yield
    spark.conf.set(key, previous)


@pytest.fixture()
def many_splits(spark):
    """``spark.sql.files.maxPartitionBytes=1k`` for one test, so every
    parquet table plans many scan splits; the previous value is set back
    afterwards."""
    key = "spark.sql.files.maxPartitionBytes"
    previous = spark.conf.get(key)
    spark.conf.set(key, "1k")
    yield
    spark.conf.set(key, previous)


_job_groups = itertools.count()


@pytest.fixture()
def jobs_in_group(spark):
    """``jobs_in_group(fn)``: run ``fn`` under a fresh job group and return
    the number of jobs it submitted from the calling thread."""
    sc = spark.sparkContext

    def count(fn) -> int:
        group = f"jobs-in-group-{next(_job_groups)}"
        sc.setJobGroup(group, group)
        try:
            fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return len(sc.statusTracker().getJobIdsForGroup(group))

    return count
