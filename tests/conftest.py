"""Shared pytest fixtures: one SparkSession per test session."""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from airflow_postgres_csv_spark.session import get_spark  # noqa: E402

SF_SMOKE = "/root/testdata/sf0.001"
SF_CORRECT = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    # the suite runs on sf0.001/sf0.01 fixtures where fixed per-task
    # scheduling overhead dominates 32-partition shuffles; 8 state/shuffle
    # partitions measurably cut wall-clock (the engine's production
    # default in session.py is untouched — this scopes the TEST session)
    s = get_spark("pytest", extra_conf={"spark.sql.shuffle.partitions": "8"})
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_SMOKE


@pytest.fixture()
def tmp_out(tmp_path):
    return str(tmp_path)


class Py4jCalls:
    """Counts gateway round trips while active — except the memory
    commands py4j sends when Python drops a Java reference, whose number
    depends on when the garbage collector runs."""

    def __init__(self, spark):
        self.client = spark.sparkContext._gateway._gateway_client
        self.calls = 0

    def __enter__(self):
        inner = self.client.send_command

        def send_command(command, *a, **k):
            if not command.startswith("m\n"):
                self.calls += 1
            return inner(command, *a, **k)

        self.client.send_command = send_command
        return self

    def __exit__(self, *exc):
        del self.client.send_command  # back to the class method


class SparkJobs:
    """Counts the Spark jobs started while active: a job tag is added on
    entry and its jobs are read back through ``statusTracker`` on exit."""

    _seq = 0

    def __init__(self, spark):
        SparkJobs._seq += 1
        self.sc = spark.sparkContext
        self.tag = f"pytest-jobs-{SparkJobs._seq}"
        self.jobs = 0

    def __enter__(self):
        self.sc.addJobTag(self.tag)
        return self

    def __exit__(self, *exc):
        self.sc.removeJobTag(self.tag)
        tracker = self.sc._jsc.sc().statusTracker()
        self.jobs = len(tracker.getJobIdsForTag(self.tag))


@pytest.fixture()
def py4j_calls(spark):
    """Factory of :class:`Py4jCalls` context managers on the session."""
    return lambda: Py4jCalls(spark)


@pytest.fixture()
def spark_jobs(spark):
    """Factory of :class:`SparkJobs` context managers on the session."""
    return lambda: SparkJobs(spark)
