"""Shared pytest fixtures: one session-scoped SparkSession and canned frames
mirroring the reference's fixture matrix (reference: tests/conftest.py) as
Spark DataFrames.
"""

from __future__ import annotations

import itertools

import pytest
from pyspark.sql import SparkSession

from financial_data_engineering_spark.session import get_spark

SF_SMALL = "/root/testdata/sf0.001"
SF_MEDIUM = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark() -> SparkSession:
    session = get_spark("tests", shuffle_partitions=8)
    yield session


@pytest.fixture()
def job_count(spark):
    """``job_count(fn)`` -> ``(fn(), jobs)``: the Spark jobs ``fn`` ran,
    read from a job group unique to the call (the way perfbench/tracing.py
    counts them), so jobs of earlier calls never mix in."""
    sc = spark.sparkContext
    calls = itertools.count()

    def run(fn):
        group = f"job_count-{id(run):x}-{next(calls)}"
        sc.setJobGroup(group, "")
        try:
            out = fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return out, len(sc.statusTracker().getJobIdsForGroup(group))

    return run


@pytest.fixture()
def clean_df(spark):
    """Fully valid frame (reference conftest.py:125-133)."""
    return spark.createDataFrame(
        [
            (1, "AAPL", 150.0, "tech@apple.com"),
            (2, "MSFT", 300.0, "ir@microsoft.com"),
            (3, "GOOG", 2800.0, "contact@google.com"),
        ],
        "id int, ticker string, price double, email string",
    )


@pytest.fixture()
def messy_df(spark):
    """Nulls, duplicate keys, out-of-range values, malformed email
    (reference conftest.py:136-144)."""
    return spark.createDataFrame(
        [
            (1, "AAPL", 150.0, "tech@apple.com"),
            (1, "AAPL", 150.0, "tech@apple.com"),
            (2, None, -5.0, "not-an-email"),
            (3, "GOOG", 99999.0, None),
            (None, "MSFT", 300.0, "ir@microsoft.com"),
        ],
        "id int, ticker string, price double, email string",
    )
