from __future__ import annotations

import os

import pytest

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    from pyspark.sql import SparkSession

    s = (
        SparkSession.builder.master("local[8]")
        .appName("pdf_extractor_scripts_spark-tests")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "8g")
        .getOrCreate()
    )
    yield s
    s.stop()


@pytest.fixture(scope="session")
def duck():
    from pdf_extractor_scripts_spark.plans.compare import duckdb_connection

    return duckdb_connection(SF_DIR)


def jobs_in_group(spark, group: str, fn):
    """Run ``fn()`` in Spark job group ``group``; return its result and the
    ids of the jobs it ran."""
    import time

    sc = spark.sparkContext

    def in_group(g: str, f):
        sc.setJobGroup(g, g)
        try:
            return f()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)

    out = in_group(group, fn)
    # listener events arrive in order: once a later job is seen, every job
    # of ``group`` has been seen too
    flush = f"{group}-after"
    in_group(flush, lambda: sc.parallelize([1]).count())
    tracker = sc.statusTracker()
    deadline = time.time() + 30
    while not tracker.getJobIdsForGroup(flush) and time.time() < deadline:
        time.sleep(0.1)
    assert tracker.getJobIdsForGroup(flush)
    return out, list(tracker.getJobIdsForGroup(group))
