from __future__ import annotations

import pytest

from pyspark.sql import SparkSession

from trike_spark.session import LOCAL_DRIVER_JAVA_OPTIONS, STREAMING_CONFS


@pytest.fixture(scope="session")
def spark() -> SparkSession:
    # the streaming confs and driver stack get_spark ships, so every
    # streaming test runs under them
    builder = (
        SparkSession.builder.master("local[4]")
        .appName("trike_spark-tests")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.defaultJavaOptions", LOCAL_DRIVER_JAVA_OPTIONS)
    )
    for key, value in STREAMING_CONFS.items():
        builder = builder.config(key, value)
    yield builder.getOrCreate()


@pytest.fixture()
def no_data_batches(spark):
    """Spark's default no-data micro-batches, for a query whose watermark
    must flush what it sealed after the last input (a flush runs only in a
    batch); the trike ingest path has no watermark, so get_spark turns them
    off. Restores the shipped value."""
    key = "spark.sql.streaming.noDataMicroBatches.enabled"
    spark.conf.set(key, "true")
    yield
    spark.conf.set(key, STREAMING_CONFS[key])


SF_DIR = "/root/testdata/sf0.001"
