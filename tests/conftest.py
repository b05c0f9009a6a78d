import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

REFERENCE_DATA = "/root/reference/src/DataDock.CsvWeb.Tests/data"


def reference_fixture(name: str) -> str:
    """Read a golden fixture from the read-only reference checkout."""
    path = os.path.join(REFERENCE_DATA, name)
    with open(path, encoding="utf-8-sig") as f:
        return f.read()


def have_reference() -> bool:
    return os.path.isdir(REFERENCE_DATA)


import pytest


@pytest.fixture(scope="session")
def spark():
    from pyspark.sql import SparkSession

    session = (
        SparkSession.builder.master("local[4]")
        .appName("csvweb-spark-tests")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "4g")
        .getOrCreate()
    )
    yield session


@pytest.fixture()
def jobs_in_group(spark):
    """run(group, fn, *args) -> (fn's result, ids of the Spark jobs it
    started under that job group)."""
    sc = spark.sparkContext

    def run(group, fn, *args):
        sc.setJobGroup(group, group)
        try:
            result = fn(*args)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return result, sc.statusTracker().getJobIdsForGroup(group)
    return run
