from __future__ import annotations

import tempfile

import pytest
from pyspark.sql import SparkSession


@pytest.fixture(scope="session")
def spark():
    spark = (
        SparkSession.builder.master("local[4]")
        .appName("yardstick-spark-tests")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.driver.memory", "4g")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.warehouse.dir",
                tempfile.mkdtemp(prefix="ys_test_wh_"))
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    yield spark
    spark.stop()


@pytest.fixture()
def call_spy(monkeypatch):
    """`call_spy(module, name)` wraps `module.name` and returns the list
    of values its calls returned, so a test can assert which path a
    gate selected."""
    def spy(module, name):
        results = []
        orig = getattr(module, name)

        def counted(*a, **k):
            results.append(orig(*a, **k))
            return results[-1]

        monkeypatch.setattr(module, name, counted)
        return results

    return spy


@pytest.fixture()
def ys(spark):
    from yardstick_spark import MeasureSession

    return MeasureSession(spark)


@pytest.fixture()
def sales(spark):
    spark.sql(
        "CREATE OR REPLACE TEMP VIEW sales AS "
        "SELECT year, region, CAST(amount AS DOUBLE) AS amount FROM VALUES "
        "(2022,'US',100.0),(2022,'EU',50.0),(2023,'US',150.0),(2023,'EU',75.0) "
        "AS t(year, region, amount)"
    )
    return "sales"
