from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master("local[4]")
        .appName("pyjanitor_spark-tests")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "4g")
        .config("spark.sql.session.timeZone", "UTC")
        .getOrCreate()
    )
    yield spark
    spark.stop()


@pytest.fixture(scope="session")
def lineitem(spark):
    return spark.read.parquet(f"{SF_DIR}/lineitem.parquet")


@pytest.fixture(scope="session")
def orders(spark):
    return spark.read.parquet(f"{SF_DIR}/orders.parquet")


@pytest.fixture(scope="session")
def events(spark):
    from pyjanitor_spark.sources import read_table

    return read_table(spark, f"{SF_DIR}/events.parquet")


@pytest.fixture(scope="session")
def documents(spark):
    return spark.read.parquet(f"{SF_DIR}/documents.parquet")


@pytest.fixture(scope="session")
def embeddings(spark):
    return spark.read.parquet(f"{SF_DIR}/embeddings.parquet")


@pytest.fixture
def dirty_df(spark):
    """FIXTURES.md F1 — canonical dirty-names frame."""
    data = [
        (1, 1.23452345, 1, "rabbit", "Cambridge"),
        (2, 2.456234, 2, "leopard", "Shanghai"),
        (3, 3.2346125, 3, "lion", "Basel"),
    ] * 3
    return spark.createDataFrame(
        data, ["a", "Bell__Chart", "decorated-elephant", "animals@#$%^", "cities"]
    )


@pytest.fixture
def missing_df(spark):
    """FIXTURES.md F2 — null-handling frame with _row_order."""
    rows = []
    a_pat = [1, 2, None]
    b_pat = [1.2345, None, 3.2346]
    for i in range(9):
        rows.append(
            (i, a_pat[i % 3], b_pat[i % 3], i % 3 + 1, "rabbit", "Basel", None, None)
        )
    from pyspark.sql.types import (
        DoubleType,
        IntegerType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    schema = StructType(
        [
            StructField("_row_order", LongType()),
            StructField("a", IntegerType()),
            StructField("Bell__Chart", DoubleType()),
            StructField("decorated-elephant", IntegerType()),
            StructField("animals", StringType()),
            StructField("cities", StringType()),
            StructField("all_null_1", DoubleType()),
            StructField("all_null_2", DoubleType()),
        ]
    )
    return spark.createDataFrame(rows, schema)


def pytest_addoption(parser):
    parser.addoption(
        "--runslow",
        action="store_true",
        default=False,
        help="run tests marked slow (the full gate)",
    )


def pytest_collection_modifyitems(config, items):
    # slow tests are skipped by default so tier-1 stays fast;
    # `--runslow` runs the full gate.
    if config.getoption("--runslow"):
        return
    skip_slow = __import__("pytest").mark.skip(
        reason="slow: skipped by default (use --runslow)"
    )
    for item in items:
        if "slow" in item.keywords:
            item.add_marker(skip_slow)
