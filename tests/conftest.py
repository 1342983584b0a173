import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def require_reference(path: str) -> str:
    """Return `path`, or skip the calling test naming the missing file.

    For checks that only the reference's own fixture files can feed
    (no installed writer produces them)."""
    if not os.path.exists(path):
        pytest.skip(f"reference fixture not found: {path}")
    return path


@pytest.fixture(scope="session")
def spark():
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master("local[4]")
        .appName("orc_rust_spark-tests")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.default.parallelism", "8")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "4g")
        .getOrCreate()
    )
    yield spark
    spark.stop()
