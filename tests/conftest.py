from __future__ import annotations

import pytest
from pyspark.sql import SparkSession

from block_crawler_spark.session import SESSION_CONF


@pytest.fixture(scope="session")
def spark():
    s = (
        SparkSession.builder.appName("bcs-tests")
        .master("local[4]")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "4g")
        .config(map=SESSION_CONF)
        .getOrCreate()
    )
    yield s
    s.stop()
