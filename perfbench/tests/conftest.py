import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [os.path.dirname(HERE), os.path.dirname(os.path.dirname(HERE))]

import pytest  # noqa: E402


@pytest.fixture(scope="session")
def spark(tmp_path_factory):
    from pyspark.sql import SparkSession

    local = str(tmp_path_factory.mktemp("spark-local"))
    spark = (
        SparkSession.builder.master("local[2]")
        .appName("perfbench-tests")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.local.dir", local)
        .getOrCreate()
    )
    yield spark
    spark.stop()
