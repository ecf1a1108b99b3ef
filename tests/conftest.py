import pytest
from pyspark.sql import SparkSession

from source_flink_cdc_3_5_0_spark.common.session import apply_engine_confs


@pytest.fixture(scope="session")
def spark():
    s = (
        apply_engine_confs(SparkSession.builder.master("local[4]"))
        .appName("cdc-engine-tests")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    yield s
    s.stop()
