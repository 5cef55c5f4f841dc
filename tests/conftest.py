from __future__ import annotations

import pytest
from pyspark.sql import SparkSession

from architrave_project_apache_nifi_spark.session import apply_engine_conf

SF_DIR = "/root/testdata/sf0.001"
# Driver heap of the shared test session and of each example subprocess.
TEST_DRIVER_MEM = "4g"


@pytest.fixture(scope="session")
def spark() -> SparkSession:
    import tempfile

    builder = apply_engine_conf(
        SparkSession.builder.appName("engine-tests").master("local[4]")
    )
    # Set after the engine conf so these win: its driver heap (48g unless
    # SPARK_GRAFT_DRIVER_MEM is set) lets the one JVM that serves the whole
    # suite grow past what a 15 GB host can hold.
    s = (
        builder.config("spark.ui.enabled", "false")
        .config("spark.driver.memory", TEST_DRIVER_MEM)
        .config("spark.sql.warehouse.dir", tempfile.mkdtemp(prefix="spark-wh-"))
        .getOrCreate()
    )
    # Small inputs: fewer initial shuffle partitions keeps tests fast.
    s.conf.set("spark.sql.shuffle.partitions", "4")
    yield s
    s.stop()
