import os

import pytest

from astro_sdk_spark import SparkEngine, get_session

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark(tmp_path_factory):
    # a fresh warehouse per session, outside the cwd: managed tables of an
    # earlier (killed) run stay behind as orphan directories, and a
    # cwd-relative spark-warehouse/ would make the next run's CREATE of the
    # same table fail with LOCATION_ALREADY_EXISTS
    s = get_session(
        app_name="astro_sdk_spark_tests",
        shuffle_partitions=8,
        extra_conf={
            "spark.sql.warehouse.dir": str(tmp_path_factory.mktemp("warehouse"))
        },
    )
    s.sparkContext.setLogLevel("ERROR")
    yield s


@pytest.fixture()
def engine(spark):
    return SparkEngine(spark)


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR
