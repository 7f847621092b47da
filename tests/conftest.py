import shutil

import pytest

from logprocessor_spark.session import get_spark


def pytest_configure(config):
    config.addinivalue_line(
        "markers", "slow: end-to-end tests that start a separate JVM (spark-submit)"
    )


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="lp-tests", master="local[4]", shuffle_partitions=4)
    s.sparkContext.setLogLevel("ERROR")
    yield s


@pytest.fixture()
def tmp_out(tmp_path):
    p = str(tmp_path / "out")
    yield p
    shutil.rmtree(p, ignore_errors=True)
