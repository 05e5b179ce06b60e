from __future__ import annotations

import pytest

from trafsys_data_transfer_spark.session import get_spark

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    spark = get_spark("trafsys-tests")
    yield spark


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture
def cc_paths(spark):
    """Iterate both ``connected_components`` paths: a test loops
    ``for _ in cc_paths():`` and its body runs once at the session's
    broadcast threshold (small graphs take the driver finish) and once at
    ``-1`` (never broadcast: the distributed loop only).  The threshold
    is restored afterwards."""
    key = "spark.sql.autoBroadcastJoinThreshold"
    saved = spark.conf.get(key)

    def paths():
        try:
            for value in (saved, "-1"):
                spark.conf.set(key, value)
                yield value
        finally:
            spark.conf.set(key, saved)

    yield paths
    spark.conf.set(key, saved)
