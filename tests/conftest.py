from __future__ import annotations

import tempfile

import pytest

from batch_data_pipeline_exercise_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    spark = get_spark(
        app_name="bdpe-spark-tests",
        master="local[4]",
        shuffle_partitions=4,
        # the UI stays on: obs.measure reads its cost records from the
        # UI REST API (tests/test_obs.py)
        extra_conf={
            "spark.driver.memory": "4g",
            "spark.sql.warehouse.dir": tempfile.mkdtemp(prefix="spark-warehouse-"),
        },
    )
    yield spark


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return "/root/testdata/sf0.001"
