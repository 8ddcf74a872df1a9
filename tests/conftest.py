from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

os.environ.setdefault("SPARK_GRAFT_CPUS", "4")

SF_SMOKE = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark(tmp_path_factory):
    from etl_pipeline_spark.session import get_spark

    wh = tmp_path_factory.mktemp("warehouse")
    spark = get_spark(
        "tests",
        shuffle_partitions=4,
        extra_conf={
            "spark.sql.warehouse.dir": str(wh),
            "spark.driver.memory": "4g",
        },
    )
    yield spark
    spark.stop()
