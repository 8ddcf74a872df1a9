from __future__ import annotations

import os
import sys
from contextlib import contextmanager
from itertools import count

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

os.environ.setdefault("SPARK_GRAFT_CPUS", "4")

SF_SMOKE = "/root/testdata/sf0.001"

_job_groups = count()


@contextmanager
def session_conf(spark, conf: dict[str, str]):
    """Set ``conf`` on the shared test session and restore the previous
    values on exit; a key that was not set is unset again. A blanket
    ``spark.conf.unset`` would restore Spark's defaults, not session.py's
    (the 64m broadcast threshold), for every test that runs later."""
    old = {k: spark.conf.get(k, None) for k in conf}
    try:
        for k, v in conf.items():
            spark.conf.set(k, v)
        yield
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


@contextmanager
def jobs_started(spark):
    """Collect the ids of the Spark jobs started inside the block."""
    sc = spark.sparkContext
    group = f"jobs-started-{next(_job_groups)}"
    ids: list[int] = []
    sc.setJobGroup(group, group)
    try:
        yield ids
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        ids.extend(sc.statusTracker().getJobIdsForGroup(group))


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
