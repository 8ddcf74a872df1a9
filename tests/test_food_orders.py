"""Path-D food-orders pipeline test (README.md:34-38): string cleaning,
delivered/other split, counts, two tables, daily report."""

from __future__ import annotations

import pytest

from etl_pipeline_spark.pipelines.food_orders import daily_report, run_food_orders_pipeline

CSV = """customer_id,date,time,order_id,items,amount,payment_mode,restaurant,order_status,rating,feedback
C001,2024-01-01,12:00,O1,pizza,25.50,card,Luigi's,Delivered:,5,great!!
C002,2024-01-01,12:30,O2,burger,12.00,cash,Patty Place,cancelled,1,awful##
C003,2024-01-02,13:00,O3,sushi,40.00,card,Sushi Go!,delivered,4,nice
C004,2024-01-02,13:30,O4,salad,9.99,upi,Green@Bowl,pending,,
"""


@pytest.fixture(scope="module")
def result(spark, tmp_path_factory):
    p = tmp_path_factory.mktemp("food") / "food_daily.csv"
    p.write_text(CSV)
    return run_food_orders_pipeline(spark, str(p)), spark


def test_split_counts(result):
    res, _ = result
    # 'Delivered:' normalizes to 'delivered' (lowercase + colon strip)
    assert res.total_count == 4
    assert res.delivered_count == 2
    assert res.other_count == 2


def test_cleaning_applied(result):
    _, spark = result
    delivered = {r["customer_id"]: r for r in spark.table("delivered").collect()}
    assert set(delivered) == {"c001", "c003"}
    assert delivered["c001"]["order_status"] == "delivered"
    # special chars stripped from feedback ('great!!' -> 'great')
    assert delivered["c001"]["feedback"] == "great"
    assert delivered["c001"]["amount"] == 25.50
    other = {r["customer_id"] for r in spark.table("other_status_orders").collect()}
    assert other == {"c002", "c004"}


def test_daily_report(result):
    _, spark = result
    rep = {str(r["day"]): r for r in daily_report(spark).collect()}
    assert rep["2024-01-01"]["n_orders"] == 1
    assert rep["2024-01-01"]["revenue"] == 25.50
    assert rep["2024-01-02"]["revenue"] == 40.00


def test_pipeline_releases_its_caches(spark, tmp_path):
    """A call leaves nothing cached: the PERMISSIVE read's cache entry is
    gone (a new read of the same file is not served from it) and no
    persisted RDD is left behind, so calls over many files do not pile
    up cached inputs."""
    from pyspark import StorageLevel

    from etl_pipeline_spark.pipelines.food_orders import FOOD_SCHEMA
    from etl_pipeline_spark.sources.readers import permissive

    p = tmp_path / "food_daily.csv"
    p.write_text(CSV)
    held = spark.sparkContext._jsc.getPersistentRDDs().size
    before = held()
    res = run_food_orders_pipeline(
        spark, str(p), delivered_table="delivered_rel", other_table="other_rel"
    )
    assert (res.total_count, res.delivered_count) == (4, 2)
    read = permissive(spark.read, FOOD_SCHEMA).option("header", "true").csv(str(p))
    assert read.storageLevel == StorageLevel.NONE
    assert held() <= before
