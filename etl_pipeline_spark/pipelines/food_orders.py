"""The README's documented-only food-orders pipeline (SURVEY.md path D):
clean strings -> split delivered/other -> three counts -> two tables +
a daily report. The reference's beam.py is absent from the repo
(README.md:29); semantics reconstructed from README.md:34-38,233,241.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from etl_pipeline_spark.functions.cleaning import clean_special_chars, strip_trailing_colons
from etl_pipeline_spark.sources.readers import permissive, split_quarantine
from etl_pipeline_spark.sources.sinks import overwrite_table

# README.md:18 column list; raw CSV is all-strings.
FOOD_SCHEMA = T.StructType(
    [
        T.StructField(c, T.StringType(), True)
        for c in (
            "customer_id",
            "date",
            "time",
            "order_id",
            "items",
            "amount",
            "payment_mode",
            "restaurant",
            "order_status",
            "rating",
            "feedback",
        )
    ]
)

_STRING_COLS = ("customer_id", "items", "payment_mode", "restaurant", "order_status", "feedback")


def clean_food_orders(raw: DataFrame) -> DataFrame:
    """String cleaning per README.md:34: lowercase, strip trailing colons,
    drop special characters — applied to every string field; typed amount
    and rating."""
    df = raw
    for c in _STRING_COLS:
        df = df.withColumn(
            c, clean_special_chars(strip_trailing_colons(F.lower(F.trim(F.col(c)))))
        )
    return df.withColumn("amount", F.col("amount").try_cast("double")).withColumn(
        "rating", F.col("rating").try_cast("int")
    )


@dataclass
class FoodOrdersResult:
    total_count: int
    delivered_count: int
    other_count: int


def run_food_orders_pipeline(
    spark: SparkSession,
    input_csv: str,
    delivered_table: str = "delivered",
    other_table: str = "other_status_orders",
) -> FoodOrdersResult:
    """Clean -> 2-way status split (P6, one cached scan, two filters) ->
    three counts (A2) -> two tables (README.md:37-38,233). Both caches,
    the PERMISSIVE read's and the cleaned frame's, are released on every
    exit."""
    reader = permissive(spark.read, FOOD_SCHEMA).option("header", "true")
    raw, _corrupt, parsed = split_quarantine(reader.csv(input_csv), return_raw=True)
    cleaned = clean_food_orders(raw).cache()
    try:
        delivered_pred = F.col("order_status") == "delivered"
        delivered = cleaned.filter(delivered_pred)
        other = cleaned.filter(~delivered_pred | F.col("order_status").isNull())
        overwrite_table(delivered, delivered_table)
        overwrite_table(other, other_table)
        counts = cleaned.agg(
            F.count("*").alias("total"),
            F.count(F.when(delivered_pred, 1)).alias("delivered"),
        ).collect()[0]
    finally:
        cleaned.unpersist()
        parsed.unpersist()
    return FoodOrdersResult(
        total_count=counts["total"],
        delivered_count=counts["delivered"],
        other_count=counts["total"] - counts["delivered"],
    )


def daily_report(spark: SparkSession, delivered_table: str = "delivered") -> DataFrame:
    """The Looker daily report (README.md:241): orders and revenue per day."""
    return (
        spark.table(delivered_table)
        .groupBy(F.try_to_date("date", "yyyy-MM-dd").alias("day"))
        .agg(F.count("*").alias("n_orders"), F.round(F.sum("amount"), 2).alias("revenue"))
    )
