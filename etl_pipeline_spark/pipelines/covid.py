"""The reference's flagship ETL: COVID CSV -> validate -> type -> filter ->
main table + audit log. SURVEY.md §3 Entry 1+2 collapsed into one Spark
lineage (pipelines A and B compute the same thing; the engine keeps the
stricter schema: Day as DATE, deaths as BIGINT — resolving the reference's
own DATE/DATETIME + INTEGER/FLOAT contradictions, SURVEY §1).

Reference parity: parse_csv_line (dataflow_transform.py:14-30),
transform_row (:32-73), the SQL filter (airflow.py:110-115), audit
(:91-106), sinks (:180-214). Dropped rows go to a quarantine table instead
of a log line (Q6 upgrade) — conservation law: input = output + quarantine.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from etl_pipeline_spark.functions.cleaning import (
    non_empty,
    parse_strict_date,
    truncating_int_cast,
    utc_now_iso,
)
from etl_pipeline_spark.sources.readers import read_csv_with_schema
from etl_pipeline_spark.sources.sinks import audit_record, append_table, overwrite_table

# Raw CSV arrives all-strings with these headers (dataflow_transform.py:22).
RAW_SCHEMA = T.StructType(
    [
        T.StructField("entity", T.StringType(), True),
        T.StructField("Day", T.StringType(), True),
        T.StructField("total_confirmed_deaths", T.StringType(), True),
    ]
)


def transform_covid(raw: DataFrame, return_flagged: bool = False):
    """P2-P8 chain. Returns (clean, quarantine) — or, with
    ``return_flagged=True``, (clean, quarantine, flagged) so looping
    callers can release the load-bearing flagged cache once both
    branches are written (r9 review: one leaked cache per invocation).

    Clean rows: trimmed entity, strict-parsed Day, truncating int cast,
    deaths > 0 (the warehouse-side WHERE, airflow.py:115), plus the
    processed_timestamp audit column (F8/F9 <- dataflow_transform.py:64-69).
    Quarantine rows keep raw values plus a reject_reason.
    """
    typed = raw.select(
        "*",
        F.trim(F.col("entity")).alias("_entity"),
        parse_strict_date(F.col("Day")).alias("_day"),
        truncating_int_cast(F.col("total_confirmed_deaths")).alias("_deaths"),
    )
    required_ok = (
        non_empty(F.col("entity"))
        & non_empty(F.col("Day"))
        & non_empty(F.col("total_confirmed_deaths"))
    )
    reason = (
        F.when(~required_ok, "missing_required_field")
        .when(F.col("_day").isNull(), "invalid_date")
        .when(F.col("_deaths").isNull(), "invalid_number")
        .when(F.col("_deaths") <= 0, "non_positive_deaths")
    )
    flagged = typed.withColumn("reject_reason", reason).cache()
    clean = flagged.filter(F.col("reject_reason").isNull()).select(
        F.col("_entity").alias("entity"),
        F.col("_day").alias("Day"),
        F.col("_deaths").alias("total_confirmed_deaths"),
        F.to_timestamp(utc_now_iso(), "yyyy-MM-dd'T'HH:mm:ss.SSSSSS'Z'").alias(
            "processed_timestamp"
        ),
    )
    quarantine = flagged.filter(F.col("reject_reason").isNotNull()).select(
        "entity", "Day", "total_confirmed_deaths", "reject_reason"
    )
    if return_flagged:
        return clean, quarantine, flagged
    return clean, quarantine


@dataclass
class CovidPipelineResult:
    input_rows: int
    output_rows: int
    quarantined_rows: int
    parse_failures: int


def run_covid_pipeline(
    spark: SparkSession,
    input_csv: str | list[str],
    main_table: str = "covid_clean",
    audit_table: str = "covid_audit_log",
    quarantine_table: str = "covid_quarantine",
) -> CovidPipelineResult:
    """End-to-end: CSV -> quarantine-split parse -> transform -> overwrite
    main + quarantine tables -> append audit row (pipeline A+B complete)."""
    raw, corrupt, raw_cached = read_csv_with_schema(
        spark, input_csv, RAW_SCHEMA, return_raw=True
    )
    try:
        return load_covid(
            spark, raw, corrupt, input_csv, main_table, audit_table, quarantine_table
        )
    finally:
        # the permissive-read cache pins one full input copy per call
        # (r9 review: leaked in ingest loops)
        raw_cached.unpersist()


def load_covid(
    spark: SparkSession,
    raw: DataFrame,
    corrupt: DataFrame,
    input_csv: str | list[str],
    main_table: str,
    audit_table: str,
    quarantine_table: str,
) -> CovidPipelineResult:
    """The load body shared by :func:`run_covid_pipeline` and
    ``run_validated_ingest``: transform ``raw`` (the parsed rows of the
    PERMISSIVE ``RAW_SCHEMA`` read), overwrite the main and quarantine tables,
    count, and append the audit row. Releases the caches it makes; the
    read's cache stays with the caller."""
    audit_path = input_csv if isinstance(input_csv, str) else ",".join(input_csv)
    clean, quarantine, flagged = transform_covid(raw, return_flagged=True)
    clean = clean.cache()
    try:
        overwrite_table(clean, main_table)
        overwrite_table(quarantine, quarantine_table)
        n_out = clean.count()
        n_quar = quarantine.count()
        n_corrupt = corrupt.count()
        append_table(audit_record(spark, audit_path, n_out), audit_table)
    finally:
        clean.unpersist()
        flagged.unpersist()
    return CovidPipelineResult(
        input_rows=n_out + n_quar + n_corrupt,
        output_rows=n_out,
        quarantined_rows=n_quar,
        parse_failures=n_corrupt,
    )
