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

from collections.abc import Callable
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
from etl_pipeline_spark.sources.readers import CORRUPT_COL, SOURCE_COL, permissive
from etl_pipeline_spark.sources.sinks import (
    append_table,
    audit_record,
    observe_count,
    overwrite_table,
)

# Raw CSV arrives all-strings with these headers (dataflow_transform.py:22).
RAW_SCHEMA = T.StructType(
    [
        T.StructField("entity", T.StringType(), True),
        T.StructField("Day", T.StringType(), True),
        T.StructField("total_confirmed_deaths", T.StringType(), True),
    ]
)


def flag_covid(raw: DataFrame) -> DataFrame:
    """P2-P8 flags: ``raw`` plus the typed columns ``_entity`` (trimmed),
    ``_day`` (strict-parsed Day) and ``_deaths`` (truncating int cast),
    and ``reject_reason``, NULL for a clean row. Raw values stay, so a
    quarantined row keeps what arrived."""
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
    return typed.withColumn("reject_reason", reason)


def split_flagged(flagged: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(clean, quarantine) of a :func:`flag_covid` frame.

    Clean rows: the typed columns, deaths > 0 (the warehouse-side WHERE,
    airflow.py:115), plus the processed_timestamp audit column (F8/F9 <-
    dataflow_transform.py:64-69). Quarantine rows keep raw values plus a
    reject_reason."""
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
    return clean, quarantine


def transform_covid(raw: DataFrame) -> tuple[DataFrame, DataFrame]:
    """P2-P8 chain over parsed rows: (clean, quarantine). Nothing is
    cached; a caller that writes both branches caches the
    :func:`flag_covid` frame instead, as :func:`read_covid` does."""
    return split_flagged(flag_covid(raw))


def read_covid(spark: SparkSession, input_csv: str | list[str]) -> DataFrame:
    """The ingest's one cache: the PERMISSIVE ``RAW_SCHEMA`` scan with
    each row's source file (``SOURCE_COL``), flagged by
    :func:`flag_covid`, cached once and not yet filled. The caller
    releases it.

    ``SOURCE_COL`` is projected from the file scan, because
    ``input_file_name()`` reads empty on the cached relation. Unparseable
    lines stay in the cache with ``CORRUPT_COL`` set, so one aggregate
    over it counts every row and every parse failure, and
    :func:`write_split` filters them out of the cache afterwards (see
    ``sources.readers.split_quarantine`` for why that filter must read a
    cache, not the scan)."""
    scan = permissive(spark.read, RAW_SCHEMA).option("header", "true").csv(input_csv)
    return flag_covid(scan.select("*", F.input_file_name().alias(SOURCE_COL))).cache()


def write_split(
    flagged: DataFrame,
    write_clean: Callable[[DataFrame], None],
    write_quarantine: Callable[[DataFrame], None],
) -> tuple[int, int]:
    """The load body of every covid ingest, batch or streaming: split the
    parsed rows of a cached :func:`flag_covid` frame, hand the clean rows
    to ``write_clean`` and the rejected ones to ``write_quarantine``, and
    return (clean, quarantined) as counted by the writes themselves.

    Each frame handed to a writer carries its own ``Observation``, so its
    count is what that write job saw, taken with no job of its own (the
    reference's CountRecords DoFn, dataflow_transform.py:75-89). A row
    lost between the cache and a write shows up in these counts, never
    in the aggregate that filled the cache."""
    clean, quarantine = split_flagged(flagged.filter(F.col(CORRUPT_COL).isNull()))
    clean, n_clean = observe_count(clean)
    quarantine, n_quarantined = observe_count(quarantine)
    write_clean(clean)
    write_quarantine(quarantine)
    return int(n_clean.get["n"]), int(n_quarantined.get["n"])


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
    main + quarantine tables -> append audit row (pipeline A+B complete).
    One aggregate over :func:`read_covid`'s cache counts the parse
    failures and fills it for the writes."""
    flagged = read_covid(spark, input_csv)
    try:
        parse_failures = flagged.select(F.count(CORRUPT_COL)).first()[0]
        return load_covid(
            spark, flagged, parse_failures, input_csv, main_table, audit_table, quarantine_table
        )
    finally:
        flagged.unpersist()


def load_covid(
    spark: SparkSession,
    flagged: DataFrame,
    parse_failures: int,
    input_csv: str | list[str],
    main_table: str,
    audit_table: str,
    quarantine_table: str,
) -> CovidPipelineResult:
    """The table load shared by :func:`run_covid_pipeline` and
    ``run_validated_ingest``: :func:`write_split` overwrites the main and
    quarantine tables from :func:`read_covid`'s cache, which the caller
    filled with its aggregate (that aggregate also gave
    ``parse_failures``), then the audit row is appended. No job counts
    anything: the clean and quarantined counts come from the two writes,
    so ``input_rows`` is an independent tally a caller can reconcile
    against the aggregate's total. The cache stays with the caller."""
    audit_path = input_csv if isinstance(input_csv, str) else ",".join(input_csv)
    n_out, n_quar = write_split(
        flagged,
        lambda df: overwrite_table(df, main_table),
        lambda df: overwrite_table(df, quarantine_table),
    )
    append_table(audit_record(spark, audit_path, n_out), audit_table)
    return CovidPipelineResult(
        input_rows=n_out + n_quar + parse_failures,
        output_rows=n_out,
        quarantined_rows=n_quar,
        parse_failures=parse_failures,
    )
