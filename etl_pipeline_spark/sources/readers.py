"""Multi-format validated sources — SURVEY.md §2.1 (S1-S10).

The reference reads CSV line-by-line with hardcoded headers
(dataflow_transform.py:14-30), whole-file JSON (dataflow.py:209-234),
JSONL (dataflow.py:269-285) and plain text (dataflow.py:287-294), always
in a single worker process. Here every format is a distributed Spark read
with explicit schema and PERMISSIVE corrupt-record capture, so malformed
rows land in a quarantine DataFrame instead of being silently dropped
(the Q6 upgrade) — and the read scales with the cluster, fixing the
reference's single-process validation hotspot (dataflow.py:184).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

CORRUPT_COL = "_corrupt_record"
# each row's source file (input_file_name), projected before a cache
SOURCE_COL = "_source_path"


def permissive(reader, schema: T.StructType):
    """``reader`` (a ``DataFrameReader`` or ``DataStreamReader``) with the
    declared ``schema`` plus ``CORRUPT_COL``, in PERMISSIVE mode: a line
    the parser cannot read keeps whatever fields it could fill and gets
    its raw text in ``CORRUPT_COL`` instead of failing the read."""
    if CORRUPT_COL not in schema.fieldNames():
        schema = T.StructType([*schema.fields, T.StructField(CORRUPT_COL, T.StringType(), True)])
    return (
        reader.schema(schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", CORRUPT_COL)
    )


def split_quarantine(df: DataFrame, return_raw: bool = False):
    """Split a PERMISSIVE-read DataFrame into (clean, quarantine).

    Quarantined rows keep the raw record text for later repair — the
    reference logged a warning and dropped them (dataflow_transform.py:26-30).

    The frame is cached before either filter, and the corrupt filter
    reads the cache. ``CORRUPT_COL`` is filled at parse time, from the
    columns the scan reads: a filter on it pushed into a raw scan either
    reads it alone, which Spark refuses, or reads it beside a pruned
    column set, under which a line with too many fields can parse as a
    good one. The cache holds the whole parse once.

    The covid ingest does not come through here: it caches its own frame
    (``pipelines.covid.read_covid``), which also holds each row's source
    file and the typed and flag columns, and filters that cache on
    ``CORRUPT_COL`` for the same reason.

    Cache ownership (r9 review): the load-bearing cache() pins one copy
    of the raw input per call, which accumulates across a loop over many
    files. Callers that loop should pass ``return_raw=True`` to receive
    (clean, quarantine, raw) and ``raw.unpersist()`` once both branches
    are written; the two-element default stays for one-shot reads.
    """
    df = df.cache()
    bad = df.filter(F.col(CORRUPT_COL).isNotNull())
    good = df.filter(F.col(CORRUPT_COL).isNull()).drop(CORRUPT_COL)
    if return_raw:
        return good, bad, df
    return good, bad


def read_csv_with_schema(
    spark: SparkSession,
    path: str,
    schema: T.StructType,
    header: bool = True,
    **options: str,
):
    """CSV scan with declared schema (S1+S2): header skipped like
    ``skip_header_lines=1`` (dataflow_transform.py:170), malformed lines
    captured PERMISSIVE-ly. Returns (clean, quarantine).

    Schema-on-read with supplied fieldnames matches the reference's
    hardcoded-headers parser (dataflow_transform.py:22); pass
    ``header=False`` for headerless files.
    """
    reader = permissive(spark.read, schema).option("header", str(header).lower())
    for k, v in options.items():
        reader = reader.option(k, v)
    return split_quarantine(reader.csv(path))


def read_csv_autodetect(spark: SparkSession, path: str, **options: str) -> DataFrame:
    """Bulk CSV load with schema inference (S3 <- airflow.py:87-101:
    ``autodetect=True, skip_leading_rows=1, allow_quoted_newlines=True``).
    multiLine covers quoted newlines; inference costs an extra pass, so
    prefer declared schemas in production paths."""
    reader = (
        spark.read.option("header", "true")
        .option("inferSchema", "true")
        .option("multiLine", "true")
    )
    for k, v in options.items():
        reader = reader.option(k, v)
    return reader.csv(path)


def read_json_records(
    spark: SparkSession, path: str, schema: T.StructType | None = None
) -> DataFrame:
    """Whole-file JSON source (S4 <- dataflow.py:209-234): accepts both an
    array of records (rows via Spark's native multiLine array handling)
    and a single object (one row)."""
    reader = spark.read.option("multiLine", "true")
    if schema is not None:
        reader = reader.schema(schema)
    return reader.json(path)


def read_jsonl(
    spark: SparkSession, path: str, schema: T.StructType | None = None
) -> tuple[DataFrame, DataFrame]:
    """JSONL/NDJSON source (S5 <- dataflow.py:269-285) with corrupt-line
    quarantine. Returns (clean, quarantine)."""
    if schema is None:
        inferred = spark.read.json(path).schema
        schema = T.StructType([f for f in inferred.fields if f.name != CORRUPT_COL])
    return split_quarantine(permissive(spark.read, schema).json(path))


def read_text_nonempty(spark: SparkSession, path: str) -> DataFrame:
    """Plain-text source keeping non-empty lines (S6 <- dataflow.py:287-294)."""
    return spark.read.text(path).filter(F.length(F.trim(F.col("value"))) > 0)


def with_file_metadata(df: DataFrame) -> DataFrame:
    """Attach source-file lineage columns (S9/S10 <- dataflow.py:154-180):
    path, size, modification time from the hidden ``_metadata`` struct."""
    return df.select(
        "*",
        F.col("_metadata.file_path").alias("_file_path"),
        F.col("_metadata.file_size").alias("_file_size"),
        F.col("_metadata.file_modification_time").alias("_file_mtime"),
    )


def read_parquet_evolved(
    spark: SparkSession,
    path: str,
    contract: str | T.StructType | None = None,
) -> DataFrame:
    """Schema-evolution parquet read (r8): merge per-file footers so a
    directory written by several pipeline versions (columns added over
    time) reads as ONE unified schema, with pre-evolution rows NULL in
    the later columns. A plain ``spark.read.parquet`` infers from a
    single arbitrary footer — on an evolved directory that silently
    DROPS the new columns (or the old ones), the classic 100 TB
    lakehouse trap this reader closes.

    ``contract`` (DDL string or StructType) additionally pins the read
    to a declared schema, the production posture where readers must not
    drift with writers: declared columns are try_cast to their declared
    type (cast-incompatible drift surfaces as NULL, not a job abort —
    ANSI mode is on), columns missing from every file come back as
    typed NULLs, and undeclared extras are dropped. Column order is the
    contract's. Drift is masked at BOTH levels (advisor find, r8):
    value-level failures null per-row via try_cast, and ANALYSIS-level
    drift — a declared BIGINT column that became array/struct in newer
    files, where even try_cast is unresolvable — nulls the whole column
    (the analyzer itself decides castability, so the check can never
    disagree with Spark's Cast.canCast).

    Scale: mergeSchema unions FOOTERS (driver-side metadata, one small
    task per file), not data; scans still prune columns and push
    filters per file, so the evolved read plans identically to a plain
    one. For >100k-file directories pin a contract instead — then the
    footer sweep can be skipped entirely by future callers reading with
    ``spark.read.schema(contract)``.
    """
    df = spark.read.option("mergeSchema", "true").parquet(path)
    if contract is None:
        return df
    schema = (
        T.StructType.fromDDL(contract) if isinstance(contract, str) else contract
    )
    from pyspark.errors import AnalysisException

    # column membership must match Spark's resolution rules: with the
    # default spark.sql.caseSensitive=false, a file column `Event_ID`
    # RESOLVES for a contract field `event_id`, so a case-sensitive
    # membership test would null out real data silently (r9 review)
    case_sensitive = (
        str(spark.conf.get("spark.sql.caseSensitive", "false")).lower() == "true"
    )
    if case_sensitive:
        present = {c: c for c in df.columns}
    else:
        present = {c.lower(): c for c in df.columns}

    cols = []
    for field in schema.fields:
        null_col = F.lit(None).cast(field.dataType).alias(field.name)
        actual = present.get(field.name if case_sensitive else field.name.lower())
        if actual is None:
            cols.append(null_col)
        else:
            cols.append(F.col(actual).try_cast(field.dataType).alias(field.name))
    try:
        # ONE analysis pass for the whole contract (no jobs): lets
        # Spark's own analyzer rule on castability — try_cast nulls
        # runtime failures, but a structurally impossible cast (BIGINT
        # declared, array/struct arrived) raises DATATYPE_MISMATCH here,
        # which the contract promises to surface as a NULL column, not a
        # job abort. The no-drift common case pays a single round-trip;
        # only a failing contract falls back to the per-column probe to
        # isolate which columns are unresolvable (review find, r9).
        out = df.select(*cols)
        out.schema
        return out
    except AnalysisException:
        pass
    probed = []
    for field, col in zip(schema.fields, cols):
        try:
            df.select(col).schema
            probed.append(col)
        except AnalysisException:
            probed.append(F.lit(None).cast(field.dataType).alias(field.name))
    return df.select(*probed)
