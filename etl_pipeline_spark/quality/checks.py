"""Data-quality gates — SURVEY.md §2.11 (Q1-Q7).

The reference's distinctive surface: per-file validation before any load
(dataflow.py:62-384). Re-expressed so the checks run distributed (Spark
jobs over the files) instead of downloading every file into one worker
(the reference's hotspot, dataflow.py:184).
"""

from __future__ import annotations

import datetime as _dt
import operator
import re
from dataclasses import dataclass, field
from functools import reduce

from pyspark.sql import Column, DataFrame, Row, SparkSession
from pyspark.sql import functions as F

from etl_pipeline_spark.functions.cleaning import (
    multi_format_timestamp,
    non_empty,
    parse_double_or_null,
)
from etl_pipeline_spark.sources.readers import CORRUPT_COL, SOURCE_COL


class MissingColumnsError(ValueError):
    """Raised when a required column is absent (Q3 <- dataflow.py:247-250)."""


class FileGateError(ValueError):
    """Raised when the file-set gate fails (Q1 <- dataflow.py:62-134)."""


def require_columns(df: DataFrame, required: list[str]) -> DataFrame:
    """Fail fast if required columns are missing (Q3). Returns df for
    chaining. Membership follows Spark's own resolution rules — with
    the default spark.sql.caseSensitive=false a frame column `Entity`
    satisfies a required `entity` (r9 review: the case-sensitive test
    hard-failed loads every downstream reference would resolve fine)."""
    case_sensitive = (
        str(
            df.sparkSession.conf.get("spark.sql.caseSensitive", "false")
        ).lower()
        == "true"
    )
    have = set(df.columns) if case_sensitive else {c.lower() for c in df.columns}
    missing = [
        c for c in required if (c if case_sensitive else c.lower()) not in have
    ]
    if missing:
        raise MissingColumnsError(f"missing required columns: {missing}")
    return df


def validate_generic_records(df: DataFrame) -> DataFrame:
    """Record-structure check (Q4 <- validate_record_structure,
    dataflow.py:296-325): required fields id/name/value non-empty (0
    allowed for value), value numeric, optional timestamp in one of the 5
    accepted formats. Adds an ``_errors`` array column — empty means valid
    — so callers can quarantine instead of raise (Q6 upgrade)."""
    errors = F.array_compact(
        F.array(
            F.when(~non_empty(F.col("id").cast("string")), F.lit("missing_id")),
            F.when(~non_empty(F.col("name").cast("string")), F.lit("missing_name")),
            F.when(F.col("value").cast("string").isNull(), F.lit("missing_value")).otherwise(
                F.when(
                    parse_double_or_null(F.col("value").cast("string")).isNull(),
                    F.lit("value_not_numeric"),
                )
            ),
            F.when(
                F.col("timestamp").isNotNull()
                & multi_format_timestamp(F.col("timestamp")).isNull(),
                F.lit("bad_timestamp"),
            )
            if "timestamp" in df.columns
            else F.lit(None).cast("string"),
        )
    )
    return df.withColumn("_errors", errors)


@dataclass
class FileValidationSummary:
    """Q1/Q7 contract: what prepare_dataflow_parameters consumed
    (dataflow.py:387-416)."""

    total_files: int
    valid_files: int
    total_records: int
    per_file: dict[str, int] = field(default_factory=dict)
    errors: list[str] = field(default_factory=list)

    @property
    def all_valid(self) -> bool:
        return self.valid_files == self.total_files and self.total_records > 0

    @property
    def warnings(self) -> list[str]:
        """S10 threshold findings — advisory, never invalidate the set
        (the reference logs and continues, dataflow.py:174-180)."""
        return [e for e in self.errors if e.startswith("warning: ")]


LARGE_FILE_MB = 100.0
OLD_FILE_DAYS = 7

# per_file dicts above this cardinality stay empty, so a summary over a
# huge file set stays small
PER_FILE_COLLECT_CAP = 10_000
# the hard errors a summary lists are capped too (a gate over a million
# empty files should report "a lot", not a million lines)
ERROR_COLLECT_CAP = 1_000


def _norm_path(path: str) -> str:
    """Normalize a file URI to a bare absolute path so Spark's
    ``file:/...`` listings compare equal to caller-supplied ``/...``
    paths. Basename comparison is NOT enough: a/data.json and
    b/data.json must stay distinct (empty-file masking otherwise)."""
    return re.sub(r"^/+", "/", re.sub(r"^[a-zA-Z][a-zA-Z0-9+.-]*:", "", path))


def probe_file_metadata(spark: SparkSession, paths: list[str]) -> DataFrame:
    """Distributed file-metadata probe (S10 <- dataflow.py:154-167): path,
    size (bytes and MB — F13's unit conversion, dataflow.py:165), and
    modification time per file, WITHOUT reading file contents — the
    binaryFile source prunes its ``content`` column when only metadata
    columns are selected, so this stays a listing-only job even over a
    100 TB prefix."""
    return (
        spark.read.format("binaryFile")
        .load(paths)
        .select(
            F.col("path"),
            F.col("length").alias("size_bytes"),
            (F.col("length") / F.lit(1024.0 * 1024.0)).alias("size_mb"),
            F.col("modificationTime").alias("mtime"),
        )
    )


def file_metadata_checks(
    spark: SparkSession,
    paths: list[str],
    max_size_mb: float = LARGE_FILE_MB,
    max_age_days: int = OLD_FILE_DAYS,
    now: _dt.datetime | None = None,
) -> list[str]:
    """Threshold probes over file metadata (S10 <- dataflow.py:169-180):
    empty files are hard errors; files larger than ``max_size_mb`` or older
    than ``max_age_days`` produce ``warning:``-prefixed entries — same
    keep-going semantics as the reference's ``logging.warning``. One
    listing-only job; each finding list is capped at ``ERROR_COLLECT_CAP``."""
    now = now or _dt.datetime.now(_dt.timezone.utc)
    age_days = (F.lit(now) - F.col("mtime")).cast("long") / F.lit(86400.0)
    listing = (
        probe_file_metadata(spark, paths)
        .select("path", "size_mb", age_days.alias("age_days"))
        .collect()
    )
    # The binaryFile source omits 0-byte files from its listing, so "empty"
    # is detected as input paths absent from the probe (dataflow.py:170-171
    # raises on 0 bytes; here it's a hard error entry). The comparison is on
    # scheme-normalized FULL paths — basename matching would let any
    # same-named non-empty file mask an empty one. The listing holds one
    # row per file, as do ``paths`` and Spark's driver-side file index.
    listed = {_norm_path(r["path"]) for r in listing}
    missing = [p for p in paths if _norm_path(p) not in listed]
    flagged = [
        r for r in listing if r["size_mb"] > max_size_mb or r["age_days"] > max_age_days
    ]
    findings = [f"{p}: empty file (0 bytes)" for p in missing[:ERROR_COLLECT_CAP]]
    for r in flagged[:ERROR_COLLECT_CAP]:
        if r["size_mb"] > max_size_mb:
            findings.append(f"warning: {r['path']}: large file {r['size_mb']:.2f} MB")
        if r["age_days"] > max_age_days:
            findings.append(f"warning: {r['path']}: old file {int(r['age_days'])} days")
    return findings


def format_for_path(path: str) -> str:
    """Extension -> format dispatch (Q2 <- dataflow.py:189-199): json, csv,
    jsonl/ndjson, anything else plain text."""
    name = path.rsplit("/", 1)[-1].lower()
    ext = name.rsplit(".", 1)[-1] if "." in name else ""
    if ext == "json":
        return "json"
    if ext == "csv":
        return "csv"
    if ext in ("jsonl", "ndjson"):
        return "jsonl"
    return "text"


def file_gate(
    spark: SparkSession,
    paths: list[str],
    fmt: str | None = "json",
    min_records: int = 1,
    check_metadata: bool = False,
) -> FileValidationSummary:
    """File-set validation gate (Q1 <- check_input_files, dataflow.py:62-134):
    count records per file distributed (a groupBy on the source path —
    vs the reference's sequential downloads), fail when any file is empty
    or the total is below ``min_records``. The per-file counts are one
    aggregate job, and :func:`file_verdict` judges its one-row-per-file
    result on the driver; nothing is checkpointed.

    This is the standalone gate: it reads the files only to count them.
    A pipeline that loads what it gates should not read twice —
    ``run_validated_ingest`` gates its one cache
    (``pipelines.covid.read_covid``: the PERMISSIVE read with the source
    path projected before the cache) with ``per_file_counts`` and the
    same :func:`file_verdict`; that aggregate fills the cache the writes
    reuse, and counts its parse failures, which stay in the cache until
    the writes filter them out of it.

    ``fmt=None`` routes each file by extension (Q2 <- dataflow.py:189-199),
    handling mixed-format directories by running one gate per format group
    and merging the summaries. ``check_metadata=True`` adds the S10
    size/age threshold probes to the summary's errors list.
    """
    if not paths:
        raise FileGateError("no input files")
    if fmt is None:
        groups: dict[str, list[str]] = {}
        for p in paths:
            groups.setdefault(format_for_path(p), []).append(p)
        merged = FileValidationSummary(0, 0, 0)
        for gfmt, gpaths in sorted(groups.items()):
            part = file_gate(spark, gpaths, fmt=gfmt, min_records=0)
            merged.total_files += part.total_files
            merged.valid_files += part.valid_files
            merged.total_records += part.total_records
            merged.per_file.update(part.per_file)
            merged.errors.extend(part.errors)
        if merged.total_records < min_records:
            merged.errors.append(f"total records {merged.total_records} < {min_records}")
        if check_metadata:
            merged.errors.extend(file_metadata_checks(spark, paths))
        return merged
    if fmt == "json":
        df = spark.read.option("multiLine", "true").json(paths)
    elif fmt == "jsonl":
        df = spark.read.json(paths)
    elif fmt == "csv":
        df = spark.read.option("header", "true").csv(paths)
    elif fmt == "text":
        df = spark.read.text(paths).filter(F.length(F.trim(F.col("value"))) > 0)
    else:
        raise FileGateError(f"unsupported format: {fmt}")
    # corrupt/unparseable rows must not count as records (r9 review: a
    # truncated JSON file parsed to one _corrupt_record-only row and
    # PASSED the gate). Validity derives from the PAYLOAD columns (any
    # non-null field), never from _corrupt_record: referencing only the
    # corrupt column on a raw read is refused by Spark — a corrupt row
    # has every payload field null, so the tests agree.
    payload = [c for c in df.columns if c != CORRUPT_COL]
    valid_row = None
    if CORRUPT_COL in df.columns:
        # "any non-null payload field" must be an OR over every column:
        # isNotNull never returns NULL, so a coalesce() chain would collapse
        # to the FIRST column's test alone and reject healthy rows whose
        # first (for JSON: alphabetically first) field is legitimately null.
        valid_row = (
            reduce(operator.or_, [F.col(c).isNotNull() for c in payload])
            if payload
            else F.lit(False)
        )
    # valid_row already rejects corrupt rows; dropping the column keeps the
    # aggregate from reading it alone when the payload is empty
    df = df.drop(CORRUPT_COL).select("*", F.input_file_name().alias(SOURCE_COL))
    counts = per_file_counts(df, valid_row).collect()
    summary = file_verdict(paths, counts, min_records)
    if check_metadata:
        summary.errors.extend(file_metadata_checks(spark, paths))
    return summary


def per_file_counts(df: DataFrame, valid_row: Column | None = None) -> DataFrame:
    """(source, cnt, corrupt): records per source file of a frame that
    carries ``SOURCE_COL`` (``pipelines.covid.read_covid`` projects it
    before its cache). ``valid_row`` says which rows count; by default
    every row does. A file with rows but no valid one gets cnt NULL
    (nullif 0), exactly like a file the reader produced no rows for.
    ``corrupt`` counts the rows with ``CORRUPT_COL`` set (0 when the
    frame has no such column): under the default rule they are records,
    and a load needs their number apart from the rows it writes."""
    n = F.count(F.lit(1)) if valid_row is None else F.sum(valid_row.cast("long"))
    corrupt = F.count(CORRUPT_COL) if CORRUPT_COL in df.columns else F.lit(0)
    return df.groupBy(F.col(SOURCE_COL).alias("source")).agg(
        F.nullif(n, F.lit(0)).alias("cnt"), corrupt.alias("corrupt")
    )


def file_verdict(
    paths: list[str], counts: list[Row], min_records: int = 1
) -> FileValidationSummary:
    """The gate's verdict: the collected rows of :func:`per_file_counts`
    -> :class:`FileValidationSummary`. The counts come from one aggregate
    job whose result has one row per file that has records; input paths
    match it on scheme-normalized FULL paths (never basenames — two dirs
    may share filenames), so a path with no row has no records. Nothing
    is checkpointed or cached."""
    got = {_norm_path(r["source"]): r["cnt"] for r in counts}
    cnt = {p: got.get(_norm_path(p)) for p in paths}
    empty = [p for p in paths if cnt[p] is None]
    summary = FileValidationSummary(
        total_files=len(paths),
        valid_files=len(paths) - len(empty),
        total_records=sum(cnt[p] or 0 for p in paths),
        per_file={p: c for p, c in cnt.items() if c is not None}
        if len(paths) <= PER_FILE_COLLECT_CAP
        else {},
        errors=[f"{p}: no records" for p in empty[:ERROR_COLLECT_CAP]],
    )
    if summary.total_records < min_records:
        summary.errors.append(
            f"total records {summary.total_records} < {min_records}"
        )
    return summary
