"""End-to-end orchestration — SURVEY.md §3 Entry 3: the validation DAG
(sensor -> list -> validate -> prepare params -> create dataset -> launch
pipeline) collapsed into one driver function with one Spark session.

The reference spread this over five Airflow tasks passing XCom dicts
(dataflow.py:418-486) and downloaded every file into a single worker to
validate it (dataflow.py:184). Here validation is a distributed file gate
(one aggregate job for the whole file set), the parameter contract is a
plain dataclass (Q7 <- prepare_dataflow_parameters, dataflow.py:387-416),
and the "launched pipeline" is a function call sharing the session and
the cached read: the ingest gates the same parsed batch it loads.

One batch holds one cache, ``pipelines.covid.read_covid``'s flagged
PERMISSIVE read. The gate's aggregate fills it and counts parse failures;
the two table writes read it and count their own rows; the audit append
follows. No job only counts.
"""

from __future__ import annotations

import glob as globlib
from dataclasses import dataclass, field

from pyspark.sql import SparkSession

from etl_pipeline_spark.pipelines.covid import CovidPipelineResult, load_covid, read_covid
from etl_pipeline_spark.quality.checks import (
    FileGateError,
    FileValidationSummary,
    file_gate,
    file_verdict,
    per_file_counts,
)
from etl_pipeline_spark.sources.sinks import create_database_if_not_exists


@dataclass
class IngestParameters:
    """Q7 parameter/contract handoff (dataflow.py:387-416): what the
    validation stage promises the pipeline stage."""

    input_paths: list[str]
    expected_record_count: int
    database: str = "default"
    errors: list[str] = field(default_factory=list)


def validate_and_prepare(
    spark: SparkSession,
    input_glob: str,
    fmt: str = "csv",
    min_records: int = 1,
    check_metadata: bool = False,
) -> IngestParameters:
    """Sensor + list + validate (S8/S9/Q1): enumerate files matching the
    glob (the batch stand-in for the arrival sensor), run the distributed
    file gate, assemble the parameter contract. Raises FileGateError when
    the gate fails — the reference's fail-the-DAG behavior."""
    paths = _list_inputs(input_glob)
    summary = file_gate(
        spark, paths, fmt=fmt, min_records=min_records, check_metadata=check_metadata
    )
    _raise_on_hard_errors(summary)
    return IngestParameters(
        input_paths=paths, expected_record_count=summary.total_records
    )


def _list_inputs(input_glob: str) -> list[str]:
    paths = sorted(globlib.glob(input_glob))
    if not paths:
        raise FileGateError(f"no files match {input_glob}")
    return paths


def _raise_on_hard_errors(summary: FileValidationSummary) -> None:
    # gate on HARD errors only: metadata "warning: ..." entries are
    # documented as advisory and must never fail a healthy load (r9
    # review: one 101 MB input aborted the whole ingest)
    hard = [e for e in summary.errors if not e.startswith("warning: ")]
    if not summary.all_valid or hard:
        raise FileGateError(f"validation failed: {hard or summary.errors}")


def archive_to_processed(
    paths: list[str], processed_dir: str | None = None
) -> list[str]:
    """Batch move-to-processed lifecycle (S11 <- reference README.md:67,132:
    inputs relocate to a processed/ prefix after a successful load; the
    streaming twin is ``cleanSource=archive``, streaming/ingest.py:43).

    Each file moves into ``processed_dir`` (default: a ``processed/``
    sibling inside the file's own directory). Idempotent: a file already
    archived (destination exists) or already gone (source missing —
    e.g. a rerun after a partial crash) is skipped, so re-running after
    any failure point never errors and never double-moves. Returns the
    list of destination paths actually moved this call."""
    import os
    import shutil

    moved: list[str] = []
    for p in paths:
        dest_dir = processed_dir or os.path.join(os.path.dirname(p), "processed")
        dest = os.path.join(dest_dir, os.path.basename(p))
        if not os.path.exists(p):
            continue  # already relocated by a previous (partial) run
        if os.path.exists(dest):
            continue  # already archived; don't clobber the archive copy
        os.makedirs(dest_dir, exist_ok=True)
        shutil.move(p, dest)
        moved.append(dest)
    return moved


def run_validated_ingest(
    spark: SparkSession,
    input_glob: str,
    database: str = "etl",
    min_records: int = 1,
    archive: bool = False,
) -> CovidPipelineResult:
    """The full Entry-3 flow: validate -> create namespace (S15) ->
    run pipeline -> reconcile counts against the contract (Q7) ->
    optionally archive inputs to processed/ (S11, batch path). Archiving
    runs strictly AFTER reconciliation so a failed load leaves inputs in
    place for the retry.

    The batch is parsed once, into one cache (``read_covid``: the
    PERMISSIVE read with each row's source file and the transform's flag
    columns). The gate's per-file counts are one aggregate over that
    cache (the CSV gate rule: every row counts, a file with none fails),
    which also counts the parse failures and fills the cache; the load
    then writes from the same cache. A failed gate raises before the
    database or any table is touched, and the cache is released on every
    exit.

    Reconciliation compares two independent tallies: the gate's total
    (every row in the cache) against what the writes observed (clean +
    quarantined) plus the parse failures. A row lost between the cache and
    a write fails it."""
    paths = _list_inputs(input_glob)
    flagged = read_covid(spark, paths)
    try:
        counts = per_file_counts(flagged).collect()
        summary = file_verdict(paths, counts, min_records)
        _raise_on_hard_errors(summary)
        create_database_if_not_exists(spark, database)
        result = load_covid(
            spark,
            flagged,
            sum(r["corrupt"] for r in counts),
            paths,
            main_table=f"{database}.covid_clean",
            audit_table=f"{database}.covid_audit_log",
            quarantine_table=f"{database}.covid_quarantine",
        )
    finally:
        flagged.unpersist()
    # reconciliation: pipeline accounting must explain every promised row
    if result.input_rows != summary.total_records:
        raise FileGateError(
            f"count reconciliation failed: gate promised "
            f"{summary.total_records}, pipeline saw {result.input_rows}"
        )
    if archive:
        archive_to_processed(paths)
    return result
