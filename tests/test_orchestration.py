"""Entry-3 orchestration: distributed validation gate -> namespace DDL ->
pipeline -> count reconciliation (Q1/Q7/S15)."""

from __future__ import annotations

import threading
from concurrent.futures import Future

import pytest
from conftest import jobs_started
from pyspark.sql import functions as F

from etl_pipeline_spark.pipelines import covid
from etl_pipeline_spark.pipelines.orchestration import run_validated_ingest
from etl_pipeline_spark.quality.checks import FileGateError

GOOD = """entity,Day,total_confirmed_deaths
A,2021-01-01,10
B,2021-01-01,20
"""
MORE = """entity,Day,total_confirmed_deaths
C,2021-01-02,30
bad-row,not-a-date,xx
"""


def test_validated_ingest_end_to_end(spark, tmp_path_factory):
    d = tmp_path_factory.mktemp("ingest")
    (d / "a.csv").write_text(GOOD)
    (d / "b.csv").write_text(MORE)
    res = run_validated_ingest(spark, str(d / "*.csv"), database="etl_t1")
    assert res.input_rows == 4
    assert res.output_rows == 3
    assert res.quarantined_rows == 1
    assert spark.table("etl_t1.covid_clean").count() == 3
    assert spark.table("etl_t1.covid_quarantine").count() == 1
    assert spark.table("etl_t1.covid_audit_log").count() == 1


def test_gate_blocks_empty_fileset(spark, tmp_path_factory):
    d = tmp_path_factory.mktemp("ingest_empty")
    with pytest.raises(FileGateError):
        run_validated_ingest(spark, str(d / "*.csv"))


def test_archive_to_processed_moves_once_idempotent(spark, tmp_path_factory):
    """S11 batch path: after a successful validated ingest with
    archive=True, inputs live under processed/ exactly once; re-running
    the archive step (crash-retry shape) moves nothing and errors
    nothing."""
    import os

    from etl_pipeline_spark.pipelines.orchestration import archive_to_processed

    d = tmp_path_factory.mktemp("ingest_arch")
    (d / "a.csv").write_text(GOOD)
    (d / "b.csv").write_text(MORE)
    res = run_validated_ingest(
        spark, str(d / "*.csv"), database="etl_t_arch", archive=True
    )
    assert res.output_rows == 3
    assert not os.path.exists(d / "a.csv") and not os.path.exists(d / "b.csv")
    assert sorted(os.listdir(d / "processed")) == ["a.csv", "b.csv"]
    # idempotent rerun: sources gone, destinations present -> no-op
    assert archive_to_processed([str(d / "a.csv"), str(d / "b.csv")]) == []
    assert sorted(os.listdir(d / "processed")) == ["a.csv", "b.csv"]
    # partial-crash shape: one file restored, its twin already archived ->
    # only the restored one moves, the archive copy is never clobbered
    (d / "a.csv").write_text(GOOD)
    moved = archive_to_processed([str(d / "a.csv"), str(d / "b.csv")])
    assert moved == []  # dest exists: keep the archive copy, skip
    assert os.path.exists(d / "a.csv")


def test_validated_ingest_leaves_no_blocks(spark, tmp_path_factory):
    """One read serves the gate and the load, and the one cache the
    ingest makes is released: no RDD block outlives the call. No job only
    counts: the gate's aggregate, the two table writes and the audit
    append are the only Spark jobs (at most 6 under AQE; 12 when the load
    counted after its writes)."""
    from etl_pipeline_spark.session import release_session_blocks

    d = tmp_path_factory.mktemp("ingest_blocks")
    (d / "a.csv").write_text(GOOD)
    (d / "b.csv").write_text(MORE)
    release_session_blocks(spark)
    with jobs_started(spark) as jobs:
        res = run_validated_ingest(spark, str(d / "*.csv"), database="etl_t_blocks")
    assert (res.input_rows, res.output_rows) == (4, 3)
    assert len(jobs) <= 6, jobs
    assert release_session_blocks(spark) == 0


def test_gate_raises_before_any_write(spark, tmp_path_factory):
    """A header-only CSV beside good files fails the gate: no database
    or table is created, and the read's cache is released on the
    failure path too."""
    from etl_pipeline_spark.session import release_session_blocks

    d = tmp_path_factory.mktemp("ingest_header_only")
    (d / "a.csv").write_text(GOOD)
    (d / "b.csv").write_text(MORE)
    (d / "c.csv").write_text("entity,Day,total_confirmed_deaths\n")
    release_session_blocks(spark)
    with pytest.raises(FileGateError, match="c.csv: no records"):
        run_validated_ingest(spark, str(d / "*.csv"), database="etl_t_gate_first")
    assert not spark.catalog.databaseExists("etl_t_gate_first")
    assert not spark.catalog.tableExists("etl_t_gate_first.covid_clean")
    assert release_session_blocks(spark) == 0


def test_row_lost_before_the_writes_fails_reconciliation(
    spark, tmp_path_factory, monkeypatch
):
    """The load's counts come from the writes, not from the gate's
    aggregate: a clean row dropped between the cache and the main write
    makes the observed tally one short of the gate's total."""
    split = covid.split_flagged

    def lossy(flagged):
        clean, quarantine = split(flagged)
        return clean.filter(F.col("entity") != "A"), quarantine

    monkeypatch.setattr(covid, "split_flagged", lossy)
    d = tmp_path_factory.mktemp("ingest_lossy")
    (d / "a.csv").write_text(GOOD)
    (d / "b.csv").write_text(MORE)
    lost = "count reconciliation failed: gate promised 4, pipeline saw 3"
    with pytest.raises(FileGateError, match=lost):
        run_validated_ingest(spark, str(d / "*.csv"), database="etl_t_lossy")


def _within(seconds, fn):
    """``fn()``'s result, or TimeoutError after ``seconds`` (the call is
    left running on a daemon thread)."""
    fut = Future()

    def run():
        try:
            fut.set_result(fn())
        except BaseException as exc:
            fut.set_exception(exc)

    threading.Thread(target=run, daemon=True).start()
    return fut.result(timeout=seconds)


@pytest.mark.parametrize(
    "body, counts",
    [
        # every row rejected: the clean write gets no row
        ("A,2021-01-01,0\nB,not-a-date,5\n,2021-01-01,3\n", (0, 3, 0)),
        # every line malformed: both writes get no row
        ("A,2021-01-01,5,extra\nB,2021-01-02,6,extra\n", (0, 0, 2)),
    ],
    ids=["all_rejected", "all_malformed"],
)
def test_batch_with_an_empty_side_finishes(spark, tmp_path_factory, body, counts):
    """A write that gets no row still reports its observed count (0), so
    the load finishes and reconciles: (clean, quarantined, parse
    failures) == ``counts``."""
    d = tmp_path_factory.mktemp("ingest_empty_side")
    (d / "a.csv").write_text("entity,Day,total_confirmed_deaths\n" + body)
    res = _within(
        300, lambda: run_validated_ingest(spark, str(d / "*.csv"), database="etl_t_empty_side")
    )
    assert (res.output_rows, res.quarantined_rows, res.parse_failures) == counts
    assert res.input_rows == sum(counts)
    assert spark.table("etl_t_empty_side.covid_clean").count() == counts[0]
    assert spark.table("etl_t_empty_side.covid_quarantine").count() == counts[1]


def test_audit_record_is_a_local_table_scan(spark):
    """The audit row is built through Arrow: it plans as a JVM-side
    LocalTableScan, not a Python-worker RDD scan."""
    from etl_pipeline_spark.sources.sinks import audit_record

    df = audit_record(spark, "/in/x.csv", 5)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "LocalTableScan" in plan and "ExistingRDD" not in plan, plan
    assert df.collect()[0]["record_count"] == 5


def test_release_with_no_blocks_raises_no_py4j_error(spark, monkeypatch):
    """With no persistent RDD the release returns 0 without iterating the
    empty Java map, so no Java exception reaches PySpark's converter.
    One ``persist()``ed frame is released and counted."""
    import pyspark.errors.exceptions.captured as captured

    from etl_pipeline_spark.session import release_session_blocks

    release_session_blocks(spark)
    calls = []
    convert = captured.convert_exception
    monkeypatch.setattr(captured, "convert_exception", lambda e: calls.append(e) or convert(e))
    assert release_session_blocks(spark) == 0
    assert calls == []
    monkeypatch.undo()

    df = spark.range(10).persist()
    assert df.count() == 10
    assert release_session_blocks(spark) == 1
    assert release_session_blocks(spark) == 0


def test_session_has_no_call_site_capture_but_named_errors(spark):
    """PySpark's DataFrame call-site capture is off, and an analysis
    error still arrives as a named AnalysisException with its class."""
    from pyspark.errors import AnalysisException

    assert spark.conf.get("spark.python.sql.dataFrameDebugging.enabled") == "false"
    with pytest.raises(AnalysisException) as err:
        spark.range(3).select("no_such_column").collect()
    assert err.value.getCondition().startswith("UNRESOLVED_COLUMN"), err.value.getCondition()
