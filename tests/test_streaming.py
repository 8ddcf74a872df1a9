"""Structured Streaming tests (SURVEY.md §2.9): file-source ingest with
foreachBatch dual sink, and event-time windowed aggregations."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from etl_pipeline_spark.streaming.ingest import start_file_ingest
from etl_pipeline_spark.streaming.windows import sessionized_counts, tumbling_counts

CSV1 = """entity,Day,total_confirmed_deaths
A,2021-01-01,10
B,2021-01-01,bad
"""
CSV2 = """entity,Day,total_confirmed_deaths
C,2021-01-02,20.9
"""


def test_file_ingest_end_to_end(spark, tmp_path_factory):
    base = tmp_path_factory.mktemp("stream")
    inp, out, ckpt = base / "in", base / "out", base / "ckpt"
    inp.mkdir()
    (inp / "f1.csv").write_text(CSV1)
    (inp / "f2.csv").write_text(CSV2)
    q = start_file_ingest(spark, str(inp), str(out), str(ckpt))
    q.awaitTermination(120)
    main = spark.read.parquet(str(out / "main"))
    quarantine = spark.read.parquet(str(out / "quarantine"))
    audit = spark.read.parquet(str(out / "audit"))
    assert {r["entity"] for r in main.collect()} == {"A", "C"}
    assert main.filter(F.col("entity") == "C").collect()[0]["total_confirmed_deaths"] == 20
    assert quarantine.count() == 1
    assert audit.agg(F.sum("record_count")).collect()[0][0] == 2

    # restart with no new files: checkpoint prevents reprocessing
    q2 = start_file_ingest(spark, str(inp), str(out), str(ckpt))
    q2.awaitTermination(120)
    assert spark.read.parquet(str(out / "main")).count() == 2


def test_stream_counts_malformed_lines_out_like_the_batch_ingest(spark, tmp_path_factory):
    """A line with an extra field is a parse failure in the stream as in
    the batch ingest: it is in neither sink, and the stream's main and
    quarantine rows match ``run_validated_ingest`` on the same files."""
    from etl_pipeline_spark.pipelines.orchestration import run_validated_ingest

    base = tmp_path_factory.mktemp("stream_malformed")
    inp, out, ckpt = base / "in", base / "out", base / "ckpt"
    inp.mkdir()
    (inp / "f1.csv").write_text(CSV1 + "Mexico,2021-03-01,17,extra-field\n")
    (inp / "f2.csv").write_text(CSV2)
    q = start_file_ingest(spark, str(inp), str(out), str(ckpt))
    q.awaitTermination(120)
    main = spark.read.parquet(str(out / "main"))
    quarantine = spark.read.parquet(str(out / "quarantine"))
    assert "Mexico" not in {r["entity"] for r in main.collect()}
    res = run_validated_ingest(spark, str(inp / "*.csv"), database="etl_t_stream_parity")
    assert (res.output_rows, res.quarantined_rows, res.parse_failures) == (2, 1, 1)
    assert main.count() == res.output_rows
    assert quarantine.count() == res.quarantined_rows


@pytest.fixture(scope="module")
def event_stream(spark, tmp_path_factory):
    d = tmp_path_factory.mktemp("events_src")
    df = spark.createDataFrame(
        [
            ("2024-01-01 00:05:00", 1, "click", 1.0),
            ("2024-01-01 00:20:00", 1, "click", 2.0),
            ("2024-01-01 00:50:00", 2, "view", 3.0),
            ("2024-01-01 01:10:00", 2, "view", 4.0),
        ],
        "ts_s string, user_id long, event_type string, value double",
    ).select(F.to_timestamp("ts_s").alias("ts"), "user_id", "event_type", "value")
    df.write.parquet(str(d / "data"))
    return spark.readStream.schema(df.schema).parquet(str(d / "data"))


def _run_complete(spark, df, name):
    q = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return spark.table(name)


def test_tumbling_counts(spark, event_stream):
    res = _run_complete(spark, tumbling_counts(event_stream), "t_tumbling")
    rows = {(str(r["window_start"]), r["event_type"]): r for r in res.collect()}
    assert rows[("2024-01-01 00:00:00", "click")]["n_events"] == 2
    assert rows[("2024-01-01 00:00:00", "view")]["n_events"] == 1
    assert rows[("2024-01-01 01:00:00", "view")]["sum_value"] == 4.0


def test_session_windows(spark, event_stream):
    res = _run_complete(spark, sessionized_counts(event_stream), "t_sessions")
    by_user = {}
    for r in res.collect():
        by_user.setdefault(r["user_id"], []).append(r)
    # user 1: events 15 min apart -> beyond 5-min gap -> two sessions
    assert len(by_user[1]) == 2
    # user 2: 20 min apart -> two sessions
    assert len(by_user[2]) == 2


def test_watermark_drops_late_events(spark, tmp_path_factory):
    """§2.9 late-data semantics: an event arriving behind the watermark is
    DROPPED from the windowed aggregation. Two micro-batches (one file
    each via maxFilesPerTrigger=1): batch 1's max ts advances the
    watermark; batch 2 carries an event older than it. In append mode the
    late event's window must never be emitted."""
    import os
    import time

    d = tmp_path_factory.mktemp("late_events")
    src = d / "src"
    src.mkdir()
    schema = "ts timestamp, user_id long, event_type string, value double"

    def write_file(name, rows, mtime):
        # single-FILE parquet (not a directory) so the file stream's
        # maxFilesPerTrigger=1 maps one file -> one micro-batch, with
        # mtime controlling batch order
        import glob as g
        import shutil

        df = spark.createDataFrame(rows, "ts_s string, user_id long, event_type string, value double")
        df = df.select(F.to_timestamp("ts_s").alias("ts"), "user_id", "event_type", "value")
        tmp = str(d / f"_tmp_{name}")
        df.coalesce(1).write.mode("overwrite").parquet(tmp)
        part = g.glob(f"{tmp}/part-*.parquet")[0]
        path = str(src / name)
        shutil.move(part, path)
        shutil.rmtree(tmp)
        os.utime(path, (mtime, mtime))
        return path

    t0 = time.time() - 1000
    # batch 0: window W=[10:00,10:15) gets 2 events; max ts 10:59
    write_file(
        "a.parquet",
        [
            ("2024-01-01 10:00:00", 1, "click", 1.0),
            ("2024-01-01 10:05:00", 1, "click", 1.0),
            ("2024-01-01 10:59:00", 2, "view", 1.0),
        ],
        t0,
    )
    # batch 1: watermark in effect is now 10:49 (> W.end) -> W is
    # finalized, emitted, and evicted at the end of this batch
    write_file("b.parquet", [("2024-01-01 11:00:00", 2, "view", 1.0)], t0 + 60)
    # batch 2: a LATE event inside the finalized W — must be dropped at
    # the watermark, never re-opening or re-emitting W
    write_file(
        "c.parquet",
        [
            ("2024-01-01 10:05:00", 3, "click", 1.0),
            ("2024-01-01 11:30:00", 2, "view", 1.0),
        ],
        t0 + 120,
    )

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(str(src))
    )
    agg = tumbling_counts(stream, window="15 minutes", watermark="10 minutes")
    q = (
        agg.writeStream.format("memory")
        .queryName("t_late")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    dropped = sum(
        op.get("numRowsDroppedByWatermark", 0)
        for p in q.recentProgress
        for op in p["stateOperators"]
    )
    assert dropped == 1  # exactly the late 10:05 arrival
    out = [
        r
        for r in spark.table("t_late").collect()
        if str(r["window_start"]) == "2024-01-01 10:00:00"
    ]
    # W emitted exactly once, with only its on-time events — the late row
    # neither re-opened the window nor produced a duplicate emission
    assert len(out) == 1
    assert out[0]["n_events"] == 2


def test_idempotent_batch_writer_skips_replays(spark, tmp_path_factory):
    from etl_pipeline_spark.streaming.ingest import idempotent_batch_writer

    base = tmp_path_factory.mktemp("idemp")
    out = str(base / "out")
    process = idempotent_batch_writer(out)
    df = spark.range(5)
    process(df, 0)
    process(df, 0)  # replay of the same batch id -> must be skipped
    process(df, 1)
    total = spark.read.parquet(out).count()
    assert total == 10  # 2 distinct batches x 5 rows, replay ignored
    assert {r["batch_id"] for r in spark.read.parquet(out).select("batch_id").collect()} == {0, 1}


def test_stream_killed_mid_write_replays_idempotently(spark, tmp_path_factory):
    """Exactly-once under a MID-BATCH crash (r4, VERDICT #4): the query
    dies after a partial main-table write (subset of rows, no _SUCCESS),
    before the checkpoint commits the batch. On restart the file source
    re-delivers the same batch id and the idempotent writer overwrites
    the partial directory — conservation holds exactly, no loss, no dupe."""
    import os

    import pytest
    from pyspark.errors.exceptions.captured import StreamingQueryException

    from etl_pipeline_spark.streaming.ingest import idempotent_batch_writer

    base = tmp_path_factory.mktemp("crash_midbatch")
    src = base / "src"
    src.mkdir()
    out, ckpt = str(base / "out"), str(base / "ckpt")
    for i in range(3):  # one file per micro-batch (maxFilesPerTrigger=1)
        (src / f"f{i}.csv").write_text("id\n" + "\n".join(str(10 * i + j) for j in range(5)))

    inner = idempotent_batch_writer(out)
    crash = {"armed": True}

    def process(batch_df, batch_id: int) -> None:
        if crash["armed"] and batch_id == 1:
            crash["armed"] = False
            dest = os.path.join(out, f"batch_id={batch_id}")
            batch_df.limit(2).write.mode("overwrite").parquet(dest)  # partial write
            os.remove(os.path.join(dest, "_SUCCESS"))  # died before commit marker
            raise RuntimeError("injected crash mid-write")
        inner(batch_df, batch_id)

    def start():
        return (
            spark.readStream.schema("id long")
            .option("header", "true")
            .option("maxFilesPerTrigger", "1")
            .csv(str(src))
            .writeStream.foreachBatch(process)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )

    q = start()
    with pytest.raises(StreamingQueryException):
        q.awaitTermination(120)
    # partial batch-1 directory exists on disk at this point
    assert os.path.exists(os.path.join(out, "batch_id=1"))
    assert not os.path.exists(os.path.join(out, "batch_id=1", "_SUCCESS"))

    q2 = start()  # restart from the same checkpoint
    q2.awaitTermination(120)
    rows = spark.read.parquet(out).collect()
    got = sorted(r["id"] for r in rows)
    assert got == sorted(10 * i + j for i in range(3) for j in range(5))  # conservation
    assert len(got) == len(set(got)) == 15  # no duplicates from the replay


def test_idempotent_batch_writer_overwrites_partial_batch(spark, tmp_path_factory):
    """Crash window regression: a batch directory without _SUCCESS (died
    mid-write) must be fully overwritten on replay, not appended to."""
    import os

    from etl_pipeline_spark.streaming.ingest import idempotent_batch_writer

    base = tmp_path_factory.mktemp("idemp_partial")
    out = str(base / "out")
    process = idempotent_batch_writer(out)
    process(spark.range(5), 0)
    # simulate a crash that committed data but lost the _SUCCESS marker
    os.remove(os.path.join(out, "batch_id=0", "_SUCCESS"))
    process(spark.range(5), 0)  # replay must overwrite, yielding 5 rows
    assert spark.read.parquet(out).count() == 5
