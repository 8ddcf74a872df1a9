"""Streaming ingest — SURVEY.md §2.9: the reference's whole sensor-driven
DAG (GCS sensor -> validate -> transform -> load + audit, README.md:67-69,
airflow.py:47-54) as ONE Structured Streaming query.

The file source replaces the poll-every-60s sensor (S8) — new-file
discovery IS the trigger; ``cleanSource='archive'`` replaces the
move-to-processed lifecycle (S11); ``foreachBatch`` does the
transform + dual-sink load (S12/S13/S16) with exactly-once bookkeeping
via the checkpoint.
"""

from __future__ import annotations

from pyspark.sql import SparkSession
from pyspark.sql.streaming import StreamingQuery

from etl_pipeline_spark.pipelines.covid import RAW_SCHEMA, flag_covid, write_split
from etl_pipeline_spark.sources.readers import permissive
from etl_pipeline_spark.sources.sinks import audit_record


def start_file_ingest(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    archive_dir: str | None = None,
    trigger_available_now: bool = True,
) -> StreamingQuery:
    """Watch ``input_dir`` for CSV arrivals; per micro-batch run the covid
    transform and write main/quarantine/audit parquet under ``output_dir``.

    The stream reads PERMISSIVE-ly with the corrupt-record column, like the
    batch ingest, and each micro-batch runs the batch ingest's load body
    (``pipelines.covid.write_split``) on one persisted flagged frame: a
    line the parser cannot read is counted out of both sinks instead of
    landing in ``main`` with its extra fields dropped. Only the sinks
    differ from the batch ingest: ``batch_id=`` parquet directories.

    ``availableNow`` processes the backlog then stops (batch-like test
    mode); drop it for a continuously-running ingest. At scale the same
    query runs unchanged on a cluster — state lives in the checkpoint.
    """
    reader = (
        permissive(spark.readStream, RAW_SCHEMA)
        .option("header", "true")
        .option("maxFilesPerTrigger", "16")
    )
    if archive_dir is not None:
        reader = reader.option("cleanSource", "archive").option(
            "sourceArchiveDir", archive_dir
        )
    raw = reader.csv(input_dir)

    def process_batch(batch_df, batch_id: int) -> None:
        # batch_id-keyed overwrite subdirectories make every sink write
        # idempotent under foreachBatch replay (restart between write and
        # checkpoint commit re-delivers the same batch_id — the overwrite
        # replaces, never duplicates; same for the audit row).
        def sink(name: str):
            return lambda df: df.write.mode("overwrite").parquet(
                f"{output_dir}/{name}/batch_id={batch_id}"
            )

        # one persisted parse feeds both writes; the corrupt filter inside
        # write_split reads it, not the micro-batch's files
        flagged = flag_covid(batch_df).persist()
        try:
            n, _ = write_split(flagged, sink("main"), sink("quarantine"))
        finally:
            flagged.unpersist()
        sink("audit")(audit_record(spark, f"{input_dir} (batch {batch_id})", n))

    writer = raw.writeStream.foreachBatch(process_batch).option(
        "checkpointLocation", checkpoint_dir
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def idempotent_batch_writer(output_dir: str):
    """Wrap a foreachBatch body so re-delivered micro-batches (restart
    after write-but-before-checkpoint) cannot duplicate data: each batch
    writes to a ``batch_id=<id>`` subdirectory with mode('overwrite'), so
    the write itself is the ledger — a replay overwrites the same
    directory instead of appending a second copy. There is no separate
    data-then-ledger step and therefore no crash window between them
    (the flaw in the round-1 two-step design: dying after the data append
    but before the ledger append meant the replay appended again).

    A completed write is marked by Spark's ``_SUCCESS`` file plus a
    ``_FINGERPRINT`` sidecar (content hash of the batch, written AFTER
    the parquet commit). The fast path skips only a TRUE replay — same
    batch id AND same content (r10 review, the SCD2 class): a REBUILT
    checkpoint restarts batch ids at 0, and its batch 0 may bundle NEW
    files with replayed ones — an id-only skip silently drops the new
    data, so a fingerprint mismatch overwrites instead. A crash between
    the parquet commit and the sidecar write leaves ``_SUCCESS`` without
    ``_FINGERPRINT``; the replay then rewrites the directory (idempotent
    overwrite), closing that window too.

    Caveat, documented not hidden: after a checkpoint REBUILD the new
    batch 0 re-bundles data that older ``batch_id=1..N`` directories
    already hold — a partitioned append layout cannot reconcile that
    (the checkpoint and the output directory are one recovery unit;
    clear them together, exactly as Spark's own sink contract states).
    The fingerprint guard turns the failure from SILENT LOSS into
    correct-or-visibly-duplicated, and the SCD2 sink shows the
    snapshot-shaped alternative that fully self-heals.

    Downstream reads ``spark.read.parquet(output_dir)`` and sees batch_id
    as a partition column.
    """
    import os

    from etl_pipeline_spark.streaming.util import batch_fingerprint

    def process(batch_df, batch_id: int) -> None:
        dest = os.path.join(output_dir, f"batch_id={batch_id}")
        fp = batch_fingerprint(batch_df)
        fp_file = os.path.join(dest, "_FINGERPRINT")
        if os.path.exists(os.path.join(dest, "_SUCCESS")):
            try:
                with open(fp_file) as fh:
                    if fh.read().strip() == fp:
                        return  # true replay: same id, same content
            except OSError:
                pass  # committed parquet, no sidecar: crash window — rewrite
        batch_df.write.mode("overwrite").parquet(dest)
        with open(fp_file + ".tmp", "w") as fh:
            fh.write(fp)
        os.replace(fp_file + ".tmp", fp_file)

    return process
