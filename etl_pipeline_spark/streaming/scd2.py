"""Streaming SCD2 dimension maintenance — the continuous form of
q_scd2_user_values (queries/advanced.py): a file-source change feed is
folded into a type-2 dimension table per micro-batch with foreachBatch.

Incremental invariant: each batch recomputes validity intervals ONLY for
the keys it touches — every existing row of a touched key collapses back
to its (valid_from, value) change point, the batch's changes join the
per-key timeline, and ONE LEAD window re-derives the intervals — while
rows of untouched keys are carried over verbatim. Maintenance cost per
batch is O(batch + rows of touched keys), never O(dimension). The full
per-key re-derivation (not just the open row — the r9 review found the
open-row-only fold left OVERLAPPING intervals when a change arrived
older than the open row) makes arbitrarily late changes land exactly
where a full recompute would put them.

Crash safety / exactly-once: every batch publishes a full dimension
snapshot under ``dim_dir/v=<version>/`` (a monotonic counter, decoupled
from the batch id) and then points the ``_LATEST`` marker at it. A crash mid-write leaves a partial version directory but
the marker still names the previous complete snapshot, so the replay
recomputes from the correct base. A crash AFTER the marker move but
BEFORE the checkpoint commit is the other half of the window (r9
review): the replayed batch would re-fold into a snapshot that already
contains it, so ``process`` skips a batch whose id AND content
fingerprint both match the marker — a true crash replay. An id-only
skip would be wrong (r10 review): a REBUILT checkpoint restarts batch
ids at 0 and may bundle new change files with replayed ones; those
batches fold instead (safe — the fold dedups change points per
(user_id, ts), so the replayed portion is a no-op).

At 100 TB the snapshot-per-batch becomes a MERGE into a key-partitioned
table (or a format with transactional upsert); the per-batch plan — semi
join on touched keys, LEAD window over (open rows + changes), anti join
carry-over — is unchanged.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F
from pyspark.sql import types as T

from etl_pipeline_spark.session import local_frame


def _latest_marker(dim_dir: str) -> tuple[int | None, int | None, str | None]:
    """(snapshot version, applied batch id, batch fingerprint) from
    ``_LATEST``. The snapshot version is a MONOTONIC counter decoupled
    from the batch id (r10: a rebuilt checkpoint restarts batch ids at 0,
    and publishing v=<batch_id> would overwrite the very snapshot the
    fold is reading). Older single/two-line markers parse with the first
    line serving as both version and batch id."""
    marker = os.path.join(dim_dir, "_LATEST")
    if os.path.exists(marker):
        with open(marker) as fh:
            lines = fh.read().splitlines()
        version = int(lines[0].strip())
        batch_id = int(lines[1].strip()) if len(lines) > 1 else version
        fingerprint = lines[2].strip() if len(lines) > 2 else None
        return version, batch_id, fingerprint
    return None, None, None


def _latest_version(dim_dir: str) -> int | None:
    return _latest_marker(dim_dir)[0]


# shared with the idempotent batch writer (streaming/util.py) — the
# same rebuilt-checkpoint class applies to both sinks
from etl_pipeline_spark.streaming.util import (  # noqa: E402
    batch_fingerprint as _batch_fingerprint,
)


def _read_latest(spark: SparkSession, dim_dir: str, schema: str) -> DataFrame:
    version = _latest_version(dim_dir)
    if version is not None:
        return spark.read.parquet(os.path.join(dim_dir, f"v={version}"))
    names = T.StructType.fromDDL(schema).fieldNames()
    return local_frame(spark, {n: [] for n in names}, schema)


def _publish(
    df: DataFrame,
    dim_dir: str,
    version: int,
    batch_id: int,
    fingerprint: str = "",
) -> None:
    out = os.path.join(dim_dir, f"v={version}")
    df.write.mode("overwrite").parquet(out)
    marker = os.path.join(dim_dir, "_LATEST")
    with open(marker + ".tmp", "w") as fh:
        fh.write(f"{version}\n{batch_id}\n{fingerprint}")
    os.replace(marker + ".tmp", marker)  # atomic on POSIX


DIM_SCHEMA = (
    "user_id BIGINT, valid_from TIMESTAMP, valid_to TIMESTAMP, "
    "value DOUBLE, is_current BOOLEAN"
)


def apply_scd2_batch(spark: SparkSession, dim: DataFrame, batch: DataFrame) -> DataFrame:
    """Fold one batch of changes (user_id, ts, value) into the SCD2 table.

    Pure function of (dim, batch) — the unit the streaming writer and the
    tests share. Every existing row of a touched key collapses to its
    (valid_from, value) change point; the union of those points with the
    batch dedups per (user_id, ts) keeping the highest value (so a change
    at exactly an existing boundary resolves deterministically — r9
    review: the old open-row-only merge left that tie to window order),
    and one LEAD pass re-derives the intervals. Late changes older than
    the open row therefore split the correct HISTORICAL interval instead
    of overlapping it.
    """
    # malformed-row guard (r10 adversarial fuzz): a corrupt feed line
    # parses to an all-null row and a partial record can carry a null
    # key or timestamp — folding those plants NULL-keyed rows and
    # NULL-valid_from intervals in the dimension (breaking the interval
    # invariant for the key). A change is only a change with both its
    # identity and its time; anything else is dropped here, the same
    # posture as the batch quarantine split (P3).
    changes = batch.select("user_id", "ts", "value").filter(
        F.col("user_id").isNotNull() & F.col("ts").isNotNull()
    )
    touched = changes.select("user_id").distinct()
    carried = dim.join(touched, "user_id", "left_anti")
    history_as_changes = dim.join(touched, "user_id", "left_semi").select(
        "user_id", F.col("valid_from").alias("ts"), "value"
    )
    merged = (
        history_as_changes.unionByName(changes)
        .groupBy("user_id", "ts")
        .agg(F.max("value").alias("value"))
    )
    w = W.partitionBy("user_id").orderBy("ts")
    nxt = F.lead("ts").over(w)
    recomputed = merged.select(
        "user_id",
        F.col("ts").alias("valid_from"),
        nxt.alias("valid_to"),
        "value",
        nxt.isNull().alias("is_current"),
    )
    return carried.unionByName(recomputed)


def start_scd2_maintenance(
    spark: SparkSession,
    input_dir: str,
    dim_dir: str,
    checkpoint_dir: str,
    schema: str = "user_id BIGINT, ts TIMESTAMP, value DOUBLE",
):
    """Run the change feed at ``input_dir`` (json files) into an SCD2
    dimension at ``dim_dir``. Returns the StreamingQuery."""
    stream = spark.readStream.schema(schema).json(input_dir)

    def process(batch_df: DataFrame, batch_id: int) -> None:
        # replay guard (r9 review): a crash AFTER the marker move but
        # BEFORE the checkpoint commit re-delivers this batch against a
        # snapshot that already contains it. Skipping on id alone is NOT
        # safe (r10 review): a rebuilt checkpoint restarts batch ids at 0,
        # and its batch 0 may bundle NEW change files alongside replayed
        # ones — an id-only (or >=) skip silently drops the new data. So
        # skip only a TRUE replay: same id AND same content fingerprint.
        # Anything else folds — apply_scd2_batch is idempotent for the
        # replayed portion (change points dedup per (user_id, ts)), so
        # re-folding mixed replay+new batches is correct.
        fingerprint = _batch_fingerprint(batch_df)
        version, done_id, done_fp = _latest_marker(dim_dir)
        if done_id == batch_id and done_fp == fingerprint:
            return
        spark_b = batch_df.sparkSession
        dim = _read_latest(spark_b, dim_dir, DIM_SCHEMA)
        new_dim = apply_scd2_batch(spark_b, dim, batch_df)
        new_version = 0 if version is None else version + 1
        _publish(new_dim, dim_dir, new_version, batch_id, fingerprint)

    return (
        stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
