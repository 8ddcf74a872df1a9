"""Warehouse sinks + audit trail — SURVEY.md §2.1 (S12-S17), §2.11 (Q5).

The reference writes a main table (WRITE_TRUNCATE) and appends an audit
row per ingest (dataflow_transform.py:180-214). Spark equivalents:
``mode("overwrite")`` / ``mode("append")`` saveAsTable, plus a one-row
audit DataFrame synthesized from the load's own count — observed during
the main write, so the multi-sink fan-out (S16) runs the pipeline once.
"""

from __future__ import annotations

import os
from datetime import datetime, timezone

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from etl_pipeline_spark.session import local_frame

AUDIT_SCHEMA = (
    "file_name string, ingestion_time timestamp, record_count long, "
    "input_path string, pipeline_status string, processed_timestamp timestamp"
)


def create_table_if_not_exists(spark: SparkSession, table: str, ddl_cols: str) -> None:
    """Idempotent DDL (S14 <- airflow.py:57-84 ``exists_ok=True``)."""
    spark.sql(f"CREATE TABLE IF NOT EXISTS {table} ({ddl_cols})")


def create_database_if_not_exists(spark: SparkSession, db: str) -> None:
    """Namespace DDL (S15 <- dataflow.py:452-460)."""
    spark.sql(f"CREATE DATABASE IF NOT EXISTS {db}")


def overwrite_table(df: DataFrame, table: str) -> None:
    """Truncate-and-load sink (S12 <- dataflow_transform.py:180-189
    WRITE_TRUNCATE + CREATE_IF_NEEDED)."""
    df.write.mode("overwrite").saveAsTable(table)


def append_table(df: DataFrame, table: str) -> None:
    """Append sink (S13 <- dataflow_transform.py:205-214 WRITE_APPEND)."""
    df.write.mode("append").saveAsTable(table)


def audit_record(
    spark: SparkSession,
    input_path: str,
    record_count: int,
    status: str = "completed",
) -> DataFrame:
    """One-row audit entry (Q5 <- dataflow_transform.py:91-106): basename,
    ingestion time, the load's record count, full input path, status.

    Built from Arrow (``session.local_frame``): every batch ingest and
    every streaming micro-batch writes one, and a frame built from a
    Python list would start Python worker tasks each time for one row."""
    # tz-AWARE: the aware datetime is converted to its true instant; a
    # naive datetime is interpreted in the SESSION timezone, shifting
    # audit times by the UTC offset on non-UTC clusters (r9 review)
    now = datetime.now(timezone.utc)
    return local_frame(
        spark,
        {
            "file_name": [os.path.basename(input_path)],
            "ingestion_time": [now],
            "record_count": [record_count],
            "input_path": [input_path],
            "pipeline_status": [status],
            "processed_timestamp": [now],
        },
        AUDIT_SCHEMA,
    )


def observe_count(df: DataFrame) -> tuple[DataFrame, Observation]:
    """``df`` with an unnamed ``Observation`` that counts its rows while
    the action that runs it does (A3's accumulator pattern, SURVEY §2.4 <-
    CountRecords DoFn dataflow_transform.py:75-89): ``obs.get["n"]``
    after the action, with no count job. Observe the frame handed to the
    writer, so the count is what was written. The Observation is
    unnamed: Spark refuses a plan with two observations of one name
    (``DUPLICATED_METRICS_NAME``), so a fixed name breaks any frame built
    from two observed ones."""
    obs = Observation()
    return df.observe(obs, F.count(F.lit(1)).alias("n")), obs


def write_with_audit(
    df: DataFrame,
    main_table: str,
    audit_table: str,
    input_path: str,
    mode: str = "overwrite",
) -> int:
    """Multi-sink fan-out (S16 <- dataflow_transform.py:166-214): one
    processed DataFrame feeds the main table and the audit log. The
    record count is observed during the main write (:func:`observe_count`),
    so the pipeline runs once: no cache and no count job."""
    observed, obs = observe_count(df)
    observed.write.mode(mode).saveAsTable(main_table)
    n = int(obs.get["n"])
    append_table(audit_record(df.sparkSession, input_path, n), audit_table)
    return n


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_cols: list[str],
    n_buckets: int = 32,
    sort_cols: list[str] | None = None,
) -> None:
    """Bucketed table sink: co-locates future joins/aggs on the bucket key
    so they run with NO exchange (the 100 TB answer to repeated fact-fact
    joins — shuffle once at write time, never again at read time).
    """
    writer = df.write.mode("overwrite").bucketBy(n_buckets, *bucket_cols)
    if sort_cols:
        writer = writer.sortBy(*sort_cols)
    writer.saveAsTable(table)


class ConcurrentWriterError(RuntimeError):
    """Raised when a second writer attempts a compact/upsert swap on a path
    whose writer lock is held by a live process (single-writer contract)."""


def _lock_path(path: str) -> str:
    return path.rstrip("/") + "__lock"


def _marker_path(path: str) -> str:
    # written ONLY after the post-swap verification read succeeds; its
    # presence is the proof that "<path> new + <path>__old" means
    # "swap complete, cleanup pending" rather than "verify never finished"
    return path.rstrip("/") + "__swap_verified"


# lock path -> open fd holding the kernel flock; the flock lives exactly
# as long as this fd (or the process) does, so a crashed writer's lock
# evaporates without any steal protocol
_WRITER_LOCK_FDS: dict[str, int] = {}


def _acquire_writer_lock(path: str) -> str:
    """Single-writer guard for the parquet swap protocol, built on
    ``fcntl.flock`` so the kernel serializes contention.

    Earlier revisions used O_EXCL pid files with a rename-based stale-lock
    steal; r10's advisor showed the steal itself reopened a double-writer
    window (while the live lock is renamed away for content inspection,
    the path is vacant, a third writer O_EXCL-creates its own lock, and
    the rename-back silently replaces it — POSIX rename never fails on an
    existing destination). flock removes the whole class: a live holder
    makes ``LOCK_EX | LOCK_NB`` fail, a dead holder's flock is released by
    the kernel automatically, and no file is ever renamed or deleted while
    possibly live.

    The lock FILE still records the holder pid, for diagnostics and as a
    belt-and-braces liveness check: a lock file containing a live pid but
    carrying no flock (written by an out-of-band process, or a holder on
    another NFS client where flock visibility is not guaranteed) is still
    refused, not stolen. Only a genuinely dead pid (signal-0 probe;
    EPERM counts as alive, r9 review) is taken over.

    Local-filesystem guard for local/driver-side swaps; truly concurrent
    multi-host writers need a transactional table format.
    """
    import fcntl
    import os

    lock = _lock_path(path)
    while True:
        fd = os.open(lock, os.O_CREAT | os.O_RDWR)
        try:
            fcntl.flock(fd, fcntl.LOCK_EX | fcntl.LOCK_NB)
        except OSError:
            # flock held -> the holder process is alive right now
            holder = _read_lock_pid(fd)
            os.close(fd)
            raise ConcurrentWriterError(
                f"{path}: writer lock held by live pid {holder}; "
                "plain-parquet swaps are single-writer (use a "
                "transactional table format for concurrent writers)"
            )
        # flock acquired — but between our open() and flock() the previous
        # holder may have released by unlink-then-close, leaving us locking
        # an orphaned inode while a new writer locks a fresh file at the
        # same path. Revalidate that our fd still IS the path.
        try:
            st_path = os.stat(lock)
        except FileNotFoundError:
            os.close(fd)
            continue
        if (st_path.st_dev, st_path.st_ino) != (
            (st := os.fstat(fd)).st_dev,
            st.st_ino,
        ):
            os.close(fd)
            continue
        holder = _read_lock_pid(fd)
        if holder > 0 and _pid_alive(holder):
            # pid-file-only holder (no flock): refuse rather than steal.
            # holder == our own pid can only be an out-of-band file —
            # genuine re-entrant acquisition already failed the flock
            # above (two open()s give independent descriptions that
            # conflict) — so it is refused like any other live pid.
            os.close(fd)
            raise ConcurrentWriterError(
                f"{path}: writer lock file names live pid {holder} "
                "(flock not held — out-of-band or cross-host writer); "
                "refusing to steal a possibly-active lock"
            )
        os.ftruncate(fd, 0)
        os.lseek(fd, 0, os.SEEK_SET)  # _read_lock_pid advanced the offset
        os.write(fd, str(os.getpid()).encode())
        os.fsync(fd)
        _WRITER_LOCK_FDS[lock] = fd
        return lock


def _read_lock_pid(fd: int) -> int:
    import os

    try:
        os.lseek(fd, 0, os.SEEK_SET)
        return int(os.read(fd, 64).decode().strip() or "0")
    except (OSError, ValueError):
        return 0


def _pid_alive(pid: int) -> bool:
    import os

    try:
        os.kill(pid, 0)
        return True
    except ProcessLookupError:
        return False
    except PermissionError:
        # EPERM: the process EXISTS but belongs to another user —
        # treating it as dead is the double-writer race (r9 review)
        return True


def _release_writer_lock(lock: str) -> None:
    import os

    # unlink BEFORE closing: a waiter that already open()ed this inode
    # will win its flock only after our close, then fail the path/inode
    # revalidation and retry against the fresh path. The close sits in a
    # finally so a failing unlink (transient EIO etc.) cannot leak the
    # held fd and wedge the path for the process lifetime — a leftover
    # lock FILE is recoverable (flock-free, stolen by the next
    # acquirer); a leaked held fd is not. On unlink failure the pid is
    # also blanked through the still-open fd, otherwise the remnant
    # names OUR still-live pid and the refuse-don't-steal guard would
    # wedge this process's own next acquisition (r11 crash sweep).
    fd = _WRITER_LOCK_FDS.pop(lock, None)
    try:
        try:
            os.remove(lock)
        except FileNotFoundError:
            pass
        except Exception:
            if fd is not None:
                try:
                    os.ftruncate(fd, 0)
                except OSError:
                    pass
            raise
    finally:
        if fd is not None:
            os.close(fd)


def _verified_swap(spark, path: str, tmp: str) -> None:
    """Swap ``tmp`` into ``path`` with restore-on-failure semantics: the
    old copy is deleted only after the new copy passes a verification
    read AND a verified-marker records that fact. If verification fails,
    the old data is moved back into place before the error surfaces —
    the good copy is never the one destroyed."""
    import os
    import shutil

    old = path.rstrip("/") + "__old"
    marker = _marker_path(path)
    shutil.move(path, old)
    shutil.move(tmp, path)
    try:
        spark.read.parquet(path).limit(1).collect()
    except Exception:
        # new data unreadable: restore the only good copy, then re-raise
        shutil.rmtree(path, ignore_errors=True)
        shutil.move(old, path)
        raise
    # verify succeeded: record it BEFORE deleting the old copy, so a crash
    # here is distinguishable from a crash mid-verify
    with open(marker, "w") as f:
        f.write("verified")
    shutil.rmtree(old)
    os.remove(marker)


def compact_parquet(
    spark, path: str, target_file_mb: int = 128, partition_col: str | None = None
) -> int:
    """Small-files compaction: rewrite a parquet directory into files of
    ~target_file_mb (the operational fix for streaming/append sinks that
    accumulate thousands of tiny files and throttle scan planning at
    scale). Returns the output file count.

    Sizing uses the current on-disk bytes; coalesce avoids a shuffle when
    shrinking the file count. Partitioned layouts are preserved.

    Concurrency contract: SINGLE WRITER, NO CONCURRENT READERS during the
    swap — the two renames are not jointly atomic, so a reader hitting the
    path between them sees a missing directory. (An atomic swap needs a
    transactional table format; plain parquet directories only get
    single-rename atomicity.) A crash between the renames is recoverable:
    the data survives at ``<path>__old`` and :func:`recover_compaction`
    (also called on the next compact_parquet of the same path) restores
    it. The old copy is only deleted after the new path is verified
    readable.
    """
    import glob as globlib
    import os
    import shutil

    lock = _acquire_writer_lock(path)
    try:
        recover_compaction(path)
        files = [
            f
            for f in globlib.glob(os.path.join(path, "**", "*.parquet"), recursive=True)
            if os.path.isfile(f)
        ]
        total_bytes = sum(os.path.getsize(f) for f in files)
        n_out = max(1, round(total_bytes / (target_file_mb * 1024 * 1024)))
        df = spark.read.parquet(path)
        tmp = path.rstrip("/") + "__compacting"
        if partition_col:
            # partitioned layout (r9 review): coalesce(n_out) +
            # partitionBy writes up to n_out files PER partition value —
            # compaction could multiply the small-file count it exists
            # to fix. Hash-repartitioning on the partition column gives
            # each value to exactly one task = one file per partition
            # directory, the standard compacted layout; n_out tasks
            # bound parallelism and per-task memory.
            writer = (
                df.repartition(n_out, F.col(partition_col))
                .write.mode("overwrite")
                .partitionBy(partition_col)
            )
            writer.parquet(tmp)
            n_files = len(
                [
                    f
                    for f in globlib.glob(
                        os.path.join(tmp, "**", "*.parquet"), recursive=True
                    )
                    if os.path.isfile(f)
                ]
            )
            _verified_swap(spark, path, tmp)
            return n_files
        df.coalesce(n_out).write.mode("overwrite").parquet(tmp)
        _verified_swap(spark, path, tmp)
        return n_out
    finally:
        _release_writer_lock(lock)


def recover_compaction(path: str) -> bool:
    """Crash recovery for the verified-swap protocol
    (:func:`compact_parquet` / :func:`upsert_parquet`). States:

    - ``__old`` present, ``path`` missing — died between the renames:
      restore ``__old``.
    - both present, verified-marker present — died after a SUCCESSFUL
      verification read but before cleanup: new data is proven good,
      delete ``__old``.
    - both present, NO marker — died before/during verification (or the
      verify read failed and then the process was killed mid-restore):
      the new data at ``path`` was never proven readable while ``__old``
      is the known-good copy, so restore ``__old`` and discard ``path``.
      (Pre-marker versions of this function assumed both-present meant
      swap-complete and deleted ``__old`` — destroying the only good
      copy in exactly the failure mode verification exists to catch.)

    Returns True if a restore happened. Leftover ``__compacting`` temp
    dirs and stale markers are removed either way."""
    import os
    import shutil

    old = path.rstrip("/") + "__old"
    tmp = path.rstrip("/") + "__compacting"
    marker = _marker_path(path)
    restored = False
    if os.path.isdir(old):
        if not os.path.isdir(path):
            # died between the renames: restore
            shutil.move(old, path)
            restored = True
        elif os.path.isfile(marker):
            # died after verified swap but before cleanup: new data is live
            shutil.rmtree(old)
        else:
            # verification never completed: __old is the only proven copy
            shutil.rmtree(path)
            shutil.move(old, path)
            restored = True
    if os.path.isfile(marker):
        os.remove(marker)
    if os.path.isdir(tmp):
        shutil.rmtree(tmp)
    return restored


def upsert_parquet(
    spark, path: str, updates: DataFrame, key_cols: list[str]
) -> int:
    """Keyed upsert (MERGE) for a plain-parquet table: rows in ``updates``
    replace existing rows with the same key; all other existing rows are
    kept. Implemented as anti-join + union + atomic-as-possible rewrite
    (the same verified swap + crash recovery as compact_parquet — plain
    parquet has no transaction log, so the single-writer/no-reader window
    documented there applies).

    At scale the rewrite cost is bounded by partitioning the table on a
    key prefix and rewriting ONLY partitions containing updated keys (the
    pattern in operators/rollup_maintenance.py); this whole-table form is
    the portable fallback. Returns the resulting row count.

    MERGE-source contract: ``updates`` must be unique on ``key_cols`` —
    two source rows for one key would both survive the anti-join+union
    and leave the table with duplicate keys, so ambiguous input fails
    fast (same choice ANSI MERGE makes) rather than picking a silent
    winner. Concurrent writers are refused via the same lock file as
    :func:`compact_parquet`.
    """
    import os
    import shutil

    lock = _acquire_writer_lock(path)
    try:
        recover_compaction(path)
        updates = updates.localCheckpoint(eager=True)  # sever lineage from `path` reads
        dup = (
            updates.groupBy(*key_cols)
            .count()
            .filter(F.col("count") > 1)
            .limit(1)
            .collect()
        )
        if dup:
            dup_key = {c: dup[0][c] for c in key_cols}
            raise ValueError(
                f"upsert_parquet: updates batch has multiple rows for key "
                f"{dup_key}; MERGE source must be unique on {key_cols} "
                "(dedupe upstream with a documented tie-break)"
            )
        null_key = (
            updates.filter(
                " OR ".join(f"`{c}` IS NULL" for c in key_cols)
            )
            .limit(1)
            .count()
        )
        if null_key:
            # NULL keys break the uniqueness contract silently: the
            # null-unsafe anti-join never matches an existing NULL-key
            # row, so the update would be APPENDED beside it (r9 review)
            raise ValueError(
                f"upsert_parquet: updates batch has NULL in {key_cols}; "
                "MERGE keys must be non-null (filter or impute upstream)"
            )
        if os.path.isdir(path):
            existing = spark.read.parquet(path)
            kept = existing.join(
                updates.select(*key_cols).distinct(), key_cols, "left_anti"
            )
            merged = kept.unionByName(updates)
        else:
            merged = updates
        tmp = path.rstrip("/") + "__compacting"
        # observe captures the row count DURING the rewrite — the old
        # final count() re-scanned the entire merged table (r9 review)
        merged, obs = observe_count(merged)
        merged.write.mode("overwrite").parquet(tmp)
        if os.path.isdir(path):
            _verified_swap(spark, path, tmp)
        else:
            shutil.move(tmp, path)
        return int(obs.get["n"] or 0)
    finally:
        _release_writer_lock(lock)


def overwrite_partitions(df: DataFrame, path: str, partition_cols: list[str]) -> None:
    """Dynamic partition overwrite: replace ONLY the partitions present in
    ``df``, leaving every other partition of the table intact — the
    idempotent daily-reload primitive (re-running a day's load rewrites
    that day's partition and nothing else). Static overwrite mode would
    truncate the whole table first; the ``partitionOverwriteMode=dynamic``
    writer option scopes the delete to the partitions being written.

    Scale: each task writes only its partition's files; no read-modify-
    write of the untouched partitions, so reload cost is O(changed
    partitions), not O(table).
    """
    (
        df.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(*partition_cols)
        .parquet(path)
    )
