"""Sink tests (S12-S16): bucketed co-located joins (no exchange in the
plan), observe-based single-pass audit, DDL idempotency."""

from __future__ import annotations

from conftest import jobs_started, session_conf
from pyspark.sql import functions as F

from etl_pipeline_spark.sources.sinks import (
    create_database_if_not_exists,
    create_table_if_not_exists,
    write_bucketed,
    write_with_audit,
)

SF = "/root/testdata/sf0.001"


def test_bucketed_join_has_no_exchange(spark):
    orders = spark.read.parquet(f"{SF}/orders.parquet")
    lineitem = spark.read.parquet(f"{SF}/lineitem.parquet")
    write_bucketed(orders, "b_orders", ["o_orderkey"], 8, sort_cols=["o_orderkey"])
    write_bucketed(
        lineitem.withColumnRenamed("l_orderkey", "o_orderkey"),
        "b_lineitem",
        ["o_orderkey"],
        8,
        sort_cols=["o_orderkey"],
    )
    # disable broadcast so the planner must choose sort-merge — at real
    # scale both sides are too big to broadcast, which is when bucketing
    # pays off
    with session_conf(spark, {"spark.sql.autoBroadcastJoinThreshold": "-1"}):
        joined = spark.table("b_orders").join(spark.table("b_lineitem"), "o_orderkey")
        plan = joined._jdf.queryExecution().executedPlan().toString()
        # bucket co-location: the join must run without any SHUFFLE exchange
        assert "Exchange hashpartitioning" not in plan, plan[:800]
        assert "SortMergeJoin" in plan, plan[:400]
        assert joined.count() == lineitem.count()


def test_write_with_audit_single_pass(spark):
    """The audit count is observed during the main write: one write job,
    no cache and no count job."""
    df = spark.read.parquet(f"{SF}/region.parquet")
    with jobs_started(spark) as jobs:
        n = write_with_audit(df, "obs_main", "obs_audit", "/data/region.parquet")
    assert len(jobs) == 2, jobs  # the main write and the audit append
    assert n == 5
    audit = spark.table("obs_audit").collect()[-1]
    assert audit["record_count"] == 5
    assert audit["file_name"] == "region.parquet"
    assert spark.table("obs_main").count() == 5


def test_ddl_idempotent(spark):
    create_database_if_not_exists(spark, "etl_meta")
    create_database_if_not_exists(spark, "etl_meta")  # second call: no error
    create_table_if_not_exists(spark, "etl_meta.t1", "id BIGINT, name STRING")
    create_table_if_not_exists(spark, "etl_meta.t1", "id BIGINT, name STRING")
    assert spark.table("etl_meta.t1").columns == ["id", "name"]


def test_partitioned_write_prunes_partitions(spark, tmp_path_factory):
    """Hive-style partitioned layout: a filter on the partition column
    must prune at planning time (PartitionFilters in the scan), reading
    only the matching directory — the layout that makes 100 TB scans
    selective."""
    out = str(tmp_path_factory.mktemp("part") / "docs")
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    docs.write.mode("overwrite").partitionBy("lang").parquet(out)
    back = spark.read.parquet(out).filter(F.col("lang") == "en")
    plan = back._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "lang" in plan, plan[:600]
    n_en = docs.filter(F.col("lang") == "en").count()
    assert back.count() == n_en


def test_compact_parquet_reduces_files(spark, tmp_path_factory):
    from etl_pipeline_spark.sources.sinks import compact_parquet

    out = str(tmp_path_factory.mktemp("compact") / "many")
    # simulate a streaming sink's tiny-file accumulation: 16 appends
    for i in range(16):
        spark.range(i * 100, (i + 1) * 100).write.mode("append").parquet(out)
    import glob as g
    n_before = len(g.glob(f"{out}/*.parquet"))
    assert n_before >= 16
    compact_parquet(spark, out, target_file_mb=128)
    n_after = len(g.glob(f"{out}/*.parquet"))
    assert n_after < n_before
    df = spark.read.parquet(out)
    assert df.count() == 1600
    assert df.agg({"id": "min"}).collect()[0][0] == 0


def test_compact_parquet_crash_recovery(spark, tmp_path_factory):
    """A crash between compact_parquet's two renames strands the data at
    <path>__old with nothing at <path>; recover_compaction restores it,
    and the next compact_parquet call self-heals before compacting."""
    import shutil

    from etl_pipeline_spark.sources.sinks import compact_parquet, recover_compaction

    out = str(tmp_path_factory.mktemp("recover") / "data")
    spark.range(100).write.parquet(out)
    # simulate the crash window: old moved out, new never moved in
    shutil.move(out, out + "__old")
    assert recover_compaction(out) is True
    assert spark.read.parquet(out).count() == 100

    # and the in-API path: a stale __old plus a live path WITH the
    # verified-marker (crash after a successful verify, before cleanup)
    # is cleaned up by the next compaction — the marker is the proof the
    # live path was verified readable
    import os

    spark.range(50).write.mode("overwrite").parquet(out + "__old")
    with open(out + "__swap_verified", "w") as f:
        f.write("verified")
    compact_parquet(spark, out, target_file_mb=128)
    assert not os.path.exists(out + "__old")
    assert not os.path.exists(out + "__swap_verified")
    assert spark.read.parquet(out).count() == 100


def test_recover_compaction_unverified_swap_restores_old(spark, tmp_path_factory):
    """Both dirs present WITHOUT the verified-marker means the crash hit
    before/during the verification read: the new data at path was never
    proven readable, so __old (the known-good copy) must win. The
    pre-marker behavior deleted __old here — destroying the only good
    copy in exactly the failure mode verification exists to catch."""
    from etl_pipeline_spark.sources.sinks import recover_compaction

    out = str(tmp_path_factory.mktemp("unverified") / "data")
    spark.range(100).write.parquet(out + "__old")  # the good copy
    spark.range(7).write.parquet(out)  # unverified new data
    assert recover_compaction(out) is True
    assert spark.read.parquet(out).count() == 100  # good copy restored


def test_verified_swap_restores_on_verify_failure(spark, tmp_path_factory):
    """If the post-swap verification read fails (new data unreadable),
    the old copy is moved back into place before the error propagates —
    the table never ends up pointing at garbage."""
    import os

    import pytest

    from etl_pipeline_spark.sources.sinks import _verified_swap

    out = str(tmp_path_factory.mktemp("badswap") / "data")
    spark.range(100).write.parquet(out)
    tmp = out + "__compacting"
    os.makedirs(tmp)
    with open(os.path.join(tmp, "part-00000.parquet"), "w") as f:
        f.write("this is not parquet")
    with pytest.raises(Exception):
        _verified_swap(spark, out, tmp)
    assert spark.read.parquet(out).count() == 100  # good copy back in place
    assert not os.path.exists(out + "__old")


def test_upsert_rejects_duplicate_update_keys(spark, tmp_path_factory):
    """MERGE-source contract: two update rows for one key is ambiguous
    input and fails fast instead of leaving duplicate keys in the table."""
    import pytest

    from etl_pipeline_spark.sources.sinks import upsert_parquet

    out = str(tmp_path_factory.mktemp("dupkeys") / "tbl")
    spark.createDataFrame([(1, "a")], "id long, name string").write.parquet(out)
    dup_updates = spark.createDataFrame(
        [(2, "first"), (2, "second")], "id long, name string"
    )
    with pytest.raises(ValueError, match="unique"):
        upsert_parquet(spark, out, dup_updates, ["id"])
    # table untouched by the rejected merge
    assert spark.read.parquet(out).count() == 1


def test_writer_lock_refuses_concurrent_and_steals_stale(spark, tmp_path_factory):
    """Single-writer contract: a live-pid lock refuses the second writer;
    a dead-pid lock is stolen so a crashed writer can't wedge the path."""
    import os

    import pytest

    from etl_pipeline_spark.sources.sinks import (
        ConcurrentWriterError,
        compact_parquet,
    )

    out = str(tmp_path_factory.mktemp("locked") / "data")
    spark.range(10).write.parquet(out)
    # live pid (ours) -> refused
    with open(out + "__lock", "w") as f:
        f.write(str(os.getpid()))
    with pytest.raises(ConcurrentWriterError):
        compact_parquet(spark, out, target_file_mb=128)
    os.remove(out + "__lock")
    # dead pid -> stolen, compaction proceeds and releases the lock
    with open(out + "__lock", "w") as f:
        f.write("999999999")
    compact_parquet(spark, out, target_file_mb=128)
    assert not os.path.exists(out + "__lock")
    assert spark.read.parquet(out).count() == 10


def test_upsert_parquet_merges_by_key(spark, tmp_path_factory):
    from etl_pipeline_spark.sources.sinks import upsert_parquet

    out = str(tmp_path_factory.mktemp("upsert") / "tbl")
    spark.createDataFrame(
        [(1, "a", 10), (2, "b", 20), (3, "c", 30)], "id long, name string, v long"
    ).write.parquet(out)
    updates = spark.createDataFrame(
        [(2, "b2", 21), (4, "d", 40)], "id long, name string, v long"
    )
    n = upsert_parquet(spark, out, updates, ["id"])
    assert n == 4
    rows = {r["id"]: (r["name"], r["v"]) for r in spark.read.parquet(out).collect()}
    assert rows[1] == ("a", 10)      # untouched survives
    assert rows[2] == ("b2", 21)     # updated in place
    assert rows[4] == ("d", 40)      # new key inserted

    # upsert into a not-yet-existing table just writes it
    out2 = str(tmp_path_factory.mktemp("upsert") / "fresh")
    assert upsert_parquet(spark, out2, updates, ["id"]) == 2


def test_overwrite_partitions_touches_only_written_partitions(spark, tmp_path):
    from etl_pipeline_spark.sources.sinks import overwrite_partitions

    path = str(tmp_path / "part_tbl")
    base = spark.createDataFrame(
        [("a", 1, "old"), ("a", 2, "old"), ("b", 3, "keep")],
        "p string, id long, v string",
    )
    overwrite_partitions(base, path, ["p"])
    # reload partition a only; b must survive untouched
    reload_a = spark.createDataFrame([("a", 9, "new")], "p string, id long, v string")
    overwrite_partitions(reload_a, path, ["p"])
    rows = {(r["p"], r["id"], r["v"]) for r in spark.read.parquet(path).collect()}
    assert rows == {("a", 9, "new"), ("b", 3, "keep")}
    # idempotent rerun of the same reload
    overwrite_partitions(reload_a, path, ["p"])
    rows2 = {(r["p"], r["id"], r["v"]) for r in spark.read.parquet(path).collect()}
    assert rows2 == rows


def test_analyze_table_statistics_feed_the_optimizer(spark, tmp_path_factory):
    """ANALYZE TABLE COMPUTE STATISTICS makes row counts and column
    stats available to the optimizer (CBO) — the knob that turns join
    reordering and broadcast selection from guesses into decisions at
    warehouse scale."""
    from pyspark.sql import functions as F

    from etl_pipeline_spark.catalog import load_tables

    spark.sql("CREATE DATABASE IF NOT EXISTS statsdb")
    orders = load_tables(spark, "/root/testdata/sf0.001", ("orders",))["orders"]
    orders.limit(500).write.mode("overwrite").saveAsTable("statsdb.o_small")
    old_cbo = spark.conf.get("spark.sql.cbo.enabled", "false")
    try:
        # rowCount only flows into plan stats under CBO
        spark.conf.set("spark.sql.cbo.enabled", "true")
        spark.sql("ANALYZE TABLE statsdb.o_small COMPUTE STATISTICS")
        spark.sql(
            "ANALYZE TABLE statsdb.o_small COMPUTE STATISTICS FOR COLUMNS o_orderkey, o_totalprice"
        )
        t = spark.table("statsdb.o_small")
        stats = t._jdf.queryExecution().optimizedPlan().stats()
        assert stats.rowCount().isDefined(), "ANALYZE did not record a row count"
        assert stats.rowCount().get() == 500
        assert stats.sizeInBytes() > 0
        # column stats present for the analyzed columns
        desc = {
            r.info_name: r.info_value
            for r in spark.sql(
                "DESCRIBE EXTENDED statsdb.o_small o_orderkey"
            ).collect()
        }
        assert desc.get("distinct_count") not in (None, "NULL"), desc
    finally:
        spark.conf.set("spark.sql.cbo.enabled", old_cbo)
        spark.sql("DROP TABLE IF EXISTS statsdb.o_small")


def test_writer_lock_stale_takeover_and_eperm_semantics(tmp_path):
    """r9 review find, r11 protocol: a stale lock file (dead pid, no
    flock) is taken over — the flock acquires immediately and the pid
    content is rewritten — while a live pid still refuses (see the
    concurrent test above); EPERM on the signal-0 probe counts as alive."""
    import os

    from etl_pipeline_spark.sources.sinks import (
        _acquire_writer_lock,
        _lock_path,
        _release_writer_lock,
    )

    path = str(tmp_path / "data")
    lock = _lock_path(path)
    # plant a stale lock from a guaranteed-dead pid (fork + exit)
    pid = os.fork()
    if pid == 0:
        os._exit(0)
    os.waitpid(pid, 0)
    with open(lock, "w") as fh:
        fh.write(str(pid))
    got = _acquire_writer_lock(path)  # must steal, not raise
    assert os.path.exists(lock)
    assert open(lock).read().strip() == str(os.getpid())
    _release_writer_lock(got)
    # no leftover takeover temp files
    assert not [f for f in os.listdir(tmp_path) if ".steal." in f]


def test_writer_lock_flock_serializes_contention(tmp_path):
    """r11 (advisor r10 medium): the rename-based stale-lock steal itself
    reopened a double-writer window (while the live lock was renamed away
    for inspection, a third writer could O_EXCL-create its own lock and
    the rename-back silently replaced it). The protocol is now flock-based:
    the kernel serializes contention, so a second acquisition against a
    HELD flock — even from the same process via an independent fd — is
    refused, and no lock file is ever renamed or deleted while live."""
    import os

    import pytest as _pytest

    from etl_pipeline_spark.sources.sinks import (
        ConcurrentWriterError,
        _acquire_writer_lock,
        _lock_path,
        _release_writer_lock,
    )

    path = str(tmp_path / "data")
    lock = _lock_path(path)
    got = _acquire_writer_lock(path)
    assert got == lock and os.path.exists(lock)
    assert open(lock).read().strip() == str(os.getpid())
    with _pytest.raises(ConcurrentWriterError):
        _acquire_writer_lock(path)  # flock conflict, not pid inspection
    # the refused attempt must not have damaged the held lock
    assert open(lock).read().strip() == str(os.getpid())
    _release_writer_lock(got)
    assert not os.path.exists(lock)
    # after release the path is acquirable again
    got2 = _acquire_writer_lock(path)
    _release_writer_lock(got2)


def test_writer_lock_revalidates_inode_after_release_race(tmp_path, monkeypatch):
    """r11: the classic flock-unlink race — a waiter open()s the lock
    file, the holder releases by unlink-then-close, the waiter's flock
    then succeeds on the ORPHANED inode while a new writer could lock a
    fresh file at the same path. The acquirer must detect the path/fd
    inode mismatch, drop the orphan, and retry against the live path."""
    import os

    from etl_pipeline_spark.sources.sinks import (
        _acquire_writer_lock,
        _lock_path,
        _release_writer_lock,
    )

    path = str(tmp_path / "data")
    lock = _lock_path(path)
    with open(lock, "w") as fh:
        fh.write("")  # fresh lock file the "new writer" would use
    orphan = str(tmp_path / "orphan")
    with open(orphan, "w") as fh:
        fh.write("0")

    real_open = os.open
    fired = {"n": 0}

    def orphan_open(p, flags, *a, **kw):
        # first open of the lock path lands on the orphan inode, exactly
        # as if the holder unlinked the path after our open
        if p == lock and fired["n"] == 0:
            fired["n"] += 1
            return real_open(orphan, flags, *a, **kw)
        return real_open(p, flags, *a, **kw)

    monkeypatch.setattr(os, "open", orphan_open)
    got = _acquire_writer_lock(path)  # must retry, not return the orphan
    assert fired["n"] == 1
    assert os.path.exists(lock)
    assert open(lock).read().strip() == str(os.getpid())
    assert open(orphan).read().strip() == "0"  # orphan untouched
    _release_writer_lock(got)


def test_audit_record_timestamp_is_utc_instant(spark):
    """r9 review find: a NAIVE utc datetime is re-interpreted in the
    session timezone, shifting audit times by the UTC offset. The
    tz-aware datetime must store the true instant under any session tz."""
    from datetime import datetime, timezone

    from etl_pipeline_spark.sources.sinks import audit_record

    with session_conf(spark, {"spark.sql.session.timeZone": "America/Los_Angeles"}):
        row = audit_record(spark, "/in/x.csv", 5).collect()[0]
        # collect() returns naive datetimes in the driver's SYSTEM tz
        # (UTC on this host); with the old naive-`now` code under a
        # Los_Angeles session tz the stored instant shifted +7h, which
        # this bound catches
        got = row.ingestion_time.replace(tzinfo=timezone.utc)
        now = datetime.now(timezone.utc)
        assert abs((now - got).total_seconds()) < 300


def test_upsert_rejects_null_keys(spark, tmp_path):
    """r9 review find: a NULL key passes the dup check but the
    null-unsafe anti-join appends it beside an existing NULL-key row —
    the upsert must fail fast instead."""
    import pytest as _pytest

    from etl_pipeline_spark.sources.sinks import upsert_parquet

    path = str(tmp_path / "t")
    base = spark.createDataFrame([(1, "a")], "k long, v string")
    upsert_parquet(spark, path, base, ["k"])
    nullkey = spark.createDataFrame([(None, "b")], "k long, v string")
    with _pytest.raises(ValueError, match="NULL"):
        upsert_parquet(spark, path, nullkey, ["k"])


def test_compact_partitioned_layout_one_file_per_partition(spark, tmp_path):
    """r9 review find: coalesce(n)+partitionBy wrote up to n files PER
    partition value — compaction could multiply the small files it
    exists to remove. The partitioned path must come back with one file
    per partition directory and report the real output count."""
    import glob
    import os

    from etl_pipeline_spark.sources.sinks import compact_parquet

    path = str(tmp_path / "t")
    df = spark.range(3000).selectExpr("id", "CAST(id % 5 AS STRING) AS day")
    # fragment: many tiny files per partition
    df.repartition(20).write.partitionBy("day").parquet(path)
    before = len(glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True))
    assert before > 20
    n = compact_parquet(spark, path, target_file_mb=128, partition_col="day")
    after = glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True)
    assert len(after) == n == 5  # one file per day value
    assert spark.read.parquet(path).count() == 3000


def test_compaction_crash_sweep_every_fs_mutation_point(spark, tmp_path_factory):
    """r11 systematic crash-injection: kill the REAL compact_parquet at
    EVERY filesystem mutation (each shutil.move / shutil.rmtree /
    os.remove touching the table's paths), then run recover_compaction
    and assert the table's CONTENT equals either the pre-compact data
    (rolled back) or the compacted data (committed; values identical
    anyway) — never lost, never partial. The prior tests pinned the
    three recovery states individually; this enumerates every reachable
    crash point so a future re-ordering of the protocol's steps cannot
    open an unprotected window without failing here."""
    import os
    import shutil

    from etl_pipeline_spark.sources.sinks import (
        compact_parquet,
        recover_compaction,
    )

    class SimulatedCrash(RuntimeError):
        pass

    def content(path):
        return sorted(r["id"] for r in spark.read.parquet(path).collect())

    root = tmp_path_factory.mktemp("crash_sweep")
    golden = str(root / "golden")
    spark.range(500).withColumnRenamed("id", "id").repartition(8).write.parquet(golden)
    want = list(range(500))
    assert content(golden) == want

    real_move, real_rmtree, real_remove = shutil.move, shutil.rmtree, os.remove

    def run_with_crash_at(n: int, out: str) -> tuple[int, bool]:
        """Crash at the n-th tracked fs mutation; returns (total tracked
        mutations seen, whether the crash fired)."""
        seen = {"n": 0}

        def tracked(real):
            def wrapper(p, *a, **kw):
                if str(p).startswith(out):
                    seen["n"] += 1
                    if seen["n"] == n:
                        raise SimulatedCrash(f"injected at mutation {n}: {p}")
                return real(p, *a, **kw)

            return wrapper

        shutil.move = tracked(real_move)
        shutil.rmtree = tracked(real_rmtree)
        os.remove = tracked(real_remove)
        fired = False
        try:
            compact_parquet(spark, out, target_file_mb=1)
        except SimulatedCrash:
            fired = True
        finally:
            shutil.move, shutil.rmtree, os.remove = (
                real_move,
                real_rmtree,
                real_remove,
            )
        return seen["n"], fired

    # discover the number of mutation points with a no-crash dry run
    probe = str(root / "probe")
    shutil.copytree(golden, probe)
    total, fired = run_with_crash_at(10**9, probe)
    assert not fired and total >= 3, f"expected a multi-step protocol, saw {total}"

    for n in range(1, total + 1):
        out = str(root / f"t{n}")
        shutil.copytree(golden, out)
        _, fired = run_with_crash_at(n, out)
        assert fired, f"mutation {n} unreachable though {total} were counted"
        recover_compaction(out)
        assert content(out) == want, f"data lost after crash at mutation {n}"
        # the protocol's scratch never leaks past recovery. __lock is
        # exempt: a crash inside the release itself can leave the FILE,
        # but the kernel flock died with the holder, so the next
        # acquisition steals it — proven by the follow-up compaction.
        for suffix in ("__old", "__compacting", "__swap_verified"):
            assert not os.path.exists(out + suffix), (n, suffix)
        # and the table is still fully operational: a clean compaction
        # after recovery succeeds (re-acquiring any leftover lock file)
        compact_parquet(spark, out, target_file_mb=1)
        assert content(out) == want


def test_compaction_crash_during_failed_verify_restore(spark, tmp_path_factory):
    """Nested failure: the verify read fails (new data unreadable) AND
    the restore path's own rmtree crashes — the worst reachable state.
    recover_compaction must still bring back the good copy."""
    import os
    import shutil

    from etl_pipeline_spark.sources import sinks as S

    root = tmp_path_factory.mktemp("crash_nested")
    out = str(root / "tbl")
    spark.range(300).write.parquet(out)
    want = sorted(r["id"] for r in spark.read.parquet(out).collect())

    real_swap = S._verified_swap

    def sabotaged_swap(spark_, path, tmp):
        # corrupt the new copy so the verify read fails, then crash the
        # restore's rmtree
        for f in os.listdir(tmp):
            if f.endswith(".parquet"):
                with open(os.path.join(tmp, f), "wb") as fh:
                    fh.write(b"not parquet")
        real_rmtree = shutil.rmtree

        def crashing_rmtree(p, *a, **kw):
            raise RuntimeError("injected: restore rmtree died")

        shutil.rmtree = crashing_rmtree
        try:
            real_swap(spark_, path, tmp)
        finally:
            shutil.rmtree = real_rmtree

    S._verified_swap = sabotaged_swap
    try:
        import pytest as _pytest

        with _pytest.raises(Exception):
            S.compact_parquet(spark, out, target_file_mb=1)
    finally:
        S._verified_swap = real_swap

    S.recover_compaction(out)
    assert sorted(r["id"] for r in spark.read.parquet(out).collect()) == want
