"""Smoke tests over the `__spark_entry__` contract: entry() runs and
every registered query has a callable + (usually) an oracle. Running
every query against its oracle is tests/test_registry_oracle.py."""

from __future__ import annotations

import __spark_entry__ as contract

SF = "/root/testdata/sf0.001"


def test_entry_smoke(spark):
    df = contract.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert "sum_qty" in df.columns


def test_registry_shape():
    qs = contract.queries()
    oracles = contract.oracle_sql()
    assert len(qs) >= 70
    assert set(oracles) <= set(qs)
    # the vast majority must be oracle-checkable
    assert len(oracles) >= len(qs) - 3


def test_contract_survives_vanilla_session_confs(spark):
    """The harness hands queries a session WITHOUT session.py's configs;
    catalog.load_tables must self-heal the required confs (nanos parquet
    reads, UTC timezone) at call time."""
    spark.conf.unset("spark.sql.legacy.parquet.nanosAsLong")
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    # events.parquet is TIMESTAMP(NANOS): unreadable unless load_tables
    # restores the conf
    df = contract.queries()["q_etl_audit_row"](spark, SF)
    assert df.collect()[0]["record_count"] == 1000
    assert spark.conf.get("spark.sql.session.timeZone") == "UTC"
