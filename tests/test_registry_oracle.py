"""Every registered query against its DuckDB oracle at sf0.001.

One case per ``all_specs()`` entry, through the same comparison as
``tools/check_oracle.py``: row count, column names and the
order-insensitive value hash. A query without an oracle fails here;
``test_registry_shape`` bounds how many may lack one.
"""

from __future__ import annotations

import pytest
from conftest import SF_SMOKE as SF

from etl_pipeline_spark.queries.base import all_specs
from etl_pipeline_spark.session import release_session_blocks
from tools.check_oracle import check_query, open_oracle

SPECS = all_specs()


@pytest.fixture(scope="module")
def oracle():
    con = open_oracle(SF)
    yield con
    con.close()


@pytest.mark.parametrize("name", list(SPECS))
def test_query_matches_oracle(spark, oracle, name):
    try:
        r = check_query(spark, oracle, SPECS[name], SF)
    finally:
        release_session_blocks(spark)
    assert r["status"] == "ok", f"{name}: {r['status']} {r['detail']}"
