"""Query registry: every implemented operator gets a named, oracle-checkable
query. The driver contract (__spark_entry__.py) is generated from this.

Each :class:`QuerySpec` pairs a Spark callable ``(spark, sf_dir) -> DataFrame``
with the equivalent ANSI SQL for the DuckDB oracle. Conventions that keep the
order-insensitive value-hash stable across engines:

- Alias every computed column identically in Spark and SQL.
- Round every floating-point output (aggregates especially) to a fixed
  number of decimals in BOTH engines — Spark and DuckDB may sum doubles in
  different orders, so raw doubles differ in the last ulps.
- Make top-k/rank output deterministic with explicit tie-breaks.
- Spark double->long casts truncate; ANSI engines round. Oracle SQL uses
  CAST(TRUNC(x) AS BIGINT) wherever the Spark side truncates.
"""

from __future__ import annotations

import datetime
from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

SparkQuery = Callable[[SparkSession, str], DataFrame]

EPOCH = datetime.date(2024, 1, 1)  # fixture event horizon starts here


@dataclass
class QuerySpec:
    name: str
    fn: SparkQuery
    oracle: str | None  # None => non-SQL-expressible; driver does rows-only check
    doc: str = ""
    tags: tuple[str, ...] = field(default_factory=tuple)


REGISTRY: dict[str, QuerySpec] = {}


def query(name: str, oracle: str | None, tags: tuple[str, ...] = (), doc: str = ""):
    """Decorator registering a Spark query with its oracle SQL."""

    def wrap(fn: SparkQuery) -> SparkQuery:
        REGISTRY[name] = QuerySpec(name=name, fn=fn, oracle=oracle, doc=doc or fn.__doc__ or "", tags=tags)
        return fn

    return wrap


def all_specs() -> dict[str, QuerySpec]:
    # Import sides register themselves; keep imports here to avoid cycles.
    from etl_pipeline_spark.queries import (  # noqa: F401
        advanced,
        advanced_behavioral,
        aggregates,
        analytics_ml,
        analytics_ops,
        analytics_sql,
        analytics_stats,
        analytics_ts,
        dedup,
        etl,
        graph_components,
        graph_sampling,
        llm_ops,
        multimodal,
        privacy,
        relational,
        scalar,
        similarity,
        text,
        tpch,
        training_pipeline,
    )

    return dict(REGISTRY)
