"""Global row numbers without a single-partition window.

``row_number() OVER (ORDER BY ...)`` with no PARTITION BY moves the
whole input to one task. ``global_row_number`` computes the same
numbers with the standard distributed decomposition: range-partition on
the order, number the rows inside each partition, and add the row counts
of the partitions before it.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# monotonically_increasing_id keeps the partition index above bit 33 and
# the row's position inside its partition below it
_POS_BITS = 33


def global_row_number(df: DataFrame, order: list[Column], name: str) -> DataFrame:
    """``df`` plus ``name``: the 1-based row number of each row in
    ``order``. The order must be total (no ties), as it must be for a
    deterministic ``row_number``; the numbers are then the ones the
    single-partition window gives."""
    numbered = (
        df.repartitionByRange(*order)
        .sortWithinPartitions(*order)
        .withColumn("_mid", F.monotonically_increasing_id())
        # the range bounds come from a sample: number one draw only
        .localCheckpoint(eager=False)
    )
    part = F.shiftright("_mid", _POS_BITS)
    sizes = numbered.groupBy(part.alias("_p")).agg(F.count("*").alias("_n"))
    earlier = sizes.select(F.col("_p").alias("_q"), F.col("_n").alias("_m"))
    offsets = (
        sizes.join(F.broadcast(earlier), F.col("_q") < F.col("_p"), "left")
        .groupBy("_p")
        .agg(F.coalesce(F.sum("_m"), F.lit(0)).alias("_off"))
    )
    pos = F.col("_mid").bitwiseAND((1 << _POS_BITS) - 1)
    return numbered.join(F.broadcast(offsets), part == F.col("_p")).select(
        *[numbered[c] for c in df.columns], (pos + F.col("_off") + 1).alias(name)
    )
