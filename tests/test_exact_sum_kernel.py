"""The exact-sum kernel (functions/grid.half_up_decimal): HALF_UP rounding
of a double to DECIMAL(38,0) in double math must give, row for row, the
value ``round(x).cast("decimal(38,0)")`` gives — the expression it
replaces on every money-sum path."""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from etl_pipeline_spark.functions.grid import exact_sum, half_up_decimal

_EDGES = [
    0.5,
    -0.5,
    1.5,
    -1.5,
    2.5,
    -2.5,
    0.49999999999999994,
    2.4999999999999996,
    12.5,
    -12.5,
    1e15 + 0.5,
    -(1e15 + 0.5),
    100.49999999999999,
    12345678.5,
    0.0,
    2.0**52 - 1,
    -(2.0**52 - 1),
    2.0**52 - 0.5,
    -(2.0**52 - 0.5),
    2.0**52 + 1,
    -(2.0**52 + 1),
    1e20,
    -1e20,
    None,
]


def _kernel_vs_round(spark, values, scale=1):
    df = spark.createDataFrame([(i, v) for i, v in enumerate(values)], "i int, x double")
    x = F.col("x") * scale
    rows = (
        df.select("i", half_up_decimal(x).alias("got"), F.round(x).cast("decimal(38,0)").alias("want"))
        .orderBy("i")
        .collect()
    )
    return [(values[r.i], r.got, r.want) for r in rows if r.got != r.want]


def test_half_up_decimal_matches_round_on_edge_values(spark):
    assert _kernel_vs_round(spark, _EDGES) == []


# A k-decimal value (n / 10^k), a (k+1)-decimal value, or a binary-exact
# half-unit tie (odd q / 2^(k+1), which scales by 10^k to an exact .5).
_k_value = st.sampled_from([2, 4, 6]).flatmap(
    lambda k: st.tuples(
        st.just(k),
        st.one_of(
            st.integers(-(10**13), 10**13).map(lambda n: n / 10**k),
            st.integers(-(10**13), 10**13).map(lambda n: n / 10 ** (k + 1)),
            st.integers(-(10**9), 10**9).map(lambda q: (2 * q + 1) / 2 ** (k + 1)),
        ),
    )
)


@given(values=st.lists(_k_value, min_size=1, max_size=40))
@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_half_up_decimal_matches_round_on_scaled_k_decimals(spark, values):
    for k in (2, 4, 6):
        xs = [v for kk, v in values if kk == k]
        if xs:
            assert _kernel_vs_round(spark, xs, 10**k) == []


def test_exact_sum_is_the_decimal_sum_of_rounded_cents(spark):
    vals = [0.125, -0.125, 19.99, 0.005, 1e20, None]
    df = spark.createDataFrame([(v,) for v in vals], "x double")
    old = F.sum(F.round(F.col("x") * 100).cast("decimal(38,0)")).cast("double") / 100
    got, want = df.agg(exact_sum(F.col("x"), 2), old).first()
    assert got == want
