"""Saturating fixed-point quantization — the integer-grid contract.

Many queries carry doubles as scaled BIGINTs (``floor(x*scale + 0.5)``)
so folds and aggregates are bit-identical across engines. That idiom has
a crash class the clean fixtures never hit: under Spark 4's default ANSI
mode, ``floor`` of a double past ±2^63 (or the cast of it) throws
ARITHMETIC_OVERFLOW — one adversarial 1e30 embedding component or 1e18
event value kills the whole job (adversarial-fixture find, r8).

The fix is SATURATION, applied identically in Spark and in the DuckDB
oracle SQL: clamp the scaled double to ±GRID_ABS_MAX while still in
double space, THEN floor and cast. Properties:

- deterministic and engine-identical (LEAST/GREATEST + FLOOR on doubles
  agree bit-for-bit between Spark and DuckDB);
- in-grid values (|x*scale| < GRID_ABS_MAX) are quantized exactly as
  before, so clean-fixture oracle hashes are unchanged;
- out-of-grid values saturate to the bound instead of crashing — ties
  between saturated rows resolve through each query's deterministic
  tie-break columns.

GRID_ABS_MAX = 1e6 keeps every downstream fold not just long-safe but
DOUBLE-EXACT, because DuckDB evaluates list_dot_product and friends in
doubles: a 64-dim dot of saturated vectors is ≤ 64·(1e6)² = 6.4e13 <
2^53, leaving ~128× headroom for the small integer multipliers queries
apply on top (7·rel − 3·sim etc.). Squared distances (≤ 4e12/dim·64 ≈
2.6e14) and per-group sums stay exact the same way. Clean fixtures use
<0.1% of the bound (embeddings quantize to ≤1e3, money to ≤1e6 cents).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

GRID_ABS_MAX = 10**6

# Money paths (cent grids, scale=100) must not saturate legitimate
# amounts: 1e6 would clip anything past $10,000 (advisor find, r8).
# Money never feeds an integer dot product, so the only requirement is
# long-safety of the downstream SUM: ±1e12 cents leaves ~9.2e6× SUM
# headroom before BIGINT overflow and matches the clamp the interval /
# salted-skew queries already use. Doubles represent every integer up
# to 2^53, so floor/cast at this bound stays engine-exact too.
MONEY_ABS_MAX = 10**12


def sat_quantize(
    x: Column, scale: float | int = 1, abs_max: float | int = GRID_ABS_MAX
) -> Column:
    """``floor(clamp(x*scale + 0.5, ±abs_max))`` as BIGINT.

    ``abs_max`` defaults to the embedding grid bound (double-exact dot
    products); pass :data:`MONEY_ABS_MAX` for currency paths where
    clipping at 1e6 would corrupt legitimate values.
    """
    xs = x.cast("double") * float(scale) + F.lit(0.5)
    clamped = F.least(F.greatest(xs, F.lit(-float(abs_max))), F.lit(float(abs_max)))
    return F.floor(clamped).cast("long")


def sat_quantize_sql(
    expr: str, scale: float | int = 1, abs_max: float | int = GRID_ABS_MAX
) -> str:
    """DuckDB twin of :func:`sat_quantize` — interpolate into oracle SQL.

    CAST(expr AS DOUBLE) FIRST (r12, found by the full sf0.1 sweep):
    the Spark side widens to double before scaling, but DuckDB
    evaluates ``REAL * literal`` in FLOAT, where e.g. float32
    0.31949999928474426 * 1000 rounds to exactly 319.5 — the half-up
    boundary — and quantizes one grid unit away from the double
    computation (319.49999928... -> 319). Only float32 inputs
    (embedding components) can hit this; the cast is a no-op for the
    double money/value columns. Two such components existed in the
    sf0.1 fixture and zero in the driver's sf0.01 — exactly the
    bug-hiding-tier class the sweep exists for."""
    g = float(abs_max)
    return (
        f"CAST(FLOOR(LEAST(GREATEST(CAST({expr} AS DOUBLE) * {float(scale)} + 0.5, "
        f"-{g}), {g})) AS BIGINT)"
    )


def sat_cents(x: Column) -> Column:
    """Money-path quantizer: dollars → saturating cent grid at ±1e12."""
    return sat_quantize(x, 100, MONEY_ABS_MAX)


# Presentation rounding that stays order-stable at EVERY magnitude
# (r11 judge #3). ROUND(x, 4) is an ABSOLUTE grid: it absorbs
# summation-order low bits only while |x| <~ 1e6; a pathological
# 1e30-magnitude aggregate carries order noise (~1e-12 relative) far
# larger than 1e-4 absolute, so cross-engine hashes diverged on exactly
# the rows a health check must report. The fix keeps ROUND(x, 4)
# bit-identical in the sane region and, past STABLE_SANE_ABS, snaps the
# value onto the float32 grid instead: an IEEE double->float cast is a
# RELATIVE grid (spacing ~6e-8 of the value, ~4 orders coarser than the
# noise) computed by exactly-specified round-to-nearest-even — no libm,
# no POWER(10, n) whose low bits could differ between engines. The
# magnitude itself is preserved (1e30 stays ~1e30), so outliers are
# still surfaced, never clamped — unlike sat_quantize, which is for
# values that feed downstream integer folds.
STABLE_SANE_ABS = float(GRID_ABS_MAX)


def stable_round(x: Column, dec: int = 4) -> Column:
    """``round(x, dec)`` for |x| < 1e6, float32-grid snap beyond."""
    return F.when(
        F.abs(x) < F.lit(STABLE_SANE_ABS), F.round(x, dec)
    ).otherwise(x.cast("float").cast("double"))


def stable_round_sql(expr: str, dec: int = 4) -> str:
    """DuckDB twin of :func:`stable_round` — interpolate into oracle SQL.

    Past float32 range the engines disagree on the snap itself: Spark's
    ``cast('float')`` follows IEEE round-to-nearest and yields
    ``Infinity`` for |x| above FLT_MAX + half-ULP, while DuckDB's
    ``CAST(.. AS REAL)`` raises a conversion error at exactly that same
    boundary (measured: 3.4028235344e38 snaps to FLT_MAX in both,
    3.4028238067e38 is Infinity in Spark / error in DuckDB). TRY_CAST
    turns the error into NULL, which we resolve to the signed Infinity
    Spark produced; a genuinely-NULL input is guarded first so it stays
    NULL instead of becoming -Infinity through the sign fallback.
    """
    snapped = (
        f"COALESCE(TRY_CAST({expr} AS REAL), "
        f"CASE WHEN ({expr}) > 0 THEN CAST('infinity' AS REAL) "
        f"ELSE CAST('-infinity' AS REAL) END)"
    )
    return (
        f"CASE WHEN ABS({expr}) < {STABLE_SANE_ABS} THEN ROUND({expr}, {dec}) "
        f"WHEN ({expr}) IS NULL THEN NULL "
        f"ELSE CAST({snapped} AS DOUBLE) END"
    )


# Doubles at or past 2^52 in magnitude are already integers (their ulp
# is >= 1), so rounding them is the identity; they may not fit a long.
_INTEGRAL_ABS_MIN = float(2**52)


def half_up_decimal(x: Column) -> Column:
    """``round(x).cast("decimal(38,0)")`` for a double ``x``, in double math.

    ``rint(x)`` rounds half to even, so an exact ``.5`` tie
    (``|x - rint(x)| == 0.5``, exact below 2^52) moves away from zero
    instead (``x + signum(x) * 0.5``): HALF_UP, as ``round`` does. The
    integral result goes long -> DECIMAL(38,0). Rows with ``|x| >= 2^52``
    are already integral and may exceed a long (an adversarial 1e20 value
    raised CAST_OVERFLOW), so they take the plain decimal cast. ``round``
    on a double costs two ``java.math.BigDecimal`` round trips per row
    (the round itself and the double->decimal cast): q01 (five exact sums
    over ~120k lineitem rows at sf0.02) ran in 502 ms with it and 295 ms
    with this kernel, medians of 12 interleaved reps in one 4-core JVM.
    """
    r = F.rint(x)
    half_up = F.when(F.abs(x - r) == 0.5, x + F.signum(x) * 0.5).otherwise(r)
    return F.when(F.abs(x) >= _INTEGRAL_ABS_MIN, x.cast("decimal(38,0)")).otherwise(
        half_up.cast("long").cast("decimal(38,0)")
    )


def exact_sum(expr: Column, decimals: int) -> Column:
    """Order-independent sum of an exact-decimal expression: each row's
    value is an exact ``decimals``-place decimal (prices/discounts/taxes
    are 2dp, so their products are 4dp/6dp), so scaling to an integer
    (:func:`half_up_decimal`) and summing as DECIMAL(38,0) is exact
    regardless of partition/summation order. The result is cast back to
    double — both engines then round the SAME double, so ROUND(...,2) can
    no longer flip on true .xx5 ties (which double-order drift turned
    into cross-engine hash mismatches after fixture regenerations).
    """
    scale = 10**decimals
    return F.sum(half_up_decimal(expr * scale)).cast("double") / scale


def exact_sum_sql(expr: str, decimals: int) -> str:
    """DuckDB spelling of :func:`exact_sum` (HUGEINT-safe via DECIMAL)."""
    scale = 10 ** decimals
    return f"(CAST(SUM(CAST(ROUND(({expr}) * {scale}) AS DECIMAL(38,0))) AS DOUBLE) / {scale})"
