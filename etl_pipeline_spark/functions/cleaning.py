"""Scalar function layer — SURVEY.md §2.8 (F1-F16), pure Column exprs.

Every per-row Python callable in the reference's Beam pipeline
(dataflow_transform.py:32-73, dataflow.py:296-382) has a pure-Column
translation here, so the hot path stays inside whole-stage codegen and
scales without Python serialization. No UDFs in this module.

Reference parity notes (file:line cites refer to /root/reference):
- F1/F2 trim + string cast        -> dataflow_transform.py:65
- F3 trailing-colon/special strip -> README.md:34 (documented beam.py)
- F4 truncating int(float(x))     -> dataflow_transform.py:45
- F5 numeric parse, null-on-fail  -> dataflow.py:317-321
- F6 strict %Y-%m-%d date         -> dataflow_transform.py:51-61
- F7 5-format timestamp coalesce  -> dataflow.py:367-373
- F8 UTC now ISO+Z                -> dataflow_transform.py:68
- F10 basename of path            -> dataflow_transform.py:93
- F12 file-age days               -> dataflow.py:178-180
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def non_empty(col: Column) -> Column:
    """True iff the value is present and not blank after trimming.

    Mirrors the reference's required-field gate (dataflow_transform.py:39-41):
    ``if field not in element or element[field] is None or
    str(element[field]).strip() == '' -> reject``.
    """
    return col.isNotNull() & (F.trim(col.cast("string")) != F.lit(""))


def strip_trailing_colons(col: Column) -> Column:
    """Remove trailing colons — the README's documented string cleaning
    ("removing trailing colons", README.md:34)."""
    return F.regexp_replace(col, r":+$", "")


def clean_special_chars(col: Column, keep: str = r"0-9A-Za-z ,.\-") -> Column:
    """Drop characters outside an allow-list (README.md:34 "special
    characters"). Allow-list keeps alnum, space and light punctuation."""
    return F.regexp_replace(col, f"[^{keep}]", "")


def truncating_int_cast(col: Column) -> Column:
    """``int(float(x))`` — parse as double, truncate toward zero, to long
    (dataflow_transform.py:45). Non-numeric input yields NULL (the row is
    then quarantined), matching the reference's except-ValueError path.

    Spark's double->long cast truncates toward zero, exactly like
    Python's ``int()``. (ANSI SQL engines often *round* here — the
    DuckDB oracle must use CAST(TRUNC(x) AS BIGINT).) ``try_cast``
    keeps the null-on-malformed semantics under Spark 4's default
    ANSI mode.
    """
    return col.try_cast("double").try_cast("long")


def parse_double_or_null(col: Column) -> Column:
    """``float(x)`` with null-on-failure (dataflow.py:317-321):
    ``try_cast`` returns NULL for unparseable input (ANSI-safe)."""
    return col.try_cast("double")


def parse_strict_date(col: Column) -> Column:
    """Strict %Y-%m-%d parse, NULL on mismatch (dataflow_transform.py:51-61).

    The reference pre-checks len==10 and two dashes then strptime's;
    ``to_date(c, 'yyyy-MM-dd')`` with a length guard reproduces the
    accept set (to_date alone would accept e.g. '2024-1-2').
    """
    c = col.cast("string")
    return F.when(F.length(c) == 10, F.try_to_timestamp(c, F.lit("yyyy-MM-dd")).cast("date"))


# The accepted timestamp formats, first-match-wins order — a SUPERSET of
# the reference's five (dataflow.py:367-373: ISO with/without 'Z',
# fractional without 'Z', space-separated, bare date) plus the
# fraction+Z form the reference's own utcnow().isoformat()+'Z' emitter
# (dataflow_transform.py:68) produces but its validator would reject — a
# reference self-inconsistency SURVEY §1 resolves in favor of accepting
# both fractional variants.
TIMESTAMP_FORMATS = (
    "yyyy-MM-dd'T'HH:mm:ss.SSSSSS'Z'",
    "yyyy-MM-dd'T'HH:mm:ss.SSSSSS",
    "yyyy-MM-dd'T'HH:mm:ss'Z'",
    "yyyy-MM-dd'T'HH:mm:ss",
    "yyyy-MM-dd HH:mm:ss",
    "yyyy-MM-dd",
)


def multi_format_timestamp(col: Column, formats: tuple[str, ...] = TIMESTAMP_FORMATS) -> Column:
    """First-match-wins multi-format timestamp parse (F7,
    dataflow.py:377-382): coalesce of per-format try_to_timestamp."""
    c = col.cast("string")
    return F.coalesce(*[F.try_to_timestamp(c, F.lit(fmt)) for fmt in formats])


def utc_now_iso() -> Column:
    """Current UTC time as ISO-8601 text with 'Z' suffix
    (dataflow_transform.py:68 ``datetime.utcnow().isoformat()+'Z'``)."""
    return F.concat(
        F.date_format(F.current_timestamp(), "yyyy-MM-dd'T'HH:mm:ss.SSSSSS"), F.lit("Z")
    )


def basename(path_col: Column) -> Column:
    """``os.path.basename`` (dataflow_transform.py:93)."""
    return F.substring_index(path_col, "/", -1)

