"""Local replica of the driver's correctness gate.

Runs every registered query on Spark and its oracle SQL on DuckDB at the
given scale factor, then compares row count, schema (column names), and an
order-insensitive value hash. Usage:

    python tools/check_oracle.py [--sf-dir /root/testdata/sf0.01] [names...]

The DuckDB side is fetched through Arrow (``fetch_arrow_table``) rather than
``fetchall()`` on purpose: the driver's fetch path is Arrow-based, so HUGEINT
(int128) sums surface as ``Decimal`` and TIMESTAMP_NS keeps nanoseconds —
exactly the representations that made round-1's two hash failures invisible
to a ``fetchall()``-based replica. Any oracle whose output includes a
HUGEINT/DECIMAL/ns-timestamp column is additionally flagged by the type lint
so it gets rewritten (CAST ... AS BIGINT, date_format) before the driver
ever sees it.
"""

from __future__ import annotations

import argparse
import datetime
import decimal
import hashlib
import math
import os
import sys
import time
import traceback

import duckdb
import pyarrow as pa

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from etl_pipeline_spark.catalog import TABLES, table_path
from etl_pipeline_spark.queries.base import all_specs
from etl_pipeline_spark.session import get_spark


def normalize_cell(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        if math.isinf(v):  # r13: stable_round can surface signed Infinity
            return "Infinity" if v > 0 else "-Infinity"
        if v == int(v) and abs(v) < 1e15:
            return str(int(v))
        return repr(v)
    # Deliberately NOT coerced to look like int/str twins: the driver's
    # normalization treats these as distinct, so the replica must too.
    if isinstance(v, decimal.Decimal):
        return f"Decimal({v})"
    if isinstance(v, datetime.datetime):
        return f"ts({v.isoformat()})"
    return str(v)


# Arrow types that hash differently under the driver's fetch path than their
# logically-equal Spark twins. Oracles must never emit these.
def risky_oracle_types(schema: pa.Schema) -> list[str]:
    flagged = []
    for f in schema:
        t = f.type
        if pa.types.is_decimal(t):
            flagged.append(f"{f.name}: {t} (use CAST(... AS BIGINT/DOUBLE))")
        elif pa.types.is_timestamp(t):
            flagged.append(f"{f.name}: {t} (emit date_format(...) or epoch seconds)")
    return flagged


def value_hash(rows: list[tuple], cols: list[str]) -> str:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted("\x1f".join(normalize_cell(r[i]) for i in order) for r in rows)
    h = hashlib.sha256()
    for line in lines:
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()[:16]


def open_oracle(sf_dir: str):
    """DuckDB connection with the fixture tables registered as views."""
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{table_path(sf_dir, t)}')"
        )
    return con


def check_query(spark, con, spec, sf_dir: str) -> dict:
    """One query through the driver's gate: returns {"status": "ok" |
    "rows" | "FAIL", "rows": n, "secs": s, "detail": str}. Extracted
    from main() so tools/approx_sweep.py runs the IDENTICAL comparison
    (rowcount + schema + order-insensitive value hash) at other SFs."""
    t0 = time.time()
    try:
        sdf = spec.fn(spark, sf_dir)
        scols = sdf.columns
        srows = [tuple(r) for r in sdf.collect()]
    except Exception:
        return {
            "status": "FAIL", "rows": 0, "secs": round(time.time() - t0, 1),
            "detail": "spark error: " + traceback.format_exc(limit=3),
        }
    if spec.oracle is None:
        return {
            "status": "rows", "rows": len(srows),
            "secs": round(time.time() - t0, 1), "detail": "no oracle",
        }
    try:
        tbl = con.execute(spec.oracle).fetch_arrow_table()
        ocols = tbl.column_names
        ocolumns = [tbl.column(i).to_pylist() for i in range(tbl.num_columns)]
        orows = list(zip(*ocolumns)) if ocolumns else []
        if tbl.num_rows and not ocolumns:
            orows = [()] * tbl.num_rows
    except Exception as exc:
        return {
            "status": "FAIL", "rows": len(srows),
            "secs": round(time.time() - t0, 1), "detail": f"duckdb error: {exc}",
        }
    problems = []
    flagged = risky_oracle_types(tbl.schema)
    if flagged:
        problems.append(f"risky oracle types: {flagged}")
    sflagged = [
        f"{fname}: {ftype}"
        for fname, ftype in sdf.dtypes
        if ftype.startswith("timestamp") or ftype.startswith("decimal")
    ]
    if sflagged:
        problems.append(f"risky spark types: {sflagged}")
    if len(srows) != len(orows):
        problems.append(f"rowcount spark={len(srows)} oracle={len(orows)}")
    if sorted(scols) != sorted(ocols):
        problems.append(f"schema spark={sorted(scols)} oracle={sorted(ocols)}")
    if not problems:
        sh, oh = value_hash(srows, scols), value_hash(orows, ocols)
        if sh != oh:
            problems.append(f"valuehash spark={sh} oracle={oh}")
            ss = sorted("\x1f".join(map(normalize_cell, r)) for r in srows)
            oo = sorted("\x1f".join(map(normalize_cell, r)) for r in orows)
            for a, b in zip(ss, oo):
                if a != b:
                    problems.append(f"first diff: spark {a[:200]} | oracle {b[:200]}")
                    break
    return {
        "status": "FAIL" if problems else "ok",
        "rows": len(srows),
        "secs": round(time.time() - t0, 1),
        "detail": "; ".join(problems),
    }


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    ap.add_argument("names", nargs="*")
    args = ap.parse_args()

    spark = get_spark("check_oracle")
    con = open_oracle(args.sf_dir)
    specs = all_specs()
    names = args.names or list(specs)
    n_pass = n_fail = n_rowsonly = 0
    for name in names:
        r = check_query(spark, con, specs[name], args.sf_dir)
        if r["status"] == "ok":
            print(f"ok    {name}: {r['rows']} rows [{r['secs']}s]")
            n_pass += 1
        elif r["status"] == "rows":
            print(f"rows  {name}: {r['rows']} rows (no oracle) [{r['secs']}s]")
            n_rowsonly += 1
        else:
            print(f"FAIL  {name}: {r['detail']} [{r['secs']}s]")
            n_fail += 1
    print(f"\n{n_pass} ok, {n_rowsonly} rows-only, {n_fail} FAIL")
    return 1 if n_fail else 0


if __name__ == "__main__":
    sys.exit(main())
