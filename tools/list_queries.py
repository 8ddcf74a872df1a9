"""Generate QUERIES.md — the index of every registered query: tags,
oracle status, and first docstring line. Regenerate after adding queries:
    python tools/list_queries.py
"""

from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from etl_pipeline_spark.queries.base import all_specs


def main() -> None:
    specs = all_specs()
    n_oracle = sum(1 for s in specs.values() if s.oracle)
    lines = [
        "# QUERIES — registered operator queries",
        "",
        f"{len(specs)} queries; {n_oracle} oracle-checked against DuckDB, "
        f"{len(specs) - n_oracle} rows-only. Auto-generated by "
        "`python tools/list_queries.py`.",
        "",
        "| Query | Check | Tags | What it does |",
        "|---|---|---|---|",
    ]
    for name, spec in sorted(specs.items()):
        doc = (spec.doc or "").strip().splitlines()
        first = doc[0].strip() if doc else ""
        check = "oracle" if spec.oracle else "rows-only"
        lines.append(f"| `{name}` | {check} | {', '.join(spec.tags)} | {first} |")
    with open(os.path.join(REPO, "QUERIES.md"), "w") as f:
        f.write("\n".join(lines) + "\n")
    print(f"wrote QUERIES.md ({len(specs)} queries, {n_oracle} oracled)")


if __name__ == "__main__":
    main()
