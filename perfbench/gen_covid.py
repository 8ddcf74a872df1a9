"""Seeded generator of covid-shaped CSV batches for the ingest workload.

A batch is a directory of CSV files with the raw header
``entity,Day,total_confirmed_deaths``. Every file mixes clean rows with
dirty rows that hit each ``transform_covid`` reject reason, and every batch
carries one malformed CSV line (an extra field) that the PERMISSIVE read
routes to its corrupt-record column. The generator returns the counts it
planted, so the benchmark can check the pipeline's accounting against them.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np

HEADER = "entity,Day,total_confirmed_deaths"
ENTITIES = [
    "Argentina", "Brazil", "Canada", "Chile", "Egypt", "France", "Germany",
    "India", "Italy", "Japan", "Kenya", "Mexico", "Nigeria", "Peru", "Poland",
    "Spain", "Sweden", "Turkey", "United Kingdom", "United States",
]
# reject_reason -> raw values that trigger it (entity, Day, deaths)
DIRTY = {
    "missing_required_field": [("", "2021-03-01", "12"), ("Chile", "", "7"), ("Peru", "2021-03-02", " ")],
    "invalid_date": [("Italy", "2021/03/01", "50"), ("Spain", "2021-3-1", "9"), ("Japan", "01-03-2021", "4")],
    "invalid_number": [("Kenya", "2021-03-01", "not-a-number"), ("Egypt", "2021-03-03", "1e")],
    "non_positive_deaths": [("Sweden", "2021-03-01", "0"), ("Poland", "2021-03-04", "-5"), ("Chile", "2021-03-05", "0.4")],
}
MALFORMED = "Mexico,2021-03-01,17,extra-field"
DIRTY_FRAC = 0.08


@dataclass
class Batch:
    path_glob: str
    rows: int  # data lines, malformed one included
    clean: int
    quarantined: dict[str, int]
    malformed: int


DATES = [str(np.datetime64("2020-01-22") + d) for d in range(730)]


def write_batch(out_dir: str, rng: np.random.Generator, rows: int, files: int) -> Batch:
    os.makedirs(out_dir, exist_ok=True)
    reasons = sorted(DIRTY)
    choices = [DIRTY[r] for r in reasons]
    n_choices = np.array([len(c) for c in choices])
    quarantined = {r: 0 for r in reasons}
    clean = 0
    per_file = rows // files
    for f in range(files):
        n = per_file if f < files - 1 else rows - per_file * (files - 1)
        is_dirty = rng.random(n) < DIRTY_FRAC
        reason = rng.integers(0, len(reasons), n)
        # every reject reason appears in every file, whatever the draw
        is_dirty[: len(reasons)] = True
        reason[: len(reasons)] = np.arange(len(reasons))
        pick = (rng.random(n) * n_choices[reason]).astype(np.int64)
        ent = rng.integers(0, len(ENTITIES), n)
        day = rng.integers(0, len(DATES), n)
        deaths = rng.integers(1, 100_000, n)
        frac = rng.integers(0, 10, n)

        lines = np.empty(n, dtype=object)
        ok = np.flatnonzero(~is_dirty)
        lines[ok] = [
            f"{ENTITIES[e]},{DATES[d]},{x}.{y}"
            for e, d, x, y in zip(ent[ok].tolist(), day[ok].tolist(), deaths[ok].tolist(), frac[ok].tolist())
        ]
        bad = np.flatnonzero(is_dirty)
        lines[bad] = [",".join(choices[r][k]) for r, k in zip(reason[bad].tolist(), pick[bad].tolist())]
        for r, c in zip(reasons, np.bincount(reason[bad], minlength=len(reasons)).tolist()):
            quarantined[r] += c
        clean += len(ok)

        body = [HEADER] + lines.tolist() + ([MALFORMED] if f == 0 else [])
        with open(os.path.join(out_dir, f"covid_{f:02d}.csv"), "w") as fh:
            fh.write("\n".join(body) + "\n")
    return Batch(
        path_glob=os.path.join(out_dir, "*.csv"),
        rows=rows + 1,
        clean=clean,
        quarantined=quarantined,
        malformed=1,
    )
