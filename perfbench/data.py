"""Seeded input generators. Everything here is a pure function of the
numpy Generator it is given, so one seed always yields the same files."""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: analyzed columns, in the order a full-cohort TableOne lists them
CONT_LOWCARD = ["age", "visits"]  # few distinct values -> exact-disc quartiles
CONT_NEARUNIQUE = ["bmi", "crp"]  # near-unique doubles -> sketch quartiles
CATEGORICAL = ["smoker", "sex", "region"]
ANALYZED = CONT_LOWCARD + CONT_NEARUNIQUE + CATEGORICAL
WEIGHT = "w"

_LEVELS = {
    # the Yes/No/Unknown ladder: Yes first, No second, Unknown after the rest
    "smoker": ["Yes", "No", "Former", "Unknown"],
    "sex": ["F", "M"],
    "region": ["North", "South", "East", "West", "Other"],
    "arm": ["A", "B", "C", "D"],
    "treated": ["Yes", "No"],
}
_NULL_SHARE = {"smoker": 0.04, "sex": 0.02, "region": 0.06, "arm": 0.03, "treated": 0.0}


def _categorical(rng: np.random.Generator, name: str, n: int) -> pa.Array:
    levels = np.array(_LEVELS[name], dtype=object)
    vals = levels[rng.integers(0, len(levels), n)]
    vals[rng.random(n) < _NULL_SHARE[name]] = None
    return pa.array(vals, pa.string())


def _nullable(rng: np.random.Generator, values: np.ndarray, share: float, typ) -> pa.Array:
    return pa.array(values, typ, mask=rng.random(len(values)) < share)


def cohort(rng: np.random.Generator, n: int, first_pid: int = 0, day: int = 0) -> pa.Table:
    """``n`` patients: two low-cardinality integers, two near-unique
    doubles, three categoricals with nulls, the strat columns and an
    integer frequency weight."""
    cols = {
        "pid": pa.array(np.arange(first_pid, first_pid + n, dtype=np.int64)),
        "day": pa.array(np.full(n, day, dtype=np.int64)),
        "age": _nullable(rng, rng.integers(18, 91, n), 0.01, pa.int64()),
        "visits": pa.array(rng.poisson(3.0, n).astype(np.int32)),
        "bmi": _nullable(rng, rng.normal(27.0, 5.0, n), 0.02, pa.float64()),
        "crp": pa.array(rng.lognormal(1.0, 0.8, n)),
    }
    for name in CATEGORICAL:
        cols[name] = _categorical(rng, name, n)
    cols["arm"] = _categorical(rng, "arm", n)
    cols["treated"] = _categorical(rng, "treated", n)
    cols[WEIGHT] = pa.array(rng.integers(1, 5, n).astype(np.int32))
    return pa.table(cols)


def write_parts(table: pa.Table, directory: str, files: int, row_groups_per_file: int) -> list[str]:
    """Write ``table`` as ``files`` parquet files of several row groups each."""
    os.makedirs(directory, exist_ok=True)
    per_file = -(-table.num_rows // files)
    paths = []
    for i in range(files):
        part = table.slice(i * per_file, per_file)
        if part.num_rows == 0:
            break
        path = os.path.join(directory, f"part-{i:03d}.parquet")
        pq.write_table(part, path, row_group_size=max(1, -(-part.num_rows // row_groups_per_file)))
        paths.append(path)
    return paths

