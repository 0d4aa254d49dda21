"""Correctness checks: engine outputs against the expected values that
``gen`` derives from the same seed with numpy/pandas."""

from __future__ import annotations

import os
import shutil

import numpy as np
import pandas as pd
import pyarrow.parquet as pq

RTOL = 1e-9
ATOL = 1e-9


def frames_match(got: pd.DataFrame, want: pd.DataFrame, rtol: float = RTOL, atol: float = ATOL) -> bool:
    """Same row and column labels (any order) and values within tolerance.
    Leontief results come from a truncated series, so callers pass the
    series tolerance as ``atol``."""
    if not isinstance(got, pd.DataFrame) or got.shape != want.shape:
        return False
    got = got.copy()
    got.index = got.index.astype(str)
    got.columns = [str(c) for c in got.columns]
    if set(got.index) != set(map(str, want.index)) or set(got.columns) != set(map(str, want.columns)):
        return False
    aligned = got.loc[[str(i) for i in want.index], [str(c) for c in want.columns]]
    return bool(np.allclose(aligned.to_numpy(dtype=float), want.to_numpy(dtype=float), rtol=rtol, atol=atol))


def manifest_matches(manifest: dict, expected: dict) -> bool:
    """Every mapped result is present with the expected row count, invalid
    count and per-column sums of its finite cells (read from the written
    parquet)."""
    if set(expected) - set(manifest):
        return False
    by_path: dict[str, list[str]] = {}
    for name in expected:
        by_path.setdefault(manifest[name]["path"], []).append(name)
    for path, names in by_path.items():
        cols = [c for n in names for c in manifest[n]["columns"]]
        table = pq.read_table(path, columns=cols)
        for name in names:
            want, entry = expected[name], manifest[name]
            if entry["rows"] != want["rows"] or table.num_rows != want["rows"]:
                return False
            if entry["invalid"] != want["invalid"]:
                return False
            vals = np.column_stack([table.column(c).to_numpy(zero_copy_only=False) for c in entry["columns"]])
            finite = np.isfinite(vals)
            if int((~finite).sum()) != want["invalid"]:
                return False
            sums = np.where(finite, vals, 0.0).sum(axis=0)
            if not np.allclose(sums, want["sums"], rtol=RTOL, atol=ATOL):
                return False
    return True


def tree_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, files in os.walk(path) for f in files
    )


def remove_tree(path: str) -> None:
    shutil.rmtree(path, ignore_errors=True)
