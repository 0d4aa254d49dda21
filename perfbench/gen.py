"""Seeded input generators and the expected outputs they imply.

Everything here is plain numpy/pandas: the engine never sees a seed, only
the frames, parquet files and formula strings built from it. Expected
outputs follow the reference's pandas semantics: labels align by union,
and with ``fill_invalid`` every NaN/±Inf cell reads 0.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pandas as pd

WIDTHS = (8, 16, 32)
MATRICES_PER_WIDTH = 8
ROW_LABELS = 200
TECH_N = 32  # technical-coefficient matrices are TECH_N x TECH_N
TECH_COL_SUM = 0.6
LEONTIEF_TOL = 1e-3

# The deck: one (class, template) per slot. A run evaluates whole decks in
# slot order, and each slot names the same operands whatever the seed, so
# every run does the same work shape; the seed draws the values, the zero
# and NaN cells, the row-label subsets and the literals. Two of the ten
# slots (20%) take the triplet path: a transpose-matmul and a Leontief
# inverse.
DECK = (
    (8, "{a} + {b}"),
    (16, "{a} - {b} * {k}"),
    (32, "{a} * {s}"),
    (8, "({a} + {b}) / {c}"),
    ("matrix", "{a}.T @ {b}"),
    (16, "{a} / {s} - {b}"),
    (32, "{a} + {b} * {k}"),
    (8, "{a} * {k} + {b} / {c}"),
    (16, "({a} - {b}) / ({a} + {k})"),
    ("matrix", "leontief({a}, {tol})"),
)


def _tech_matrix(rng: np.random.Generator, labels: list[str]) -> pd.DataFrame:
    n = len(labels)
    a = rng.random((n, n))
    a[rng.random((n, n)) < 0.05] = 0.0
    a = a / a.sum(axis=0) * TECH_COL_SUM
    return pd.DataFrame(a, index=labels, columns=labels)


@dataclass
class InteractiveInputs:
    data: dict  # name -> pandas DataFrame / Series, as registered
    deck: list[str]  # one formula per ``DECK`` slot, in run order


def interactive_inputs(seed: int) -> InteractiveInputs:
    """24 matrices (8 per width in ``WIDTHS``), 6 Series (2 per width), two
    technical-coefficient matrices, and the formulas of one deck."""
    rng = np.random.default_rng([seed, 1])
    data: dict = {}
    by_width: dict[int, list[str]] = {w: [] for w in WIDTHS}
    for w in WIDTHS:
        cols = [f"c{j}" for j in range(w)]
        for i in range(MATRICES_PER_WIDTH):
            # 100-200 rows, a seeded subset of ROW_LABELS: every formula's
            # operands disagree on some labels
            n_rows = 100 + (ROW_LABELS - 100) * i // (MATRICES_PER_WIDTH - 1)
            keep = np.sort(rng.choice(ROW_LABELS, size=n_rows, replace=False))
            vals = rng.uniform(0.5, 10.0, size=(n_rows, w))
            vals[rng.random(vals.shape) < 0.05] = 0.0
            if i % 2 == 1:  # half the matrices carry 1% NaN cells
                vals[rng.random(vals.shape) < 0.01] = np.nan
            frame = pd.DataFrame(vals, index=[f"r{j}" for j in keep], columns=cols)
            name = f"m{w}_{i}"
            data[name] = frame
            by_width[w].append(name)
        for i in range(2):
            data[f"s{w}_{i}"] = pd.Series(rng.uniform(0.5, 2.0, size=w), index=cols)
    tech = [f"i{j}" for j in range(TECH_N)]
    data["A0"] = _tech_matrix(rng, tech)
    data["A1"] = _tech_matrix(rng, tech)

    deck: list[str] = []
    for slot, (kind, tpl) in enumerate(DECK):
        if kind == "matrix":
            deck.append(tpl.format(a="A0", b="A1", tol=LEONTIEF_TOL))
            continue
        names = by_width[kind]
        deck.append(
            tpl.format(
                a=names[slot % 8], b=names[(slot + 3) % 8], c=names[(slot + 5) % 8],
                s=f"s{kind}_{slot % 2}", k=round(float(rng.uniform(0.5, 3.0)), 3),
            )
        )
    return InteractiveInputs(data=data, deck=deck)


def expected_formula(formula: str, data: dict) -> pd.DataFrame:
    """Reference semantics: pandas arithmetic (union alignment, NaN for a
    missing label), ``leontief(a, tol)`` as ``inv(I - a)``, then every
    NaN/±Inf cell filled with 0."""

    def leontief(a: pd.DataFrame, tol: float) -> pd.DataFrame:
        inv = np.linalg.inv(np.eye(len(a)) - a.to_numpy())
        return pd.DataFrame(inv, index=a.index, columns=a.columns)

    with np.errstate(all="ignore"):
        out = eval(formula, {"__builtins__": {}, "leontief": leontief}, dict(data))  # noqa: S307
    return out.replace([np.inf, -np.inf], np.nan).fillna(0.0)


# -- coeff_batch ---------------------------------------------------------------

BATCH_COLS = 32
OUTPUT_COLS = 16
PROJ_COLS = 16  # each operand is a 16-column projection, renamed p0..p15

# operand name -> (source, source columns); every operand is renamed to
# the shared p0..p15 so formulas align column-by-column
OPERANDS = {
    "S1": ("supply", [f"x{j}" for j in range(0, 16)]),
    "S2": ("supply", [f"x{j}" for j in range(16, 32)]),
    "U1": ("use", [f"x{j}" for j in range(0, 16)]),
    "U2": ("use", [f"x{j}" for j in range(16, 32)]),
    "O": ("output", [f"o{j}" for j in range(OUTPUT_COLS)]),
}

# 13 formulas over 7 operand sets: the fused path writes one group per set
BATCH_MAP = (
    ("s1_share", "S1 / O"),
    ("s1_share_w", "S1 * v / O"),
    ("s2_share", "S2 / O"),
    ("s2_share_shift", "(S2 + 1) / O"),
    ("u1_share", "U1 / O"),
    ("u1_share_w", "U1 * v / O"),
    ("u2_share", "U2 / O"),
    ("net1", "U1 - S1"),
    ("net1_rel", "(U1 - S1) / S1"),
    ("net2", "U2 - S2"),
    ("use_supply2", "U2 / S2"),
    ("balance", "(S1 + S2 - U1 - U2) / (S1 + S2)"),
    ("supply_use", "(S1 + S2) / (U1 + U2)"),
)


@dataclass
class BatchInputs:
    tables: dict  # source name -> pandas DataFrame with an "id" column
    operands: dict  # operand name -> pandas DataFrame (index id, cols p*)
    vector: pd.Series


def batch_inputs(seed: int, rows: int) -> BatchInputs:
    """``supply``: ``rows`` ids x 32 doubles; ``use``: 95% of those ids
    plus 2% new ones; ``output``: 16 columns over the supply ids, 2% zero
    cells."""
    rng = np.random.default_rng([seed, 2])
    supply_ids = np.sort(rng.choice(rows * 4, size=rows, replace=False)).astype(np.int64)
    kept = supply_ids[rng.random(rows) < 0.95]
    fresh = np.setdiff1d(
        rng.choice(np.arange(rows * 4, rows * 5), size=int(rows * 0.02), replace=False),
        supply_ids,
    )
    use_ids = np.sort(np.concatenate([kept, fresh]))

    def table(ids, cols, low, high, zero_frac=0.0):
        vals = rng.uniform(low, high, size=(len(ids), len(cols)))
        if zero_frac:
            vals[rng.random(vals.shape) < zero_frac] = 0.0
        return pd.DataFrame(vals, columns=cols).assign(id=ids)

    xcols = [f"x{j}" for j in range(BATCH_COLS)]
    tables = {
        "supply": table(supply_ids, xcols, 1.0, 100.0),
        "use": table(use_ids, xcols, 1.0, 100.0),
        "output": table(supply_ids, [f"o{j}" for j in range(OUTPUT_COLS)], 50.0, 500.0, 0.02),
    }
    pcols = [f"p{j}" for j in range(PROJ_COLS)]
    operands = {}
    for name, (src, cols) in OPERANDS.items():
        t = tables[src]
        operands[name] = pd.DataFrame(t[cols].to_numpy(), index=t["id"].to_numpy(), columns=pcols)
    vector = pd.Series(rng.uniform(0.5, 2.0, size=PROJ_COLS), index=pcols)
    return BatchInputs(tables=tables, operands=operands, vector=vector)


def write_sources(inputs: BatchInputs, root: str) -> dict[str, str]:
    """Write each source table as one parquet file; returns name -> path."""
    paths = {}
    for name, frame in inputs.tables.items():
        path = os.path.join(root, f"{name}.parquet")
        frame.to_parquet(path, index=False)
        paths[name] = path
    return paths


def expected_map(inputs: BatchInputs) -> dict[str, dict]:
    """Per result: union-aligned row count, invalid (NaN/±Inf) cell count
    and per-column sums of the finite cells, for a map run with
    ``fill_invalid=False``."""
    env = dict(inputs.operands, v=inputs.vector)
    out = {}
    with np.errstate(all="ignore"):
        for name, formula in BATCH_MAP:
            res = eval(formula, {"__builtins__": {}}, env)  # noqa: S307
            vals = res.to_numpy()
            finite = np.isfinite(vals)
            out[name] = {
                "rows": len(res),
                "invalid": int((~finite).sum()),
                "sums": np.where(finite, vals, 0.0).sum(axis=0),
            }
    return out
