"""Tests of the benchmark itself: generators, correctness checks, tracing
and the printed result.

    python3 -m pytest perfbench/test_perfbench.py -q

The Spark-backed tests start a local session and the end-to-end ones run
``run.py`` once per workload and mode (a few minutes in all).
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import numpy as np
import pandas as pd
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import check  # noqa: E402
import gen  # noqa: E402

BENCH = json.load(open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8"))


def _same_inputs(a, b) -> bool:
    if a.keys() != b.keys():
        return False
    return all(x.equals(b[k]) for k, x in a.items())


# -- generators ---------------------------------------------------------------


def test_interactive_inputs_deterministic_per_seed():
    a, b = gen.interactive_inputs(5), gen.interactive_inputs(5)
    assert _same_inputs(a.data, b.data)
    assert a.deck == b.deck


def test_interactive_inputs_differ_across_seeds():
    a, b = gen.interactive_inputs(5), gen.interactive_inputs(6)
    assert not _same_inputs(a.data, b.data)
    assert a.deck != b.deck


def test_interactive_inputs_shape():
    inp = gen.interactive_inputs(3)
    mats = [v for k, v in inp.data.items() if k.startswith("m")]
    assert len(mats) == 24 and sum(k.startswith("s") for k in inp.data) == 6
    assert {m.shape[1] for m in mats} == set(gen.WIDTHS)
    assert all(100 <= len(m) <= gen.ROW_LABELS for m in mats)
    cells = np.concatenate([m.to_numpy().ravel() for m in mats])
    assert 0.03 < np.mean(cells == 0) < 0.07
    assert np.isnan(cells).any()
    for name in ("A0", "A1"):
        assert np.allclose(inp.data[name].sum(axis=0), gen.TECH_COL_SUM)
    assert len(inp.deck) == len(gen.DECK)
    assert sum(f.startswith("leontief") or "@" in f for f in inp.deck) == 2


def test_batch_inputs_deterministic_and_seeded():
    a, b, c = gen.batch_inputs(1, 2000), gen.batch_inputs(1, 2000), gen.batch_inputs(2, 2000)
    assert _same_inputs(a.tables, b.tables) and a.vector.equals(b.vector)
    assert not _same_inputs(a.tables, c.tables)


def test_batch_inputs_shape():
    inp = gen.batch_inputs(4, 10_000)
    supply, use, out = (inp.tables[n] for n in ("supply", "use", "output"))
    shared = np.intersect1d(supply["id"], use["id"])
    assert len(supply) == 10_000 and supply["id"].is_unique
    assert 0.93 < len(shared) / len(supply) < 0.97
    assert 0.015 < (len(use) - len(shared)) / len(supply) <= 0.02
    assert 0.015 < np.mean(out.drop(columns="id").to_numpy() == 0) < 0.025
    assert len({f for _, f in gen.BATCH_MAP}) == 13
    groups = {frozenset(v for v in gen.OPERANDS if v in f) for _, f in gen.BATCH_MAP}
    assert len(groups) == 7


# -- correctness checks fail on a corrupted expected value -------------------


def test_frames_match_catches_corruption():
    inp = gen.interactive_inputs(7)
    formula = next(f for f in inp.deck if "/" in f)
    want = gen.expected_formula(formula, inp.data)
    got = want.sample(frac=1.0, random_state=0)  # row order must not matter
    assert check.frames_match(got, want)
    bad = want.copy()
    bad.iloc[3, 2] += 1e-3
    assert not check.frames_match(got, bad)
    assert not check.frames_match(got, want.iloc[1:])
    assert not check.frames_match(got, want.rename(index={want.index[0]: "zz"}))


def test_leontief_expected_is_inverse():
    inp = gen.interactive_inputs(8)
    a = inp.data["A0"]
    want = gen.expected_formula("leontief(A0, 0.001)", inp.data)
    assert np.allclose(want.to_numpy() @ (np.eye(len(a)) - a.to_numpy()), np.eye(len(a)))
    bad = want.copy()
    bad.iloc[0, 0] += 0.01
    assert not check.frames_match(want, bad, atol=2 * gen.LEONTIEF_TOL / (1 - gen.TECH_COL_SUM))


def _pandas_map(inp, root):
    """Write the map's results the way the engine's fused sink does: one
    parquet per operand group, ``{result}_{col}`` columns."""
    env = dict(inp.operands, v=inp.vector)
    manifest = {"extras": {}}
    groups: dict[frozenset, list[str]] = {}
    for name, formula in gen.BATCH_MAP:
        groups.setdefault(frozenset(v for v in gen.OPERANDS if v in formula), []).append(name)
    formulas = dict(gen.BATCH_MAP)
    for gi, names in enumerate(groups.values()):
        with np.errstate(all="ignore"):
            frames = {n: eval(formulas[n], {"__builtins__": {}}, env) for n in names}  # noqa: S307
        table = pd.concat(
            [f.add_prefix(f"{n}_") for n, f in frames.items()], axis=1
        ).reset_index(drop=True)
        path = os.path.join(root, f"group={gi}")
        os.makedirs(path)
        table.to_parquet(os.path.join(path, "part-0.parquet"), index=False)
        for n, f in frames.items():
            vals = f.to_numpy()
            manifest[n] = {
                "path": path,
                "columns": [f"{n}_{c}" for c in f.columns],
                "rows": len(f),
                "invalid": int((~np.isfinite(vals)).sum()),
            }
    return manifest


def test_manifest_matches_catches_corruption(tmp_path):
    inp = gen.batch_inputs(3, 3000)
    expected = gen.expected_map(inp)
    manifest = _pandas_map(inp, str(tmp_path))
    assert check.manifest_matches(manifest, expected)
    name = gen.BATCH_MAP[-1][0]
    for key, corrupt in (
        ("rows", lambda v: v + 1),
        ("invalid", lambda v: v + 1),
        ("sums", lambda v: v * (1 + 1e-6)),
    ):
        bad = {k: dict(v) for k, v in expected.items()}
        bad[name][key] = corrupt(bad[name][key])
        assert not check.manifest_matches(manifest, bad), key
    missing = dict(manifest)
    del missing[name]
    assert not check.manifest_matches(missing, expected)


# -- Spark-backed: tracing, and the printed result ----------------------------


@pytest.fixture(scope="module")
def spark():
    sys.path.insert(0, ROOT)
    from ssb_coefficient_maker_spark.session import get_spark

    session = get_spark(app_name="perfbench-tests", shuffle_partitions=2)
    yield session


def test_traced_decomposition_matches_untraced(spark):
    import tracing

    from ssb_coefficient_maker_spark import FormulaEvaluator

    inp = gen.interactive_inputs(9)
    fe = FormulaEvaluator(inp.data, fill_invalid=True, spark=spark)
    formulas = [inp.deck[0], inp.deck[2], inp.deck[4]]
    plain = [fe.evaluate_to_pandas(f) for f in formulas]
    tracer = tracing.Tracer(spark.sparkContext)
    tracer.install()
    try:
        traced = []
        for i, f in enumerate(formulas):
            tracer.op_id = f"op{i}"
            idx = tracer.open("op")
            traced.append(fe.evaluate_to_pandas(f))
            tracer.close(idx)
    finally:
        tracer.uninstall()
    for f, a, b in zip(formulas, plain, traced):
        assert check.frames_match(b, a), f
        assert check.frames_match(b, gen.expected_formula(f, inp.data)), f
    names = [s.name for s in tracer.op_spans("op0")]
    assert names == [
        "op", "formula.parser.parse", "plans.alignment.compile", "validation.audit", "catalog.collect"
    ]
    assert "plans.triplet.compile" in [s.name for s in tracer.op_spans("op2")]
    for s in tracer.spans:
        assert s.end >= s.start and (s.parent is None or tracer.spans[s.parent].start <= s.start)
    assert tracer.work("op0")["jobs"] >= 2  # audit + collect
    # wrappers are gone after uninstall
    from ssb_coefficient_maker_spark import api

    assert not hasattr(api.compile_formula, "__wrapped__")


def _run(workload: str, trace: int, seconds: int = 3) -> tuple[int, dict]:
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", "1", "--seconds", str(seconds), "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    return proc.returncode, json.loads(proc.stdout.strip().splitlines()[-1])


@pytest.mark.slow
@pytest.mark.parametrize("workload", [w["name"] for w in BENCH["workloads"]])
@pytest.mark.parametrize("trace", [0, 1])
def test_every_metric_printed_with_unit(workload, trace):
    code, result = _run(workload, trace)
    assert code == 0
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    declared = BENCH["per_layer"] if trace else BENCH["end_to_end"]
    assert set(result["metrics"]) == {m["name"] for m in declared}
    for m in declared:
        got = result["metrics"][m["name"]]
        assert got["unit"] == m["unit"]
        assert isinstance(got["value"], (int, float))
    if not trace:
        assert all(v["value"] > 0 for v in result["metrics"].values())


def test_bare_directory_fails(tmp_path):
    """Without the engine beside it the benchmark exits non-zero and
    prints no result."""
    import shutil

    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns(".work", "__pycache__"))
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "coeff_batch", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=180,
    )
    assert proc.returncode != 0 and proc.stdout.strip() == ""
