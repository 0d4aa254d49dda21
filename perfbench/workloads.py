"""One benchmark run of one workload, in the process ``run.py`` starts.

Usage (``run.py`` builds the argument): ``python3 workloads.py '<json>'``
with keys ``workload``, ``seed``, ``seconds``, ``trace``, ``work_dir``,
``root`` and ``k``. The run writes ``result.json`` into ``work_dir``.

Each run is one driver process and a closed loop: an op starts when the
previous one has finished. Set-up (session start, operand ingest, warm-up)
is timed on its own; input generation and expected outputs are computed
before any timed region.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

import check
import gen
import tracing

SETUP_REPS = 3  # ingest repetitions; setup_s takes their median
BATCH_ROWS = 20_000


def median(values, default=0.0):
    return statistics.median(values) if values else default


def mean(values, default=0.0):
    return sum(values) / len(values) if values else default


def vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status", encoding="ascii") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def jvm_pid(spark) -> int | None:
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    return proc.pid if proc is not None else None


def start_session(cfg: dict):
    from ssb_coefficient_maker_spark.session import get_spark

    extra = {}
    if cfg["trace"]:
        log_dir = os.path.join(cfg["work_dir"], "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        extra = {
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + log_dir,
            "spark.eventLog.compress": "false",
        }
    t0 = time.perf_counter()
    spark = get_spark(app_name=f"perfbench-{cfg['workload']}", extra_conf=extra)
    return spark, time.perf_counter() - t0


class Window:
    """Closed-loop op records for one measuring window."""

    def __init__(self):
        self.latency: list[float] = []
        self.cells: list[int] = []
        self.failed = 0
        self.op_ids: list[str] = []

    def record(self, op_id: str, seconds: float, cells: int, ok: bool) -> None:
        self.op_ids.append(op_id)
        if ok:
            self.latency.append(seconds)
            self.cells.append(cells)
        else:
            self.failed += 1

    def p50_ms(self) -> float:
        return median(self.latency) * 1000.0

    def cells_per_s(self) -> float:
        return sum(self.cells) / sum(self.latency) if self.latency else 0.0


def run_window(label, seconds, do_op, deck, tracer=None) -> Window:
    """Run whole decks of ops until ``seconds`` have passed, so every window
    holds the same op mix; ``do_op(formula, op_id, tracer)`` returns
    ``(latency_s, cells, ok)`` and times only the engine call."""
    win = Window()
    t_end = time.perf_counter() + seconds
    i = 0
    while i % len(deck) or time.perf_counter() < t_end:
        formula = deck[i % len(deck)]
        op_id = f"{label}-{i}"
        if tracer is not None:
            tracer.op_id = op_id
        try:
            seconds_, cells, ok = do_op(formula, op_id, tracer)
        except Exception as exc:  # an op that raises counts as failed
            print(f"op {op_id} {formula!r} raised {type(exc).__name__}: {exc}", file=sys.stderr)
            seconds_, cells, ok = 0.0, 0, False
        if not ok:
            print(f"op {op_id} {formula!r} failed its check", file=sys.stderr)
        win.record(op_id, seconds_, cells, ok)
        i += 1
    return win


def traced_call(tracer, op_id, fn):
    """Run ``fn`` as one op, under a root span when tracing."""
    if tracer is None:
        t0 = time.perf_counter()
        out = fn()
        return out, time.perf_counter() - t0
    idx = tracer.open("op", op_id)
    t0 = time.perf_counter()
    try:
        out = fn()
    finally:
        elapsed = time.perf_counter() - t0
        tracer.close(idx)
    return out, elapsed


# -- coeff_interactive ----------------------------------------------------------


def atol(formula: str) -> float:
    """A Leontief result is a series truncated once its largest term is
    under the tolerance; with column sums ``c`` the tail is at most
    ``tol / (1 - c)`` per term, doubled for margin."""
    if formula.startswith("leontief"):
        return 2 * gen.LEONTIEF_TOL / (1 - gen.TECH_COL_SUM)
    return check.ATOL


def interactive(cfg: dict) -> dict:
    from ssb_coefficient_maker_spark import FormulaEvaluator

    inputs = gen.interactive_inputs(cfg["seed"])
    expected = {f: gen.expected_formula(f, inputs.data) for f in inputs.deck}
    spark, session_s = start_session(cfg)

    ingest = []
    for _ in range(SETUP_REPS):
        t0 = time.perf_counter()
        fe = FormulaEvaluator(inputs.data, fill_invalid=True, spark=spark)
        ingest.append(time.perf_counter() - t0)
    warm = [inputs.deck[0], inputs.deck[4]]  # one wide-path, one triplet-path op
    t0 = time.perf_counter()
    warm_ok = [check.frames_match(fe.evaluate_to_pandas(f), expected[f], atol=atol(f)) for f in warm]
    warm_s = time.perf_counter() - t0

    def do_op(formula, op_id, tracer):
        result, seconds = traced_call(tracer, op_id, lambda: fe.evaluate_to_pandas(formula))
        invalid[op_id] = fe.last_invalid_count or 0
        return seconds, result.size, check.frames_match(result, expected[formula], atol=atol(formula))

    invalid: dict[str, int] = {}
    return finish(cfg, spark, session_s, ingest, warm_s, warm_ok, do_op, inputs.deck,
                  layer_metrics=lambda tracer, win: interactive_layers(tracer, win, invalid))


def interactive_layers(tracer, win, invalid) -> dict:
    parse, compile_, joins, scans, exch, audit, collect = [], [], [], [], [], [], []
    trip_ms, trip_jobs = [], []
    for op_id in win.op_ids:
        secs = tracer.layer_seconds(op_id)
        parse.append(secs.get("formula.parser.parse", 0.0) * 1000)
        audit.append(secs.get("validation.audit", 0.0) * 1000)
        collect.append(secs.get("catalog.collect", 0.0) * 1000)
        if "plans.triplet.compile" in secs:
            trip_ms.append(secs["plans.triplet.compile"] * 1000)
            trip_jobs.append(tracer.work(op_id, ("plans.triplet.compile",))["jobs"])
        elif "plans.alignment.compile" in secs:
            compile_.append(secs["plans.alignment.compile"] * 1000)
            span = next(s for s in tracer.op_spans(op_id) if s.name == "plans.alignment.compile")
            counts = tracing.plan_counts(span.result.df)
            joins.append(counts["joins"])
            scans.append(counts["scans"])
            exch.append(counts["exchanges"])
    return {
        "formula.parser.parse_ms": (median(parse), "ms"),
        "plans.alignment.compile_ms": (median(compile_), "ms"),
        "plans.alignment.joins": (mean(joins), "count"),
        "plans.alignment.scans": (mean(scans), "count"),
        "plans.alignment.exchanges": (mean(exch), "count"),
        "plans.triplet.formula_ms": (median(trip_ms), "ms"),
        "plans.triplet.jobs": (mean(trip_jobs), "count"),
        "validation.audit_ms": (median(audit), "ms"),
        "validation.invalid_cells": (mean([invalid.get(o, 0) for o in win.op_ids]), "count"),
        "catalog.collect_ms": (median(collect), "ms"),
        "api.map_compile_s": (0.0, "s"),
        "api.map_write_s": (0.0, "s"),
        "api.bytes_per_cell": (0.0, "B"),
    }


# -- coeff_batch -----------------------------------------------------------------


def batch(cfg: dict) -> dict:
    import pandas as pd
    from pyspark.sql import functions as F

    from ssb_coefficient_maker_spark import CoefficientCalculator

    inputs = gen.batch_inputs(cfg["seed"], BATCH_ROWS)
    src_dir = os.path.join(cfg["work_dir"], "sources")
    out_dir = os.path.join(cfg["work_dir"], "maps")
    os.makedirs(src_dir)
    paths = gen.write_sources(inputs, src_dir)
    expected = gen.expected_map(inputs)
    cmap = pd.DataFrame(gen.BATCH_MAP, columns=["result", "formula"])
    spark, session_s = start_session(cfg)

    def operands():
        frames = {}
        for name, (src, cols) in gen.OPERANDS.items():
            df = spark.read.parquet(paths[src])
            frames[name] = df.select(
                F.col("id").alias("__row_id__"),
                *[F.col(c).alias(f"p{j}") for j, c in enumerate(cols)],
            )
        return dict(frames, v=inputs.vector)

    ingest = []
    for _ in range(SETUP_REPS):
        t0 = time.perf_counter()
        calc = CoefficientCalculator(operands(), cmap, "result", "formula", spark=spark)
        ingest.append(time.perf_counter() - t0)

    def run_map(path):
        return calc.compute_coefficients_fused_to_parquet(path)

    t0 = time.perf_counter()
    warm_path = os.path.join(out_dir, "warmup")
    warm_ok = [check.manifest_matches(run_map(warm_path), expected)]
    warm_s = time.perf_counter() - t0
    check.remove_tree(warm_path)

    def do_op(_formula, op_id, tracer):
        path = os.path.join(out_dir, op_id)
        manifest, seconds = traced_call(tracer, op_id, lambda: run_map(path))
        cells = sum(e["rows"] * len(e["columns"]) for n, e in manifest.items() if n != "extras")
        invalid[op_id] = sum(e["invalid"] for n, e in manifest.items() if n != "extras")
        sizes[op_id] = check.tree_bytes(path) / cells if cells else 0.0
        ok = check.manifest_matches(manifest, expected)
        check.remove_tree(path)
        return seconds, cells, ok

    invalid: dict[str, int] = {}
    sizes: dict[str, float] = {}
    return finish(cfg, spark, session_s, ingest, warm_s, warm_ok, do_op, [None],
                  layer_metrics=lambda tracer, win: batch_layers(tracer, win, invalid, sizes),
                  info={"rows": BATCH_ROWS, "formulas": len(gen.BATCH_MAP)})


def batch_layers(tracer, win, invalid, sizes) -> dict:
    parse, compile_, map_compile, map_write = [], [], [], []
    joins, scans, exch = [], [], []
    for op_id in win.op_ids:
        secs = tracer.layer_seconds(op_id)
        parse.append(secs.get("formula.parser.parse", 0.0) * 1000)
        compile_.append(secs.get("plans.alignment.compile", 0.0) * 1000)
        total = secs.get("op", 0.0)
        mc = secs.get("api.map_compile", 0.0)
        map_compile.append(mc)
        map_write.append(total - mc)
        counts = {"joins": 0, "scans": 0, "exchanges": 0}
        for span in tracer.op_spans(op_id):
            if span.name == "plans.alignment.compile":
                for key, n in tracing.plan_counts(span.result[0]).items():
                    counts[key] += n
        joins.append(counts["joins"])
        scans.append(counts["scans"])
        exch.append(counts["exchanges"])
    return {
        "formula.parser.parse_ms": (median(parse), "ms"),
        "plans.alignment.compile_ms": (median(compile_), "ms"),
        "plans.alignment.joins": (mean(joins), "count"),
        "plans.alignment.scans": (mean(scans), "count"),
        "plans.alignment.exchanges": (mean(exch), "count"),
        "plans.triplet.formula_ms": (0.0, "ms"),
        "plans.triplet.jobs": (0.0, "count"),
        "validation.audit_ms": (0.0, "ms"),
        "validation.invalid_cells": (mean([invalid.get(o, 0) for o in win.op_ids]), "count"),
        "catalog.collect_ms": (0.0, "ms"),
        "api.map_compile_s": (median(map_compile), "s"),
        "api.map_write_s": (median(map_write), "s"),
        "api.bytes_per_cell": (mean([sizes.get(o, 0.0) for o in win.op_ids]), "B"),
    }


# -- shared tail -------------------------------------------------------------------


def finish(cfg, spark, session_s, ingest, warm_s, warm_ok, do_op, deck,
           layer_metrics, info=None) -> dict:
    """Measure the window(s), read peak memory, stop the session and
    assemble the result. ``warm_ok`` holds one check result per warm-up
    op; they count as attempted ops."""
    setup_s = session_s + median(ingest) + warm_s
    plain = run_window("plain", cfg["seconds"], do_op, deck)
    windows = [plain]
    layers = {}
    if cfg["trace"]:
        tracer = tracing.Tracer(spark.sparkContext)
        tracer.install()
        try:
            traced = run_window("traced", cfg["seconds"], do_op, deck, tracer)
        finally:
            tracer.uninstall()
        windows.append(traced)
        layers = layer_metrics(tracer, traced)
        work = [tracer.work(o) for o in traced.op_ids]
        layers.update({
            "session.start_s": (session_s, "s"),
            "catalog.ingest_s": (median(ingest), "s"),
            "spark.jobs_per_op": (mean([w["jobs"] for w in work]), "count"),
            "spark.stages_per_op": (mean([w["stages"] for w in work]), "count"),
            "spark.tasks_per_op": (mean([w["tasks"] for w in work]), "count"),
            "spark.local_k": (cfg["k"], "count"),
            "trace.spans_per_op": (len(tracer.spans) / max(1, len(traced.op_ids)), "count"),
            "trace.overhead_p50_ms": (traced.p50_ms() - plain.p50_ms(), "ms"),
            "trace.overhead_cells_per_s": (traced.cells_per_s() - plain.cells_per_s(), "1/s"),
        })
    rss = vm_hwm_mb(os.getpid())
    jpid = jvm_pid(spark)
    if jpid is not None:
        rss += vm_hwm_mb(jpid)
    spark.stop()
    if cfg["trace"]:
        layers.update(event_log_metrics(cfg, traced))

    end_to_end = {
        "setup_s": (setup_s, "s"),
        "op_p50_ms": (plain.p50_ms(), "ms"),
        "cells_per_s": (plain.cells_per_s(), "1/s"),
    }
    layers["peak_rss_mb"] = (rss, "MB")
    metrics = layers if cfg["trace"] else end_to_end
    attempted = sum(len(w.op_ids) for w in windows) + len(warm_ok)
    failed = sum(w.failed for w in windows) + warm_ok.count(False)
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        "info": dict(
            info or {},
            workload=cfg["workload"], seed=cfg["seed"], k=cfg["k"],
            ops=[len(w.op_ids) for w in windows],
            latency_ms=[[round(x * 1000) for x in w.latency] for w in windows],
            setup_parts={
                "session_s": session_s, "ingest_s": ingest, "warmup_s": warm_s},
        ),
    }


def event_log_metrics(cfg, win) -> dict:
    groups = tracing.parse_event_log(os.path.join(cfg["work_dir"], "eventlog"))
    per_op = {o: {"run_s": 0.0, "gc_s": 0.0, "shuffle_write_b": 0.0, "spill_b": 0.0}
              for o in win.op_ids}
    for group, acc in groups.items():
        op_id = group.split("/", 1)[0]
        if op_id in per_op:
            for key, val in acc.items():
                per_op[op_id][key] += val
    ops = list(per_op.values())
    mb = 1024.0 * 1024.0
    return {
        "spark.shuffle_write_mb": (mean([o["shuffle_write_b"] / mb for o in ops]), "MB"),
        "spark.spill_mb": (mean([o["spill_b"] / mb for o in ops]), "MB"),
        "spark.executor_run_s": (mean([o["run_s"] for o in ops]), "s"),
        "spark.gc_s": (mean([o["gc_s"] for o in ops]), "s"),
    }


WORKLOADS = {"coeff_interactive": interactive, "coeff_batch": batch}


def main(argv: list[str]) -> int:
    cfg = json.loads(argv[1])
    sys.path.insert(0, cfg["root"])
    import ssb_coefficient_maker_spark as engine

    pkg = os.path.dirname(os.path.abspath(engine.__file__))
    if os.path.dirname(pkg) != os.path.abspath(cfg["root"]):
        raise SystemExit(f"engine imported from {pkg}, not from the checkout")
    result = WORKLOADS[cfg["workload"]](cfg)
    with open(os.path.join(cfg["work_dir"], "result.json"), "w", encoding="utf-8") as fh:
        json.dump(result, fh)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
