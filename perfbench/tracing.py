"""Tracing for the benchmark's traced runs.

Spans are recorded from outside the engine: ``Tracer.install`` wraps the
public functions each layer exposes, at the module attribute its callers
resolve, so a call from one layer into another opens a span (name, start,
end, parent, op id) and runs under its own Spark job group. Nothing here is
active in an untraced run.

Work counts come from outside the program as well: ``statusTracker`` job,
stage and task counts per job group, operator counts from a frame's
physical plan, and Spark's own event log, parsed offline per job group.
"""

from __future__ import annotations

import functools
import json
import os
import re
import time
from dataclasses import dataclass


@dataclass
class Span:
    name: str
    op_id: str
    start: float
    end: float = 0.0
    parent: int | None = None
    group: str = ""
    result: object = None

    @property
    def seconds(self) -> float:
        return self.end - self.start


def layer_targets():
    """(span name, owner, attribute) for every layer boundary wrapped.

    ``api`` binds ``parse_formula``, ``compile_formula``, ``_validate``
    and ``matrix_to_pandas`` at import, so those are wrapped where ``api``
    looks them up; the fused and triplet compilers are imported inside
    the calling function, so their home module is wrapped. Ingest happens
    in set-up, before tracing starts, and is timed there."""
    from ssb_coefficient_maker_spark import api
    from ssb_coefficient_maker_spark.plans import alignment, triplet

    return [
        ("formula.parser.parse", api, "parse_formula"),
        ("plans.alignment.compile", api, "compile_formula"),
        ("plans.alignment.compile", alignment, "compile_formulas_fused"),
        ("plans.triplet.compile", triplet, "compile_formula_triplet"),
        ("validation.audit", api, "_validate"),
        ("catalog.collect", api, "matrix_to_pandas"),
        ("api.map_compile", api.CoefficientCalculator, "compute_coefficients_fused"),
    ]


class Tracer:
    """In-memory span recorder; ``install``/``uninstall`` bracket its use."""

    def __init__(self, sc):
        self.sc = sc
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._saved: list[tuple[object, str, object]] = []
        self.op_id = ""

    def open(self, name: str, op_id: str | None = None) -> int:
        parent = self._stack[-1] if self._stack else None
        span = Span(name, op_id or self.op_id, time.perf_counter(), parent=parent)
        span.group = f"{span.op_id}/{len(self.spans)}:{name}"
        self.spans.append(span)
        self._stack.append(len(self.spans) - 1)
        self.sc.setJobGroup(span.group, name)
        return len(self.spans) - 1

    def close(self, idx: int) -> None:
        self.spans[idx].end = time.perf_counter()
        self._stack.pop()
        parent = self.spans[self._stack[-1]].group if self._stack else None
        if parent is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(parent, parent.rsplit(":", 1)[-1])

    def _wrap(self, name: str, fn):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            idx = self.open(name)
            try:
                out = fn(*args, **kwargs)
                self.spans[idx].result = out
                return out
            finally:
                self.close(idx)

        return traced

    def install(self) -> None:
        for name, owner, attr in layer_targets():
            fn = getattr(owner, attr)
            self._saved.append((owner, attr, fn))
            setattr(owner, attr, self._wrap(name, fn))

    def uninstall(self) -> None:
        while self._saved:
            owner, attr, fn = self._saved.pop()
            setattr(owner, attr, fn)

    # -- per-op decomposition ------------------------------------------------

    def op_spans(self, op_id: str) -> list[Span]:
        return [s for s in self.spans if s.op_id == op_id]

    def layer_seconds(self, op_id: str) -> dict[str, float]:
        """Total seconds per span name within one op (nested spans of the
        same name are counted once, at the outermost)."""
        out: dict[str, float] = {}
        spans = self.op_spans(op_id)
        for s in spans:
            anc = s.parent
            nested = False
            while anc is not None:
                if self.spans[anc].name == s.name:
                    nested = True
                    break
                anc = self.spans[anc].parent
            if not nested:
                out[s.name] = out.get(s.name, 0.0) + s.seconds
        return out

    def work(self, op_id: str, names: tuple[str, ...] | None = None) -> dict[str, int]:
        """statusTracker jobs/stages/tasks of an op's spans (all spans, or
        those named in ``names``)."""
        tracker = self.sc.statusTracker()
        jobs = stages = tasks = 0
        for s in self.op_spans(op_id):
            if names is not None and s.name not in names:
                continue
            for jid in tracker.getJobIdsForGroup(s.group):
                jobs += 1
                info = tracker.getJobInfo(jid)
                for sid in info.stageIds if info else ():
                    stages += 1
                    st = tracker.getStageInfo(sid)
                    tasks += st.numTasks if st else 0
        return {"jobs": jobs, "stages": stages, "tasks": tasks}


# -- physical plan operator counts -------------------------------------------

# operator name after the tree prefix and any whole-stage-codegen marker
_OPERATOR = re.compile(r"^[\s:+\-]*(?:\*\(\d+\)\s*)?(\w+)")


def plan_counts(df) -> dict[str, int]:
    """Join, scan and exchange operators in ``df``'s physical plan, one
    operator per line of the plan's tree string."""
    names = [
        m.group(1)
        for line in df._jdf.queryExecution().executedPlan().toString().splitlines()
        if (m := _OPERATOR.match(line))
    ]
    return {
        "joins": sum(n.endswith("Join") for n in names),
        "scans": sum("Scan" in n for n in names),
        "exchanges": sum(n.endswith("Exchange") for n in names),
    }


# -- event log ---------------------------------------------------------------


def parse_event_log(log_dir: str) -> dict[str, dict[str, float]]:
    """Per job group: executor run seconds, JVM GC seconds, shuffle bytes
    written and bytes spilled, summed over the group's tasks. Reads the
    uncompressed JSON-lines log (every file under ``log_dir``: Spark 4
    writes a directory of rolled files) Spark writes when
    ``spark.eventLog.enabled`` is on."""
    stage_group: dict[int, str] = {}
    out: dict[str, dict[str, float]] = {}
    files = sorted(
        os.path.join(d, f)
        for d, _, names in os.walk(log_dir)
        for f in names
        # skip the v2 status marker and the local file system's .crc files
        if not f.startswith(("appstatus", "."))
    )
    for path in files:
        with open(path, encoding="utf-8") as fh:
            for line in fh:
                if not line.strip():
                    continue
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
                    for sid in ev.get("Stage IDs", []):
                        stage_group[sid] = group
                elif kind == "SparkListenerTaskEnd":
                    m = ev.get("Task Metrics") or {}
                    acc = out.setdefault(
                        stage_group.get(ev.get("Stage ID"), ""),
                        {"run_s": 0.0, "gc_s": 0.0, "shuffle_write_b": 0.0, "spill_b": 0.0},
                    )
                    acc["run_s"] += m.get("Executor Run Time", 0) / 1000.0
                    acc["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
                    acc["shuffle_write_b"] += (m.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0
                    )
                    acc["spill_b"] += m.get("Memory Bytes Spilled", 0) + m.get(
                        "Disk Bytes Spilled", 0
                    )
    return out
