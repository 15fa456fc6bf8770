"""Spans around calls into the package's layers, and the Spark event-log
parser that turns spans into per-layer metrics.

A span records one call into a layer: name, layer, kind, start, end,
parent span and run id. While a span is open its id is the Spark job
group of the calling thread, so every job, stage and task Spark runs is
attributed to the innermost open span (``statusTracker`` and the event
log both carry the group). Kinds:

- ``call``: a function that does its own Spark actions (facade reads,
  ``add_versions``, ``compact``);
- ``build``: a call that returned a lazy DataFrame (only planning and
  any eager checkpoints run inside it);
- ``execute``: the benchmark's action that forces a built DataFrame;
- ``bench``: the benchmark's own code (data generation, bookkeeping).

The parser needs only the plain JSON-lines event log that
``spark.eventLog.enabled=true`` with ``compress=false`` and
``rolling.enabled=false`` writes.
"""

from __future__ import annotations

import functools
import inspect
import json
import sys
import time
from collections.abc import Callable
from contextlib import contextmanager
from dataclasses import dataclass, field

PACKAGE = "temporal_vector_database_spark"

# Package modules measured as layers, in report order. ``session`` is the
# Spark scheduler: its job/stage/task counts are totals over the window.
LAYERS = (
    "api",
    "operators.ingest",
    "operators.reconstruct",
    "operators.search",
    "operators.integrity",
    "operators.stats",
    "operators.maintenance",
    "operators.dedup",
    "operators.pipeline",
    "operators.tokenize",
    "session",
)
LAYER_FIELDS = (
    "calls",
    "self_ms",
    "build_ms",
    "jobs",
    "stages",
    "tasks",
    "job_gap_ms",
    "executor_run_ms",
    "shuffle_write_bytes",
    "python_run_ms",
)
FIELD_UNITS = {
    "calls": "count",
    "self_ms": "ms",
    "build_ms": "ms",
    "jobs": "count",
    "stages": "count",
    "tasks": "count",
    "job_gap_ms": "ms",
    "executor_run_ms": "ms",
    "shuffle_write_bytes": "bytes",
    "python_run_ms": "ms",
}
# units of the layer-specific metrics (the rest are counts)
EXTRA_UNITS = {
    "operators.search.index_hit_rate": "ratio",
    "operators.reconstruct.rows_scanned_per_row_returned": "ratio",
    "operators.dedup.verify_yield": "ratio",
    "api.table.bytes": "bytes",
    "operators.maintenance.bytes_rewritten": "bytes",
    "bench.unattributed_ms": "ms",
    "bench.window_ms": "ms",
}
PYTHON_RUN_ACCUM = "time to run Python workers"
ROWS_OUT_ACCUM = "number of output rows"
# plan nodes whose output rows are scored pairs: the search kernels
# cross-join queries with the index
CROSS_JOIN_NODES = ("BroadcastNestedLoopJoin", "CartesianProduct")
SQL_PLAN_EVENTS = ("SparkListenerSQLExecutionStart", "SparkListenerSQLAdaptiveExecutionUpdate")


def unit_of(metric: str) -> str:
    layer, _, f = metric.rpartition(".")
    if layer in LAYERS and f in FIELD_UNITS:
        return FIELD_UNITS[f]
    return EXTRA_UNITS.get(metric, "count")


@dataclass
class Span:
    id: int
    name: str
    layer: str
    kind: str
    parent: int | None
    run_id: str
    start: float
    end: float = 0.0
    children_s: float = 0.0

    @property
    def group(self) -> str:
        return f"{self.run_id}/{self.id}"

    @property
    def dur_s(self) -> float:
        return self.end - self.start


@dataclass
class Tracer:
    """Records spans in memory; ``enabled=False`` makes every span a no-op
    so the untraced run pays nothing."""

    run_id: str
    enabled: bool = True
    spans: list[Span] = field(default_factory=list)
    _stack: list[Span] = field(default_factory=list)
    _sc: object = None

    def attach(self, spark_context) -> None:
        """Tag the jobs of spans opened from now on; spans opened before a
        session exists (session start) carry no job group."""
        self._sc = spark_context

    def _set_group(self, sp: Span | None) -> None:
        if self._sc is None:
            return
        if sp is None:
            self._sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            self._sc.setJobGroup(sp.group, sp.name)

    @contextmanager
    def span(self, name: str, layer: str, kind: str = "call"):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        sp = Span(
            id=len(self.spans),
            name=name,
            layer=layer,
            kind=kind,
            parent=parent.id if parent else None,
            run_id=self.run_id,
            start=time.time(),
        )
        self.spans.append(sp)
        self._stack.append(sp)
        self._set_group(sp)
        try:
            yield sp
        finally:
            sp.end = time.time()
            self._stack.pop()
            if parent is not None:
                parent.children_s += sp.dur_s
            self._set_group(parent)


# -- instrumenting the package ------------------------------------------------


def _wrap(tracer: Tracer, fn, layer: str, name: str):
    from pyspark.sql import DataFrame

    # ``wraps`` copies the module and qualified name, so a wrapped function
    # that ends up in a pickled closure is sent to workers by reference and
    # resolves there to the unwrapped original
    @functools.wraps(fn)
    def traced(*args, **kwargs):
        with tracer.span(name, layer) as sp:
            out = fn(*args, **kwargs)
            if sp is not None and isinstance(out, DataFrame):
                sp.kind = "build"
            return out

    return traced


def instrument(tracer: Tracer) -> Callable[[], None]:
    """Wrap every public function of each layer module, and every public
    method of the facade, in a span. Module-level references are replaced
    wherever the package imported them (``from x import f`` copies), so
    calls between layers are seen too. Returns a function that undoes it."""
    import importlib

    replaced: dict[int, object] = {}
    patches: list[tuple[object, str, object]] = []
    for layer in LAYERS:
        mod = importlib.import_module(f"{PACKAGE}.{layer}")
        if layer == "api":
            cls = mod.TemporalVectorDatabase
            for attr, fn in list(vars(cls).items()):
                if attr.startswith("_") or not inspect.isfunction(fn):
                    continue
                patches.append((cls, attr, fn))
                setattr(cls, attr, _wrap(tracer, fn, layer, f"api.{attr}"))
            continue
        for attr, fn in list(vars(mod).items()):
            if (
                attr.startswith("_")
                or not inspect.isfunction(fn)
                or fn.__module__ != mod.__name__
            ):
                continue
            replaced[id(fn)] = _wrap(tracer, fn, layer, f"{layer}.{attr}")
    for mname, mod in list(sys.modules.items()):
        if not mname.startswith(PACKAGE) or mod is None:
            continue
        for attr, val in list(vars(mod).items()):
            w = replaced.get(id(val))
            if w is not None and w.__wrapped__ is val:
                patches.append((mod, attr, val))
                setattr(mod, attr, w)

    def restore() -> None:
        for owner, attr, val in reversed(patches):
            setattr(owner, attr, val)

    return restore


# -- event log ----------------------------------------------------------------


def _cross_join_accums(plan: dict, out: set) -> None:
    """Accumulator ids of the output-row metric of every cross-join node
    in a SQL plan tree."""
    if plan["nodeName"].startswith(CROSS_JOIN_NODES):
        out.update(m["accumulatorId"] for m in plan.get("metrics", ()) if m["name"] == ROWS_OUT_ACCUM)
    for child in plan.get("children", ()):
        _cross_join_accums(child, out)


def parse_event_log(lines) -> dict:
    """Jobs and per-stage task totals from Spark event-log JSON lines.

    Returns ``{"jobs": {id: {group, submit_ms, end_ms}}, "stages": {id:
    {group, tasks, executor_run_ms, shuffle_write_bytes, python_run_ms,
    records_read, cross_join_rows}}}``. A stage belongs to the job group
    in force when it was submitted; stages that were skipped (reused
    shuffle output) never appear. ``cross_join_rows`` are the rows the
    stage's cross joins produced, found through the SQL plans (each
    adaptive re-plan too) that name the joins' metrics."""
    jobs: dict[int, dict] = {}
    stages: dict[int, dict] = {}
    cross_ids: set[int] = set()
    for line in lines:
        line = line.strip()
        if not line:
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind.endswith(SQL_PLAN_EVENTS):
            _cross_join_accums(ev["sparkPlanInfo"], cross_ids)
        elif kind == "SparkListenerJobStart":
            jobs[ev["Job ID"]] = {
                "group": (ev.get("Properties") or {}).get("spark.jobGroup.id"),
                "submit_ms": ev["Submission Time"],
                "end_ms": ev["Submission Time"],
            }
        elif kind == "SparkListenerJobEnd":
            if ev["Job ID"] in jobs:
                jobs[ev["Job ID"]]["end_ms"] = ev["Completion Time"]
        elif kind == "SparkListenerStageSubmitted":
            sid = ev["Stage Info"]["Stage ID"]
            stages.setdefault(
                sid,
                {
                    "group": (ev.get("Properties") or {}).get("spark.jobGroup.id"),
                    "tasks": 0,
                    "executor_run_ms": 0,
                    "shuffle_write_bytes": 0,
                    "python_run_ms": 0,
                    "records_read": 0,
                    "rows_out": {},
                },
            )
        elif kind == "SparkListenerTaskEnd":
            st = stages.get(ev["Stage ID"])
            tm = ev.get("Task Metrics")
            if st is None or not tm:
                continue
            st["tasks"] += 1
            st["executor_run_ms"] += tm.get("Executor Run Time", 0)
            st["shuffle_write_bytes"] += (tm.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0
            )
            st["records_read"] += (tm.get("Input Metrics") or {}).get("Records Read", 0)
            for acc in (ev.get("Task Info") or {}).get("Accumulables", ()):
                if acc.get("Name") == PYTHON_RUN_ACCUM:
                    st["python_run_ms"] += int(acc.get("Update") or 0)
                elif acc.get("Name") == ROWS_OUT_ACCUM:
                    rows = st["rows_out"]
                    rows[acc["ID"]] = rows.get(acc["ID"], 0) + int(acc.get("Update") or 0)
    for st in stages.values():
        st["cross_join_rows"] = sum(n for i, n in st.pop("rows_out").items() if i in cross_ids)
    return {"jobs": jobs, "stages": stages}


def read_event_logs(paths) -> dict:
    """Merge several event-log files (one per SparkContext)."""
    merged = {"jobs": {}, "stages": {}}
    for i, p in enumerate(sorted(paths)):
        with open(p) as f:
            got = parse_event_log(f)
        # ids restart per application; keep them distinct
        merged["jobs"].update({(i, k): v for k, v in got["jobs"].items()})
        merged["stages"].update({(i, k): v for k, v in got["stages"].items()})
    return merged


# -- span tree → per-layer metrics --------------------------------------------


def _in_window(spans: dict[int, Span], sp: Span, root_id: int) -> bool:
    while sp is not None:
        if sp.id == root_id:
            return True
        sp = spans.get(sp.parent) if sp.parent is not None else None
    return False


def layer_metrics(span_list: list[Span], log: dict, root_id: int) -> dict:
    """Per-layer metrics for the spans under ``root_id`` (the measured
    window). Returns ``{layer: {field: value}}`` for every layer in
    ``LAYERS`` plus ``bench`` (the benchmark's own code, whose self time
    is the part of the window no layer accounts for)."""
    spans = {s.id: s for s in span_list}
    by_group = {s.group: s for s in span_list}
    inside = {s.id for s in span_list if _in_window(spans, s, root_id)}
    out = {L: {f: 0 for f in LAYER_FIELDS} for L in (*LAYERS, "bench")}

    for s in span_list:
        if s.id not in inside:
            continue
        m = out.setdefault(s.layer, {f: 0 for f in LAYER_FIELDS})
        m["self_ms"] += (s.dur_s - s.children_s) * 1e3
        parent = spans.get(s.parent) if s.parent is not None else None
        entry = parent is None or parent.layer != s.layer
        if entry and s.kind in ("call", "build"):
            m["calls"] += 1
            if s.kind == "build":
                m["build_ms"] += s.dur_s * 1e3

    span_jobs: dict[int, list[dict]] = {}
    for job in log["jobs"].values():
        s = by_group.get(job["group"])
        if s is None or s.id not in inside:
            continue
        out[s.layer]["jobs"] += 1
        span_jobs.setdefault(s.id, []).append(job)
    gaps = 0.0
    n_gaps = 0
    for sid, js in span_jobs.items():
        js.sort(key=lambda j: j["submit_ms"])
        g = sum(max(0, b["submit_ms"] - a["end_ms"]) for a, b in zip(js, js[1:]))
        out[spans[sid].layer]["job_gap_ms"] += g
        gaps += g
        n_gaps += len(js) - 1
    for st in log["stages"].values():
        s = by_group.get(st["group"])
        if s is None or s.id not in inside:
            continue
        m = out[s.layer]
        m["stages"] += 1
        for f in ("tasks", "executor_run_ms", "shuffle_write_bytes", "python_run_ms"):
            m[f] += st[f]

    sess = out["session"]
    for f in ("jobs", "stages", "tasks", "executor_run_ms", "shuffle_write_bytes", "python_run_ms"):
        sess[f] = sum(out[L][f] for L in out if L != "session")
    # the scheduler's per-job driver overhead: mean gap between the
    # consecutive jobs of one span
    sess["job_gap_ms"] = gaps / n_gaps if n_gaps else 0.0
    return out


def stage_total(span_list: list[Span], log: dict, span_ids: set[int], field: str) -> int:
    """The sum of a per-stage figure (``records_read``: rows read from
    files; ``cross_join_rows``) over the jobs of the given spans."""
    groups = {s.group for s in span_list if s.id in span_ids}
    return sum(st[field] for st in log["stages"].values() if st["group"] in groups)


def subtree(span_list: list[Span], root_ids: set[int]) -> set[int]:
    """Ids of the given spans and all their descendants."""
    out = set(root_ids)
    for s in span_list:  # spans are recorded parent-first
        if s.parent in out:
            out.add(s.id)
    return out
