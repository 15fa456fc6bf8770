"""One benchmark run inside the pinned environment ``run.py`` prepares:
start the session, run the workload, and write the result JSON.

    python3 -m perfbench.worker --workload online --seed 1 --seconds 10 \\
        --trace 0 --work-dir <dir> --out <file>
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import statistics
import time

from perfbench import trace
from perfbench.workloads import WORKLOADS, Ctx

# op classes whose latency is an end-to-end figure; a compaction is timed
# and reported apart, because a run holds only one or two
GATED = ("read", "search", "write", "step")
TIMED = (*GATED, "compact")
MIN_BEYOND = 10  # samples beyond the reported tail percentile


def tail(values: list[float]) -> tuple[float, float]:
    """(percentile, value): the highest percentile with at least
    ``MIN_BEYOND`` samples beyond it; the maximum when there are too few
    samples for any."""
    xs = sorted(values)
    n = len(xs)
    if n < 2 * MIN_BEYOND:
        return 100.0, xs[-1]
    q = 1 - MIN_BEYOND / n
    pos = q * (n - 1)
    lo = int(pos)
    frac = pos - lo
    v = xs[lo] + (xs[min(lo + 1, n - 1)] - xs[lo]) * frac
    return round(q * 100, 2), v


def end_to_end(ctx: Ctx) -> tuple[dict, dict]:
    """The gated metrics and the per-op-class detail behind them.

    ``op_p50_gmean_ms`` is the geometric mean, over the op kinds (facade
    method or batch step), of each kind's median latency: every kind
    weighs the same however many samples it has, so the figure does not
    jump between kinds the way the median of a mixed stream does.
    ``ops_per_s`` is completed ops per second of the client's time in
    them."""
    ok = [o for o in ctx.ops if o.cls in GATED and o.ok]
    by_kind: dict[str, list[float]] = {}
    for o in ok:
        by_kind.setdefault(o.kind, []).append(o.ms)
    kind_p50 = {k: statistics.median(v) for k, v in sorted(by_kind.items())}
    ok_ms = [o.ms for o in ok]
    pct, t = tail(ok_ms) if ok_ms else (0.0, 0.0)
    metrics = {
        "setup_s": statistics.median(ctx.setup_s),
        "op_p50_gmean_ms": statistics.geometric_mean(kind_p50.values()) if ok else 0.0,
        "ops_per_s": len(ok) / (sum(ok_ms) / 1e3) if ok else 0.0,
        "storage_bytes_per_user_byte": ctx.detail["storage_bytes_per_user_byte"],
    }
    # A run has fewer than 20 ops, so no percentile above the median has
    # 10 samples beyond it: the tail (the slowest op) is reported, not gated.
    detail = {
        "op_samples": len(ok_ms),
        "op_tail_pct": pct,
        "op_tail_ms": t,
        "kind_p50_ms": kind_p50,
        "kind_samples": {k: len(v) for k, v in sorted(by_kind.items())},
        "setup_reps_s": ctx.setup_s,
    }
    # the same figures per op class: read_p50_ms, search_tail_ms, ...
    for cls in TIMED:
        ms = [o.ms for o in ctx.ops if o.cls == cls and o.ok]
        if ms:
            cpct, ct = tail(ms)
            detail.update(
                {
                    f"{cls}_samples": len(ms),
                    f"{cls}_p50_ms": statistics.median(ms),
                    f"{cls}_tail_pct": cpct,
                    f"{cls}_tail_ms": ct,
                }
            )
    return metrics, detail


def summarize(ctx: Ctx) -> dict:
    """attempted/failed counts, end-to-end metrics and detail of a run.
    Every wrong or failed result was recorded once in ``ctx.failures``."""
    metrics, detail = end_to_end(ctx)
    attempted = len(ctx.ops) + ctx.extra_attempted
    failed = len(ctx.failures)
    detail.update(ctx.detail)
    detail["failed_ops_frac"] = failed / attempted
    detail["failures"] = ctx.failures[:10]
    return {"attempted": attempted, "failed": failed, "metrics": metrics, "detail": detail}


def per_layer(ctx: Ctx, spans: list[trace.Span], log: dict) -> dict:
    lm = trace.layer_metrics(spans, log, ctx.measure_span)
    out = {f"{L}.{f}": v for L in trace.LAYERS for f, v in lm[L].items()}
    window = trace.subtree(spans, {ctx.measure_span})
    names = [s.name for s in spans if s.id in window]
    builds = names.count("operators.search.build_search_index")
    lookups = names.count("operators.search.topk_cosine_indexed")
    c = ctx.counters
    rows_read = trace.stage_total(spans, log, trace.subtree(spans, ctx.read_spans) & window, "records_read")
    pairs = trace.stage_total(spans, log, trace.subtree(spans, ctx.search_spans) & window, "cross_join_rows")
    cand = c.get("candidate_pairs", 0)
    out.update(
        {
            "operators.search.index_builds": builds,
            "operators.search.index_hit_rate": max(0.0, 1 - builds / lookups) if lookups else 0.0,
            "operators.search.pairs_scored": pairs,
            "operators.reconstruct.deltas_folded": c.get("deltas_folded", 0),
            "operators.reconstruct.rows_scanned_per_row_returned": (
                rows_read / c["rows_returned"] if c.get("rows_returned") else 0.0
            ),
            "operators.ingest.rows_encoded": c.get("rows_encoded", 0),
            "api.table.files": c.get("table_files", 0),
            "api.table.bytes": c.get("table_bytes", 0),
            "operators.maintenance.bytes_rewritten": c.get("bytes_rewritten", 0),
            "operators.dedup.candidate_pairs": cand,
            "operators.dedup.verify_yield": c.get("verified_pairs", 0) / cand if cand else 0.0,
            "bench.unattributed_ms": lm["bench"]["self_ms"],
            "bench.window_ms": next(s.dur_s for s in spans if s.id == ctx.measure_span) * 1e3,
        }
    )
    return out


def jobs_per_call(spans: list[trace.Span], log: dict, root_id: int) -> dict:
    """Spark jobs per call of each facade method and each timed op class in
    the window (a job belongs to the span whose group ran it, and counts
    for every span above it)."""
    spans_by_id = {s.id: s for s in spans}
    window = trace.subtree(spans, {root_id})
    jobs_of = {}
    by_group = {s.group: s.id for s in spans}
    for job in log["jobs"].values():
        sid = by_group.get(job["group"])
        while sid is not None and sid in window:
            jobs_of[sid] = jobs_of.get(sid, 0) + 1
            sid = spans_by_id[sid].parent
    out: dict[str, dict] = {}
    for s in spans:
        if s.id in window and (s.name.startswith("api.") or s.name.startswith("bench.op.")):
            d = out.setdefault(s.name, {"calls": 0, "jobs": 0})
            d["calls"] += 1
            d["jobs"] += jobs_of.get(s.id, 0)
    return {k: {**v, "jobs_per_call": v["jobs"] / v["calls"]} for k, v in sorted(out.items())}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--work-dir", required=True)
    ap.add_argument("--out", required=True)
    a = ap.parse_args(argv)

    tracer = trace.Tracer(run_id=f"{a.workload}-{a.seed}", enabled=bool(a.trace))
    t0 = time.perf_counter()
    with tracer.span("session.get_spark", "session"):
        from temporal_vector_database_spark.session import get_spark

        spark = get_spark(f"perfbench-{a.workload}")
    session_start_s = time.perf_counter() - t0
    spark.sparkContext.setLogLevel("ERROR")
    tracer.attach(spark.sparkContext)
    if a.trace:
        trace.instrument(tracer)

    ctx = Ctx(spark=spark, tracer=tracer, work_dir=a.work_dir, seed=a.seed, seconds=a.seconds)
    try:
        WORKLOADS[a.workload](ctx)
    finally:
        spark.stop()

    result = summarize(ctx)
    result["detail"]["session_start_s"] = session_start_s
    if a.trace:
        spans = tracer.spans
        log = trace.read_event_logs(glob.glob(os.path.join(a.work_dir, "eventlog", "*")))
        result["per_layer"] = per_layer(ctx, spans, log)
        result["detail"]["jobs_per_call"] = jobs_per_call(spans, log, ctx.measure_span)
    with open(a.out, "w") as f:
        json.dump(result, f)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
