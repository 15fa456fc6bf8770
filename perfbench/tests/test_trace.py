"""The event-log parser, the span tree and the result accounting, without
a Spark session."""

import os

import numpy as np

from perfbench import checks, data, trace
from perfbench.worker import summarize, tail
from perfbench.workloads import Ctx, Op, repeat

HERE = os.path.dirname(os.path.abspath(__file__))


def _spans():
    # ms timestamps in the log; spans use seconds
    def s(i, name, layer, kind, parent, start, end):
        return trace.Span(i, name, layer, kind, parent, "r", start / 1e3, end / 1e3)

    spans = [
        s(0, "bench.measure", "bench", "bench", None, 900, 1500),
        s(1, "api.get_version", "api", "call", 0, 950, 1250),
        s(2, "operators.reconstruct.reconstruct_at", "operators.reconstruct", "build", 1, 960, 990),
        s(3, "operators.search.execute", "operators.search", "execute", 0, 1290, 1360),
    ]
    for sp in spans[1:]:
        spans[sp.parent].children_s += sp.dur_s
    return spans


def test_tiny_event_log_parses_into_span_metrics():
    with open(os.path.join(HERE, "data", "tiny_eventlog.jsonl")) as f:
        log = trace.parse_event_log(f)
    assert sorted(log["jobs"]) == [0, 1, 2, 3]
    assert log["stages"][0]["tasks"] == 2 and log["stages"][0]["python_run_ms"] == 7

    m = trace.layer_metrics(_spans(), log, root_id=0)
    api = m["api"]
    assert (api["calls"], api["jobs"], api["stages"], api["tasks"]) == (1, 2, 2, 3)
    assert api["job_gap_ms"] == 40  # job 1 submitted 40 ms after job 0 ended
    assert api["executor_run_ms"] == 35 and api["shuffle_write_bytes"] == 200
    assert api["python_run_ms"] == 7
    assert abs(api["self_ms"] - 270) < 1e-6  # 300 ms minus the 30 ms build child
    rec = m["operators.reconstruct"]
    assert (rec["calls"], rec["jobs"]) == (1, 0) and abs(rec["build_ms"] - 30) < 1e-6
    srch = m["operators.search"]
    # an execute span is not a call, but its jobs and tasks are the layer's
    assert (srch["calls"], srch["jobs"], srch["tasks"], srch["shuffle_write_bytes"]) == (0, 1, 3, 90)
    sess = m["session"]
    # totals over the window only: the job of group "other/9" is outside it
    assert (sess["jobs"], sess["stages"], sess["tasks"]) == (3, 3, 6)
    assert sess["executor_run_ms"] == 56 and sess["job_gap_ms"] == 40
    # the benchmark's own time is what no layer accounts for
    assert abs(m["bench"]["self_ms"] - (600 - 300 - 70)) < 1e-6
    assert trace.stage_total(_spans(), log, trace.subtree(_spans(), {1}), "records_read") == 100
    # rows out of the cross join the SQL plan names, not of other nodes
    assert trace.stage_total(_spans(), log, {3}, "cross_join_rows") == 120
    assert trace.stage_total(_spans(), log, {1}, "cross_join_rows") == 0


def test_tracer_nests_spans_and_restores_parent():
    t = trace.Tracer("run")
    with t.span("bench.measure", "bench", "bench") as root:
        with t.span("api.get_version", "api") as a:
            with t.span("operators.reconstruct.reconstruct_at", "operators.reconstruct") as b:
                pass
        with t.span("api.compact", "api"):
            pass
    assert (a.parent, b.parent) == (root.id, a.id)
    assert [s.group for s in t.spans] == ["run/0", "run/1", "run/2", "run/3"]
    assert root.children_s >= a.dur_s
    off = trace.Tracer("run", enabled=False)
    with off.span("x", "api") as sp:
        assert sp is None
    assert off.spans == []


def test_instrument_wraps_every_layer_and_restores():
    from temporal_vector_database_spark import api
    from temporal_vector_database_spark.operators import reconstruct, search

    orig_at = reconstruct.reconstruct_at
    orig_get = api.TemporalVectorDatabase.get_version
    restore = trace.instrument(trace.Tracer("run"))
    try:
        assert reconstruct.reconstruct_at.__wrapped__ is orig_at
        # the facade calls R.reconstruct_at through the module: wrapped too
        assert api.R.reconstruct_at is reconstruct.reconstruct_at
        assert api.TemporalVectorDatabase.get_version.__wrapped__ is orig_get
        assert hasattr(search.build_search_index, "__wrapped__")
        # pickled by reference: same module and qualified name as the original
        assert reconstruct.reconstruct_at.__qualname__ == orig_at.__qualname__
    finally:
        restore()
    assert reconstruct.reconstruct_at is orig_at
    assert api.TemporalVectorDatabase.get_version is orig_get


def test_tail_is_highest_percentile_with_ten_samples_beyond():
    assert tail([5.0, 1.0, 3.0]) == (100.0, 5.0)
    pct, v = tail([float(i) for i in range(1, 41)])
    assert pct == 75.0 and abs(v - 30.25) < 1e-9
    assert sum(x > v for x in range(1, 41)) >= 10


def _ctx():
    ctx = Ctx(spark=None, tracer=trace.Tracer("r", enabled=False), work_dir="", seed=0, seconds=1)
    ctx.setup_s = [1.0, 2.0, 3.0]
    ctx.detail.update({"measure_s": 2.0, "storage_bytes_per_user_byte": 1.5})
    return ctx


def test_injected_wrong_answer_counts_as_failed():
    tl, _ = data.make_timelines(seed=3, n_contents=2, n_versions=12, dim=16)
    c = "c00000"
    right = {"target_seq": 11, "base_seq": 11, "cost": 0, "embedding": list(tl.vecs[c][10])}
    chained = {"target_seq": 12, "base_seq": 11, "cost": 1, "embedding": list(tl.vecs[c][11])}
    wrong = dict(right, embedding=list(tl.vecs[c][10] + np.float32(1e-3)))
    ctx = _ctx()
    ctx.run_op("read", lambda: right, lambda got: checks.check_read(tl, c, 11, got))
    ctx.run_op("read", lambda: chained, lambda got: checks.check_read(tl, c, 12, got))
    ctx.run_op("read", lambda: wrong, lambda got: checks.check_read(tl, c, 11, got))
    res = summarize(ctx)
    assert (res["attempted"], res["failed"]) == (3, 1)
    assert res["detail"]["failed_ops_frac"] == 1 / 3
    assert "differs from raw" in res["detail"]["failures"][0]
    # a failed op's latency is not an end-to-end sample
    assert res["detail"]["read_samples"] == 2


def test_raised_op_and_wrong_search_count_as_failed():
    tl, _ = data.make_timelines(seed=4, n_contents=5, n_versions=12, dim=8)
    bf = checks.BruteForce(tl.bases())
    q = tl.vecs["c00002"][0]
    sims = bf.sims(q)
    order = np.argsort(-sims)
    right = [(*bf.ids[i], float(sims[i])) for i in order[:3] if sims[i] > 0]
    assert bf.check(q, right, 3) is None
    assert bf.check(q, right[::-1], 3) is not None
    ctx = _ctx()
    ctx.run_op("search", lambda: 1 / 0)
    res = summarize(ctx)
    assert (res["attempted"], res["failed"]) == (1, 1)
    assert "ZeroDivisionError" in res["detail"]["failures"][0]


def test_compaction_model_matches_advisor_rule():
    tl, _ = data.make_timelines(seed=5, n_contents=1, n_versions=12, dim=8)
    assert tl.base_seqs["c00000"] == [1, 11]
    assert tl.compact(max_cost=4) == 5  # seqs 6..10 are more than 4 deltas from base 1
    assert tl.base_seqs["c00000"] == [1, 6, 7, 8, 9, 10, 11]
    assert tl.governing_base("c00000", 12) == 11


def test_repeat_runs_whole_rounds_until_the_seconds_pass():
    now = [0.0]
    done = []

    def one_round(i):
        done.append(i)
        now[0] += 4.0

    assert repeat(10, one_round, clock=lambda: now[0]) == 3
    assert done == [0, 1, 2]
    now[0] = 0.0
    assert repeat(0.5, one_round, clock=lambda: now[0]) == 1  # always one round


def test_op_latency_is_geometric_mean_of_kind_medians():
    ctx = _ctx()
    for kind, ms in [("a", 100.0), ("a", 300.0), ("a", 200.0), ("b", 800.0)]:
        ctx.ops.append(Op("read", kind, ms, True))
    ctx.ops.append(Op("compact", "compact", 5000.0, True))  # timed apart, not gated
    res = summarize(ctx)
    assert abs(res["metrics"]["op_p50_gmean_ms"] - 400) < 1e-9  # sqrt(200 * 800)
    assert abs(res["metrics"]["ops_per_s"] - 4 / 1.4) < 1e-9
    assert res["detail"]["compact_p50_ms"] == 5000.0
