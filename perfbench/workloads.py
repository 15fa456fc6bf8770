"""The workloads. Each is one closed-loop client (one op in flight) on
one Spark session; every op is timed on its own and checked after the
clock stops.

Both measure whole rounds until ``--seconds`` have passed (at least one
round), so every run does the same mix of ops. ``online`` is the
application: a table loaded in set-up, then rounds of serving reads and
top-k search followed by a write cycle (an ``add_versions`` batch, reads
and a search of what was written), with a ``compact()`` after every
``COMPACT_EVERY``-th round, starting with the first. ``batch`` is the
data engineer: passes of whole-table timeline analytics and the
LLM-corpus curation steps.
"""

from __future__ import annotations

import os
import shutil
import time
from dataclasses import dataclass, field
from datetime import timedelta

import numpy as np

from perfbench import checks, data
from perfbench.trace import Tracer

# -- sizes ---------------------------------------------------------------------
DIM = 64
SETUP_REPS = 3
# online: 300 timelines x 12 versions
ONLINE_CONTENTS, ONLINE_VERSIONS = 300, 12
READ_OPS = ("get_version", "get_version_at_time", "get_latest_version", "get_version_by_id")
CONTINUED, CONTINUED_VERSIONS = 16, 2  # per write batch
NEW_CONTENTS, NEW_VERSIONS = 4, 3
COMPACT_EVERY, COMPACT_MAX_COST = 2, 4  # compact after rounds 1, 3, 5, ...
K = 5
# batch: 300 timelines x 12 versions; corpus of 400 documents, 400 vectors
BATCH_CONTENTS, BATCH_VERSIONS = 300, 12
ASOF_PROBES, BATCH_QUERIES = 200, 200
CORPUS_DOCS, CORPUS_VECS, DUP_SHARE = 400, 400, 0.1
FUNNEL_MIN_QUALITY, FUNNEL_MIN_JACCARD = 0.3, 1.0


@dataclass
class Op:
    cls: str  # read, search, write, compact, step, verify
    kind: str  # the facade method or batch step; the unit of the per-kind medians
    ms: float
    ok: bool
    error: str | None = None


@dataclass
class Ctx:
    spark: object
    tracer: Tracer
    work_dir: str
    seed: int
    seconds: float
    ops: list[Op] = field(default_factory=list)
    setup_s: list[float] = field(default_factory=list)
    detail: dict = field(default_factory=dict)
    counters: dict = field(default_factory=dict)
    failures: list[str] = field(default_factory=list)
    # checked results that are not timed ops (bulk loads, warm-up reads)
    extra_attempted: int = 0
    # spans of the timed ops whose rows are point reads / search scoring
    read_spans: set = field(default_factory=set)
    search_spans: set = field(default_factory=set)
    measure_span: int | None = None

    def count(self, name: str, n: float = 1) -> None:
        self.counters[name] = self.counters.get(name, 0) + n

    def run_op(self, cls: str, fn, check=None, kind: str | None = None, tag: set | None = None):
        """Time ``fn()`` as one op of class ``cls`` and kind ``kind``
        (default: the class), adding its span id to ``tag``; then, off the
        clock, ``check(result)`` returns ``None`` or the reason the result
        is wrong. A raised exception or a wrong result counts as a failed
        op."""
        kind = kind or cls
        with self.tracer.span(f"bench.op.{cls}", "bench", "bench") as sp:
            t0 = time.perf_counter()
            try:
                out = fn()
            except Exception as e:  # the loop must go on; the op is failed
                ms = (time.perf_counter() - t0) * 1e3
                self.ops.append(Op(cls, kind, ms, False, f"{kind}: {type(e).__name__}: {e}"[:300]))
                self.failures.append(self.ops[-1].error)
                return None
            ms = (time.perf_counter() - t0) * 1e3
        if sp is not None and tag is not None:
            tag.add(sp.id)
        err = check(out) if check is not None else None
        self.ops.append(Op(cls, kind, ms, err is None, err))
        if err is not None:
            self.failures.append(err)
        return out

    def fresh_dir(self, name: str) -> str:
        p = os.path.join(self.work_dir, name)
        shutil.rmtree(p, ignore_errors=True)
        return p


def repeat(seconds: float, one_round, clock=time.perf_counter) -> int:
    """Run ``one_round(i)`` for i = 0, 1, ... until ``seconds`` have passed
    since the first began, and at least once. Returns the rounds run."""
    start = clock()
    i = 0
    while True:
        one_round(i)
        i += 1
        if clock() - start >= seconds:
            return i


def table_files(path: str) -> tuple[int, int]:
    """(parquet files, bytes) of a table directory."""
    n = b = 0
    for root, _, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                n += 1
                b += os.path.getsize(os.path.join(root, f))
    return n, b


def _collect(ctx: Ctx, layer: str, df):
    """Force a built DataFrame: the ``execute`` span of a lazy operator."""
    with ctx.tracer.span(f"{layer}.execute", layer, "execute"):
        return df.collect()


# -- online ----------------------------------------------------------------------


def _seeded_read(tl: data.Timelines, op: str, db, rng):
    """One seeded point read of kind ``op``: (call, content, expected seq)."""
    contents = sorted(tl.vecs)
    content = contents[int(rng.integers(0, len(contents)))]
    n = len(tl.vecs[content])
    seq = int(rng.integers(1, n + 1))
    if op == "get_version":
        return (lambda: db.get_version(content, seq)), content, seq
    if op == "get_version_by_id":
        return (lambda: db.get_version_by_id(f"{content}_v{seq}")), content, seq
    if op == "get_latest_version":
        return (lambda: db.get_latest_version(content)), content, n
    # as-of a seeded instant between two stored versions
    t = tl.times[content][seq - 1] + timedelta(minutes=int(rng.integers(0, 60)))
    return (lambda: db.get_version_at_time(content, t)), content, checks.asof_seq(tl, content, t)


def _read(ctx: Ctx, tl: data.Timelines, fn, content: str, seq: int, kind: str) -> None:
    got = ctx.run_op(
        "read", fn, lambda got: checks.check_read(tl, content, seq, got), kind, ctx.read_spans
    )
    if got is not None:
        ctx.count("deltas_folded", got.get("cost") or 0)
        ctx.count("rows_returned")


def _search(ctx: Ctx, tl: data.Timelines, db, rng, kind: str, near: tuple[str, int] | None = None):
    if near is None:
        contents = sorted(tl.vecs)
        c = contents[int(rng.integers(0, len(contents)))]
        near = (c, int(rng.integers(1, len(tl.vecs[c]) + 1)))
    q = tl.vecs[near[0]][near[1] - 1] + rng.normal(size=tl.dim).astype(np.float32) / 8
    bf = checks.BruteForce(tl.bases())
    ctx.run_op(
        "search",
        lambda: db.search_similar_content([float(x) for x in q], k=K),
        lambda got: bf.check(q, got, K),
        kind,
        ctx.search_spans,
    )


def _serve(ctx: Ctx, tl: data.Timelines, db, rng) -> None:
    """Every read kind and one search, in seeded order."""
    for op in rng.permutation([*READ_OPS, "search"]):
        if op == "search":
            _search(ctx, tl, db, rng, "search")
        else:
            _read(ctx, tl, *_seeded_read(tl, str(op), db, rng), str(op))


def _write_cycle(ctx: Ctx, tl: data.Timelines, db, rng, first_new: int) -> None:
    """One ``add_versions`` batch, then reads and a search of what it
    wrote (the write invalidated the search index, so the search
    rebuilds it)."""
    contents = sorted(tl.vecs)
    picked = sorted(rng.choice(len(contents), size=CONTINUED, replace=False))
    rows = []
    for i in picked:
        rows += data.extend(tl, rng, contents[i], CONTINUED_VERSIONS)
    fresh = [f"c{first_new + j:05d}" for j in range(NEW_CONTENTS)]
    for c in fresh:
        rows += data.extend(tl, rng, c, NEW_VERSIONS)
    frame = data.to_frame(ctx.spark, rows)
    n = ctx.run_op(
        "write",
        lambda: db.add_versions(frame),
        lambda got: checks.check_written(got, len(rows)),
        "add_versions",
    )
    ctx.count("rows_encoded", n or 0)
    c_old, c_new = contents[int(picked[0])], fresh[0]
    _read(ctx, tl, lambda: db.get_latest_version(c_old), c_old, len(tl.vecs[c_old]),
          "get_latest_version@write")
    _read(ctx, tl, lambda: db.get_version(c_new, 2), c_new, 2, "get_version@write")
    _search(ctx, tl, db, rng, "search@write", near=(c_new, NEW_VERSIONS))


def run_online(ctx: Ctx) -> None:
    from temporal_vector_database_spark.api import TemporalVectorDatabase

    spark, tracer = ctx.spark, ctx.tracer
    with tracer.span("bench.setup", "bench", "bench"):
        for rep in range(SETUP_REPS):
            t0 = time.perf_counter()
            tl, rows = data.make_timelines(ctx.seed, ONLINE_CONTENTS, ONLINE_VERSIONS, DIM)
            path = ctx.fresh_dir(f"online_table_{rep}")
            db = TemporalVectorDatabase(spark, path)
            n = db.add_versions(data.to_frame(spark, rows))
            ctx.setup_s.append(time.perf_counter() - t0)
            ctx.extra_attempted += 1
            err = checks.check_written(n, len(rows))
            if err:
                ctx.failures.append(f"setup: {err}")
    files, nbytes = table_files(db.table_path)
    ctx.detail["table_rows"] = tl.n_rows()
    ctx.detail["storage_bytes_per_user_byte"] = nbytes / tl.raw_bytes()
    rng = np.random.default_rng(ctx.seed + 1)

    with tracer.span("bench.warmup", "bench", "bench"):
        t0 = time.perf_counter()
        _serve(ctx, tl, db, rng)
        ctx.extra_attempted += len(ctx.ops)
        ctx.ops.clear()
        ctx.counters.clear()
        ctx.detail["warmup_s"] = time.perf_counter() - t0

    def one_round(i: int) -> None:
        _serve(ctx, tl, db, rng)
        _write_cycle(ctx, tl, db, rng, ONLINE_CONTENTS + i * NEW_CONTENTS)
        if i % COMPACT_EVERY == 0:
            want = tl.compact(COMPACT_MAX_COST)
            ctx.run_op(
                "compact",
                lambda: db.compact(max_cost=COMPACT_MAX_COST),
                lambda got: None if got == want else f"compact promoted {got}, expected {want}",
            )
            ctx.count("bytes_rewritten", table_files(db.table_path)[1])

    with tracer.span("bench.measure", "bench", "bench") as root:
        ctx.measure_span = root.id if root else None
        start = time.perf_counter()
        ctx.detail["rounds"] = repeat(ctx.seconds, one_round)
        ctx.detail["measure_s"] = time.perf_counter() - start
    files, nbytes = table_files(db.table_path)
    ctx.counters["table_files"] = files
    ctx.counters["table_bytes"] = nbytes
    ctx.detail["storage_bytes_per_user_byte_end"] = nbytes / tl.raw_bytes()

    with tracer.span("bench.check", "bench", "bench"):
        # the whole table, off the clock: every stored row accounted for
        got = db.versions().count()
        err = None if got == tl.n_rows() else f"table holds {got} rows, expected {tl.n_rows()}"
        ctx.ops.append(Op("verify", "verify", 0.0, err is None, err))
        if err:
            ctx.failures.append(err)


# -- batch -------------------------------------------------------------------------


def _quantized(spark, corpus_dir: str):
    from pyspark.sql import functions as F

    # the same input the package's nn_descent oracle is written for
    return spark.read.parquet(os.path.join(corpus_dir, "embeddings.parquet")).select(
        "vec_id",
        F.transform(
            F.col("embedding").cast("array<double>"), lambda x: F.floor(x * 1024) / 1024
        ).alias("embedding"),
    )


def run_batch(ctx: Ctx) -> None:
    from pyspark.sql import functions as F

    from temporal_vector_database_spark.api import TemporalVectorDatabase
    from temporal_vector_database_spark.operators import dedup as D
    from temporal_vector_database_spark.operators import integrity as I
    from temporal_vector_database_spark.operators import pipeline as P
    from temporal_vector_database_spark.operators import reconstruct as R
    from temporal_vector_database_spark.operators import search as S
    from temporal_vector_database_spark.operators import stats as ST
    from temporal_vector_database_spark.operators import tokenize as T

    spark, tracer = ctx.spark, ctx.tracer
    with tracer.span("bench.setup", "bench", "bench"):
        for rep in range(SETUP_REPS):
            t0 = time.perf_counter()
            tl, rows = data.make_timelines(ctx.seed, BATCH_CONTENTS, BATCH_VERSIONS, DIM)
            path = ctx.fresh_dir(f"batch_table_{rep}")
            db = TemporalVectorDatabase(spark, path)
            n = db.add_versions(data.to_frame(spark, rows))
            corpus = ctx.fresh_dir(f"corpus_{rep}")
            _, emb_vecs = data.make_corpus(ctx.seed, corpus, CORPUS_DOCS, CORPUS_VECS, DUP_SHARE)
            ctx.setup_s.append(time.perf_counter() - t0)
            ctx.extra_attempted += 1
            err = checks.check_written(n, len(rows))
            if err:
                ctx.failures.append(f"setup: {err}")
    files, nbytes = table_files(db.table_path)
    ctx.counters["table_files"], ctx.counters["table_bytes"] = files, nbytes
    ctx.detail["table_rows"] = tl.n_rows()
    ctx.detail["storage_bytes_per_user_byte"] = nbytes / tl.raw_bytes()

    rng = np.random.default_rng(ctx.seed + 2)
    contents = sorted(tl.vecs)
    probes = []
    for i in range(ASOF_PROBES):
        c = contents[int(rng.integers(0, len(contents)))]
        s = int(rng.integers(1, len(tl.vecs[c]) + 1))
        probes.append((i, c, tl.times[c][s - 1] + timedelta(minutes=int(rng.integers(0, 60)))))
    probe_df = spark.createDataFrame(probes, "probe_id int, content_id string, t timestamp")
    qvecs = rng.normal(size=(BATCH_QUERIES, DIM)).astype(np.float32)
    query_df = spark.createDataFrame(
        [(i, [float(x) for x in q]) for i, q in enumerate(qvecs)],
        "query_id int, embedding array<double>",
    )
    docs_path = os.path.join(corpus, "documents.parquet")

    def versions():
        return db.versions()

    timeline = [
        ("reconstruct_all", "operators.reconstruct",
         lambda: R.reconstruct_all(versions()).select(
             "content_id", "target_seq", "base_seq", "cost", "embedding")),
        ("reconstruct_asof", "operators.reconstruct",
         lambda: R.reconstruct_asof(versions(), probe_df).select(
             "probe_id", "content_id", "target_seq", "base_seq", "cost", "embedding")),
        ("search_batch", "operators.search",
         lambda: S.topk_cosine_indexed(S.build_search_index(versions()), query_df, k=K)),
        ("integrity", "operators.integrity", lambda: I.validate_timeline_integrity(versions())),
        ("database_stats", "operators.stats", lambda: ST.database_statistics(versions())),
    ]
    curation = [
        ("curation_funnel", "operators.pipeline",
         lambda: P.curation_report(
             spark.read.parquet(docs_path),
             min_quality=FUNNEL_MIN_QUALITY,
             min_jaccard_est=FUNNEL_MIN_JACCARD,
         )),
        ("tokenizer_fertility", "operators.tokenize", lambda: _fertility(spark, docs_path, T)),
        ("cross_corpus_near_dup_exact", "operators.dedup", lambda: _cross_corpus(spark, docs_path, D, F)),
        ("nn_descent", "operators.search",
         lambda: S.nn_descent(_quantized(spark, corpus), k=K, rounds=2, nprobe=2)),
    ]
    steps = timeline + curation
    results: list[tuple[int, str, list, list]] = []

    tags = {"operators.reconstruct": ctx.read_spans, "operators.search": ctx.search_spans}

    def one_pass(i: int) -> None:
        for name, layer, build in steps:

            def step(build=build, layer=layer):
                df = build()
                return df.columns, _collect(ctx, layer, df)

            out = ctx.run_op("step", step, kind=name, tag=tags.get(layer))
            if out is not None:
                results.append((len(ctx.ops) - 1, name, *out))

    with tracer.span("bench.measure", "bench", "bench") as root:
        ctx.measure_span = root.id if root else None
        start = time.perf_counter()
        ctx.detail["passes"] = repeat(ctx.seconds, one_pass)
        ctx.detail["measure_s"] = time.perf_counter() - start
    first = [o.ms / 1e3 for o in ctx.ops[: len(steps)]]
    ctx.detail["batch_wall_s"] = sum(first[: len(timeline)])
    ctx.detail["curation_wall_s"] = sum(first[len(timeline):])

    t_check = time.perf_counter()
    with tracer.span("bench.check", "bench", "bench"):
        oracles = checks.Oracles(corpus)
        bf = checks.BruteForce(tl.bases())
        try:
            for i, name, cols, rows in results:
                err = _check_step(ctx, tl, bf, oracles, probes, qvecs, emb_vecs, name, cols, rows)
                if err:
                    ctx.failures.append(err)
                    ctx.ops[i].ok, ctx.ops[i].error = False, err
        finally:
            oracles.close()
    ctx.detail["check_s"] = time.perf_counter() - t_check
    if tracer.enabled:
        _dedup_yield(ctx, spark, docs_path, D)


def _fertility(spark, docs_path: str, T):
    docs = spark.read.parquet(docs_path).select("doc_id", "text", "source")
    return T.tokenizer_fertility(docs, T.bpe_train(docs, n_merges=8))


def _cross_corpus(spark, docs_path: str, D, F):
    docs = spark.read.parquet(docs_path)
    ev = docs.where(F.col("doc_id") % 25 == 0).select("doc_id", F.expr("substring(text, 21)").alias("text"))
    return D.cross_corpus_jaccard_exact(docs, ev, width=7, min_jaccard=0.5)


ORACLE_OF = {
    "curation_funnel": "training_pipeline_strict",
    "tokenizer_fertility": "tokenizer_fertility",
    "cross_corpus_near_dup_exact": "cross_corpus_near_dup_exact",
}


def _check_step(ctx, tl, bf, oracles, probes, qvecs, emb_vecs, name, cols, rows):
    if name in ("reconstruct_all", "reconstruct_asof"):
        want_n = tl.n_rows() if name == "reconstruct_all" else len(probes)
        if len(rows) != want_n:
            return f"{name}: {len(rows)} rows, expected {want_n}"
        by_probe = {p[0]: p for p in probes}
        for r in rows:
            d = r.asDict()
            d["embedding"] = list(d["embedding"])
            seq = d["target_seq"]
            if name == "reconstruct_asof":
                _, c, t = by_probe[d["probe_id"]]
                seq = checks.asof_seq(tl, c, t)
            err = checks.check_read(tl, d["content_id"], seq, d)
            if err:
                return f"{name}: {err}"
            ctx.count("deltas_folded", d["cost"])
            ctx.count("rows_returned")
        return None
    if name == "search_batch":
        by_q: dict[int, list] = {}
        for r in rows:
            by_q.setdefault(r.query_id, []).append(r)
        for qi, q in enumerate(qvecs):
            got = sorted(by_q.get(qi, []), key=lambda r: r.rank)
            err = bf.check(q, [(r.content_id, r.seq, r.sim) for r in got], K)
            if err:
                return f"{name} q{qi}: {err}"
        return None
    if name == "integrity":
        bad = [r.content_id for r in rows if not r.valid]
        if len(rows) != len(tl.vecs) or bad:
            return f"integrity: {len(rows)} rows, invalid {bad[:3]}"
        return None
    if name == "database_stats":
        d = rows[0].asDict() if rows else {}
        want_bases = sum(len(b) for b in tl.base_seqs.values())
        got = (d.get("total_contents"), d.get("total_base_snapshots"), d.get("total_deltas"))
        want = (len(tl.vecs), want_bases, tl.n_rows() - want_bases)
        return None if got == want else f"database_stats: {got}, expected {want}"
    if name == "nn_descent":
        err, recall = checks.check_knn(emb_vecs, rows, K)
        ctx.detail["nn_descent_recall"] = recall
        return err
    oracle = ORACLE_OF[name]
    return oracles.check(oracle, cols, [tuple(r) for r in rows])


def _dedup_yield(ctx: Ctx, spark, docs_path: str, D) -> None:
    """LSH filter/verify split of the funnel's dedup, from the package:
    its join-based ``near_duplicate_pairs`` with no verify threshold lists
    every candidate pair (the pairs that share a band) of the documents
    the funnel's quality and language filter keeps, with their estimated
    Jaccard; the verified pairs are those that pass the funnel's
    ``min_jaccard_est``. Computed off the clock in the traced run, because
    the funnel's own bucket verifier never materializes the candidates."""
    from pyspark.sql import functions as F

    from temporal_vector_database_spark.functions.text import with_text_stats
    from temporal_vector_database_spark.operators import pipeline as P

    kept = (
        with_text_stats(spark.read.parquet(docs_path).select("doc_id", "text"), "text")
        .where((F.col("quality_r") >= FUNNEL_MIN_QUALITY) & (F.col("predicted_lang") != "und"))
        .select("doc_id", "text")
    )
    pairs = D.near_duplicate_pairs(
        kept, "text", P.DEDUP_NUM_HASHES, P.DEDUP_BANDS, P.DEDUP_WIDTH,
        min_jaccard_est=0.0, verify="join",
    ).collect()
    ctx.counters["candidate_pairs"] = len(pairs)
    ctx.counters["verified_pairs"] = sum(r.est_jaccard >= FUNNEL_MIN_JACCARD for r in pairs)


WORKLOADS = {"online": run_online, "batch": run_batch}
