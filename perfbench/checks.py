"""Correctness checks against references the benchmark computes itself:
the seeded raw vectors, a numpy brute-force search, and the package's
DuckDB oracle SQL for the curation steps. A check returns ``None`` when
the output is right and a one-line reason when it is not."""

from __future__ import annotations

import os

import numpy as np

from perfbench.data import Timelines

COSINE_MIN = 0.995
SIM_TOL = 1e-9


def _cosine(a: np.ndarray, b: np.ndarray) -> float:
    return float(a @ b / (np.linalg.norm(a) * np.linalg.norm(b)))


def check_read(tl: Timelines, content: str, seq: int, got: dict | None) -> str | None:
    """A point read of ``content`` at ``seq``. It must fold from the
    governing base the promotion rules give; base rows must equal the raw
    vector bit for bit and chained rows must have cosine > 0.995 with it."""
    if got is None:
        return f"{content}@{seq}: no row"
    if got.get("target_seq") != seq:
        return f"{content}@{seq}: target_seq {got.get('target_seq')}"
    base, cost = got.get("base_seq"), got.get("cost")
    if base is None or cost != seq - base:
        return f"{content}@{seq}: base {base} cost {cost}"
    want = tl.governing_base(content, seq)
    if base != want:
        return f"{content}@{seq}: base {base}, expected {want}"
    truth = tl.vecs[content][seq - 1].astype(np.float64)
    emb = np.asarray(got["embedding"], dtype=np.float64)
    if emb.shape != truth.shape:
        return f"{content}@{seq}: dim {emb.shape}"
    if cost == 0:
        if not np.array_equal(emb, truth):
            return f"{content}@{seq}: base row differs from raw"
    elif _cosine(emb, truth) <= COSINE_MIN:
        return f"{content}@{seq}: cosine {_cosine(emb, truth):.4f}"
    return None


def asof_seq(tl: Timelines, content: str, t) -> int | None:
    """Inclusive as-of: the last sequence with ``ts <= t``."""
    seq = None
    for i, ts in enumerate(tl.times[content]):
        if ts <= t:
            seq = i + 1
    return seq


class BruteForce:
    """Exact cosine top-k over a fixed set of base vectors."""

    def __init__(self, bases: list[tuple[str, int, np.ndarray]]):
        self.ids = [(c, s) for c, s, _ in bases]
        m = np.stack([v.astype(np.float64) for _, _, v in bases])
        self.unit = m / np.linalg.norm(m, axis=1, keepdims=True)

    def sims(self, q: np.ndarray) -> np.ndarray:
        q = q.astype(np.float64)
        return self.unit @ (q / np.linalg.norm(q))

    def check(self, q: np.ndarray, got: list[tuple], k: int) -> str | None:
        """``got`` is [(content_id, seq, sim)] in rank order. Every hit's
        similarity must be exact, and the ranked similarities must equal
        the brute-force top-k (ties may come in any order)."""
        sims = self.sims(q)
        want = np.sort(sims[sims > 0])[::-1][:k]
        if len(got) != len(want):
            return f"search: {len(got)} hits, expected {len(want)}"
        pos = {cid: i for i, cid in enumerate(self.ids)}
        for rank, (c, s, sim) in enumerate(got):
            i = pos.get((c, s))
            if i is None:
                return f"search: hit {c}@{s} is not a base"
            if abs(sims[i] - sim) > SIM_TOL or abs(want[rank] - sim) > SIM_TOL:
                return f"search: rank {rank + 1} sim {sim}, expected {want[rank]}"
        return None


def check_written(n_written: int, n_sent: int) -> str | None:
    if n_written != n_sent:
        return f"add_versions wrote {n_written} rows of {n_sent}"
    return None


# -- curation oracles -----------------------------------------------------------


def _canon(rows, cols: list[str]) -> list[tuple]:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(repr(r[i]) for i in order) for r in rows)


class Oracles:
    """The package's DuckDB oracle SQL over the generated corpus files."""

    def __init__(self, corpus_dir: str):
        import duckdb

        # the raw SQL: these oracles read only the two corpus tables, and
        # ``oracle_map`` would generate the temporal fixtures for the
        # corpus directory as a side effect
        from temporal_vector_database_spark.plans.registry import ORACLES

        self.sql = ORACLES
        self._answers: dict[str, tuple[list, list]] = {}
        self.con = duckdb.connect()
        for t in ("documents", "embeddings"):
            p = os.path.join(corpus_dir, f"{t}.parquet")
            self.con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")

    def check(self, name: str, cols: list[str], rows: list[tuple]) -> str | None:
        if name not in self._answers:
            res = self.con.sql(self.sql[name])
            self._answers[name] = (list(res.columns), res.fetchall())
        ocols, orows = self._answers[name]
        if sorted(cols) != sorted(ocols):
            return f"{name}: columns {sorted(cols)} vs oracle {sorted(ocols)}"
        if _canon(rows, cols) != _canon(orows, ocols):
            return f"{name}: {len(rows)} rows differ from the oracle's {len(orows)}"
        return None

    def close(self) -> None:
        self.con.close()


def check_knn(vecs: np.ndarray, rows: list, k: int) -> tuple[str | None, float]:
    """nn_descent output (query_id, rank, vec_id, sim) over the quantized
    vectors: every similarity exact, ranks ordered, no self edges, at most
    ``k`` per node. Also returns recall against exact kNN (reported, not
    checked: the operator is approximate)."""
    q = np.floor(vecs.astype(np.float64) * 1024) / 1024
    unit = q / np.linalg.norm(q, axis=1, keepdims=True)
    by_q: dict[int, list] = {}
    for r in rows:
        by_q.setdefault(int(r.query_id), []).append(r)
    hits = 0
    for qid, rs in by_q.items():
        rs.sort(key=lambda r: r.rank)
        if len(rs) > k or [r.rank for r in rs] != list(range(1, len(rs) + 1)):
            return f"nn_descent: node {qid} ranks {[r.rank for r in rs]}", 0.0
        for r in rs:
            if r.vec_id == qid:
                return f"nn_descent: self edge at {qid}", 0.0
            want = float(unit[qid] @ unit[r.vec_id])
            if abs(want - r.sim) > SIM_TOL:
                return f"nn_descent: {qid}->{r.vec_id} sim {r.sim}, expected {want}", 0.0
        if any(a.sim < b.sim - SIM_TOL for a, b in zip(rs, rs[1:])):
            return f"nn_descent: node {qid} not ordered by sim", 0.0
        sims = unit @ unit[qid]
        sims[qid] = -np.inf
        exact = set(np.argsort(-sims)[:k].tolist())
        hits += len(exact & {int(r.vec_id) for r in rs})
    return None, hits / max(1, k * len(by_q))
