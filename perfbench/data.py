"""Seeded inputs. The same seed gives the same inputs; the package only
ever sees the generated frames and files.

Timelines follow the engine's storage model: each content is a run of
embeddings where each version changes a few dimensions by at least
``STEP`` (well above the encoder's 0.01 sparsity threshold, so every
change is stored and a chained read is exact up to float rounding). The
changed-dimension share stays far below the 0.7 promotion threshold, so
with the default policy the bases sit exactly at ``seq = 1, 11, 21, ...``.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field
from datetime import datetime, timedelta

import numpy as np

T0 = datetime(2025, 1, 1)
STEP = 1 / 16
INTERVAL = 10  # DEFAULT_CONFIG.base_snapshot_interval


def interval_base(seq: int) -> int:
    """The governing base of ``seq`` under the interval rule alone."""
    return 1 + INTERVAL * ((seq - 1) // INTERVAL)


@dataclass
class Timelines:
    """Ground truth for every stored version: raw float32 vectors and
    timestamps per content, in sequence order (``vecs[c][seq - 1]``), and
    the sequence numbers stored as bases."""

    dim: int
    vecs: dict[str, list[np.ndarray]] = field(default_factory=dict)
    times: dict[str, list[datetime]] = field(default_factory=dict)
    base_seqs: dict[str, list[int]] = field(default_factory=dict)

    def n_rows(self) -> int:
        return sum(len(v) for v in self.vecs.values())

    def raw_bytes(self) -> int:
        return self.n_rows() * self.dim * 4

    def governing_base(self, content: str, seq: int) -> int:
        return max(b for b in self.base_seqs[content] if b <= seq)

    def bases(self) -> list[tuple[str, int, np.ndarray]]:
        """(content, seq, vector) of every stored base: the search index."""
        return [(c, s, self.vecs[c][s - 1]) for c, bs in self.base_seqs.items() for s in bs]

    def compact(self, max_cost: int) -> int:
        """Apply the advisor's rule: every version more than ``max_cost``
        deltas from its base becomes a base. Returns the promotions."""
        n = 0
        for c, bs in self.base_seqs.items():
            promote = [
                s
                for s in range(1, len(self.vecs[c]) + 1)
                if s - self.governing_base(c, s) > max_cost
            ]
            bs.extend(promote)
            bs.sort()
            n += len(promote)
        return n


def _next_vec(rng: np.random.Generator, v: np.ndarray, n_dims: int) -> np.ndarray:
    out = v.copy()
    dims = rng.choice(v.shape[0], size=n_dims, replace=False)
    out[dims] += (rng.integers(1, 4, size=n_dims) * rng.choice([-1, 1], size=n_dims) * STEP).astype(
        np.float32
    )
    return out


def new_content(rng: np.random.Generator, dim: int) -> np.ndarray:
    return (rng.normal(size=dim) / 4).astype(np.float32)


def extend(
    tl: Timelines,
    rng: np.random.Generator,
    content: str,
    n_new: int,
    start: datetime | None = None,
) -> list[tuple[str, int, datetime, np.ndarray]]:
    """Append ``n_new`` versions to ``content`` (a new content starts from
    a random vector). Returns the raw rows (content, seq, ts, vector)."""
    vs = tl.vecs.setdefault(content, [])
    ts = tl.times.setdefault(content, [])
    bs = tl.base_seqs.setdefault(content, [])
    rows = []
    n_dims = max(1, tl.dim // 16)
    for _ in range(n_new):
        v = new_content(rng, tl.dim) if not vs else _next_vec(rng, vs[-1], n_dims)
        if ts:
            t = ts[-1] + timedelta(hours=1, minutes=int(rng.integers(0, 60)))
        else:
            t = (start or T0) + timedelta(minutes=int(rng.integers(0, 600)))
        vs.append(v)
        ts.append(t)
        if interval_base(len(vs)) == len(vs):
            bs.append(len(vs))
        rows.append((content, len(vs), t, v))
    return rows


def make_timelines(
    seed: int, n_contents: int, n_versions: int, dim: int, prefix: str = "c"
) -> tuple[Timelines, list]:
    rng = np.random.default_rng(seed)
    tl = Timelines(dim=dim)
    rows = []
    for i in range(n_contents):
        rows += extend(tl, rng, f"{prefix}{i:05d}", n_versions)
    return tl, rows


def to_frame(spark, rows):
    """Raw rows as the write path's input frame."""
    import pandas as pd

    pdf = pd.DataFrame(
        {
            "content_id": [r[0] for r in rows],
            "ts": [r[2] for r in rows],
            "embedding": [r[3].astype(np.float64) for r in rows],
        }
    )
    return spark.createDataFrame(pdf, "content_id string, ts timestamp, embedding array<double>")


# -- LLM corpus ---------------------------------------------------------------

# the vocabulary and shape of the synthetic ``documents`` table the
# package's curation operators and their oracles are written against
VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANGS = ("en", "zh", "es", "fr", "de")


def make_corpus(seed: int, out_dir: str, n_docs: int, n_emb: int, dup_share: float, dim: int = 64):
    """Write ``documents.parquet`` and ``embeddings.parquet`` (the schemas
    ``sources/tables.py`` reads) into ``out_dir``. ``dup_share`` of the documents are
    near-duplicates of an earlier one (one word replaced)."""
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(seed)
    texts: list[str] = []
    for i in range(n_docs):
        if i > 10 and rng.random() < dup_share:
            words = texts[int(rng.integers(0, i))].split()
            words[int(rng.integers(0, len(words)))] = "dup"
            texts.append(" ".join(words))
        else:
            texts.append(" ".join(rng.choice(VOCAB, size=int(rng.integers(10, 101)))))
    docs = pd.DataFrame(
        {
            "doc_id": np.arange(n_docs, dtype=np.int64),
            "text": texts,
            "lang": np.array(LANGS)[rng.choice(len(LANGS), size=n_docs)],
            "source": [f"src{i % 20}" for i in range(n_docs)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )
    v = rng.normal(size=(n_emb, dim)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    emb = pd.DataFrame(
        {
            "vec_id": np.arange(n_emb, dtype=np.int64),
            "embedding": list(v),
            "label": rng.integers(0, 10, size=n_emb).astype(np.int32),
        }
    )
    os.makedirs(out_dir, exist_ok=True)
    pq.write_table(pa.Table.from_pandas(docs, preserve_index=False), os.path.join(out_dir, "documents.parquet"))
    pq.write_table(pa.Table.from_pandas(emb, preserve_index=False), os.path.join(out_dir, "embeddings.parquet"))
    return docs, v
