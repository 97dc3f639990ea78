"""Seeded input generators for the benchmark workloads.

Everything here is a pure function of the seed: the same seed writes
byte-identical parquet files.  The program under test only ever sees these
files.  The generators live with the benchmark, not in ``scripts/``, so a
change to the program's own data tools can never shift benchmark inputs.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

N_LABELS = 100  # labels 0..99: a `label <= L` filter keeps (L+1)% of rows


class VectorSet:
    """Gaussian blobs: a corpus and a query pool drawn from the same mixture,
    plus uniform integer labels for filtered search."""

    def __init__(self, seed: int, n: int, n_queries: int, dim: int, centers: int = 32):
        rng = np.random.default_rng(seed)
        self.centers = rng.normal(size=(centers, dim)) * 4.0
        self.rng = rng
        self.X = self.draw(n)
        self.ids = np.arange(n, dtype=np.int64)
        self.labels = rng.integers(0, N_LABELS, n).astype(np.int32)
        self.Q = self.draw(n_queries)
        self.qlabels = rng.integers(0, N_LABELS, n_queries).astype(np.int32)

    def draw(self, m: int) -> np.ndarray:
        c = self.rng.integers(0, len(self.centers), m)
        noise = self.rng.normal(size=(m, self.centers.shape[1]))
        return (self.centers[c] + noise).astype(np.float32)


def vec_array(X: np.ndarray) -> pa.Array:
    """(n, d) float32 -> Arrow list<float> without per-row Python objects."""
    n, d = X.shape
    offsets = pa.array(np.arange(0, (n + 1) * d, d, dtype=np.int32))
    return pa.ListArray.from_arrays(offsets, pa.array(X.reshape(-1), pa.float32()))


def write_vectors(path: str, ids, X, labels=None, *, id_col="id", extra=None) -> None:
    cols = {id_col: pa.array(ids, pa.int64()), "vec": vec_array(X)}
    if labels is not None:
        cols["label"] = pa.array(labels, pa.int32())
    cols.update(extra or {})
    pq.write_table(pa.table(cols), path)


# ---------------------------------------------------------------- declared mix
# Schemas follow the shipped test tables the declared queries were written
# for (TESTDATA.md): a 31-word vocabulary, 10-100-word documents with planted
# exact and near duplicates, and a TPC-H-style lineitem.

VOCAB = ("spark line column order small sort fast value scan hash slow group "
         "batch part query agg table stream key window join vector filter "
         "customer the a g text doc index").split()
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]


def write_documents(path: str, seed: int, n_docs: int) -> None:
    rng = np.random.default_rng(seed)
    lens = rng.integers(10, 101, n_docs)
    words = np.array(VOCAB)[rng.integers(0, len(VOCAB), int(lens.sum()))]
    bounds = np.concatenate([[0], np.cumsum(lens)])
    texts = [" ".join(words[bounds[i]:bounds[i + 1]]) for i in range(n_docs)]
    # 2% exact copies and 3% near copies (~2% of tokens swapped), so the
    # dedup queries find groups to merge.
    n_exact, n_near = n_docs // 50, 3 * n_docs // 100
    victims = rng.choice(n_docs, n_exact + n_near, replace=False)
    sources = rng.integers(0, n_docs, n_exact + n_near)
    for v, s in zip(victims[:n_exact], sources[:n_exact]):
        texts[v] = texts[s]
    for v, s in zip(victims[n_exact:], sources[n_exact:]):
        tk = texts[s].split()
        for i in np.flatnonzero(rng.random(len(tk)) < 0.02):
            tk[i] = VOCAB[rng.integers(0, len(VOCAB))]
        texts[v] = " ".join(tk)
    pq.write_table(pa.table({
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": texts,
        "lang": np.array(LANGS)[rng.choice(5, n_docs, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }), path)


def write_lineitem(path: str, seed: int, n_rows: int) -> None:
    rng = np.random.default_rng(seed + 1)
    pq.write_table(pa.table({
        "l_orderkey": pa.array(rng.integers(0, max(1, n_rows // 4), n_rows), pa.int64()),
        "l_quantity": rng.integers(1, 51, n_rows).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900, 105000, n_rows), 2),
        "l_discount": np.round(rng.integers(0, 11, n_rows) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, n_rows) / 100.0, 2),
        "l_returnflag": np.array(["R", "A", "N"])[rng.integers(0, 3, n_rows)],
        "l_linestatus": np.array(["O", "F"])[rng.integers(0, 2, n_rows)],
    }), path)
