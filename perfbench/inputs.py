"""Seeded input generation. Every input the program sees is a pure function
of ``(seed, purpose, index)``, so the same seed gives byte-identical inputs
and the program never chooses its own data.
"""

from __future__ import annotations

import zlib

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DIM = 64


def rng(seed: int, purpose: str, *index: int) -> np.random.Generator:
    """An independent stream per purpose, so adding one input leaves the
    others' bytes unchanged."""
    return np.random.default_rng([int(seed), zlib.crc32(purpose.encode()), *map(int, index)])


def centers(seed: int, n_clusters: int = 32, dim: int = DIM) -> np.ndarray:
    return (rng(seed, "centers").normal(size=(n_clusters, dim)) * 2.0).astype(np.float32)


def clustered(seed: int, purpose: str, n: int, *index: int, dim: int = DIM) -> np.ndarray:
    """``n`` float32 vectors around the seed's shared cluster centres."""
    c = centers(seed, dim=dim)
    r = rng(seed, purpose, *index)
    return (c[r.integers(0, len(c), n)] + r.normal(size=(n, dim)).astype(np.float32)).astype(np.float32)


def queries_near(seed: int, purpose: str, data: np.ndarray, n: int, *index: int) -> np.ndarray:
    """Query vectors: data rows plus small noise, so the top-k is clustered
    around a real neighbourhood rather than far from every row."""
    r = rng(seed, purpose, *index)
    rows = data[r.integers(0, len(data), n)]
    return (rows + 0.25 * r.normal(size=rows.shape)).astype(np.float32)


def t1_grid():
    """The reference's canonical table: the 9x9x9 grid of ``FLOAT[3]``
    (ids 1..729 in row order). Integer coordinates make distance ties
    exact, e.g. the six neighbours at distance 1 around ``[5,5,5]``."""
    g = np.array([[a, b, c] for a in range(1, 10) for b in range(1, 10) for c in range(1, 10)], np.float32)
    return np.arange(1, len(g) + 1, dtype=np.int64), g


def vectors_table(ids: np.ndarray, vecs: np.ndarray) -> pa.Table:
    n, d = vecs.shape
    offsets = pa.array(np.arange(0, n * d + 1, d, dtype=np.int32))
    return pa.table({
        "id": pa.array(ids.astype(np.int64)),
        "vec": pa.ListArray.from_arrays(offsets, pa.array(vecs.astype(np.float32).ravel())),
    })


def write_parquet(table: pa.Table, path: str, row_groups: int = 4) -> None:
    pq.write_table(table, path, row_group_size=max(1, -(-table.num_rows // row_groups)))


# -- documents for the ingest loop ------------------------------------------

_SYLLABLES = [a + b for a in "bdfgklmnprstvz" for b in ("a", "e", "i", "o", "u", "ai", "ou")]


def vocabulary(seed: int, size: int = 4000) -> list[str]:
    r = rng(seed, "vocabulary")
    words = set()
    while len(words) < size:
        words.add("".join(_SYLLABLES[i] for i in r.integers(0, len(_SYLLABLES), r.integers(2, 5))))
    return sorted(words)


def original_doc(seed: int, vocab: list[str], doc_id: int) -> str:
    r = rng(seed, "doc", doc_id)
    return " ".join(vocab[i] for i in r.integers(0, len(vocab), r.integers(40, 80)))


def near_copy(seed: int, vocab: list[str], text: str, doc_id: int) -> str:
    """``text`` with one word replaced: 3-shingle Jaccard ~0.9 to its
    source, far above the store's match threshold."""
    r = rng(seed, "edit", doc_id)
    words = text.split(" ")
    words[int(r.integers(0, len(words)))] = vocab[int(r.integers(0, len(vocab)))]
    return " ".join(words)
