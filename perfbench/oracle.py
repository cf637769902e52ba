"""Float64 numpy brute force: the exact answer every read is checked against.

Scores follow the engine's polarity (``l2sq`` -> Euclidean distance,
ascending; ``cosine`` -> similarity and ``ip`` -> inner product, both
descending). The oracle ranks by a *key* where smaller is nearer.

Checks return a list of failed check names, empty when the result is legal:

- with a tiebreak the ids and their order must equal the exact order;
- without one, the multiset of the k keys must equal the exact k keys, so
  any choice among tied rows is legal and a wrong distance is not;
- an approximate (indexed) read must return live ids whose scores are the
  exact scores of those ids; how many of the true k it finds is recall, not
  a failure.
"""

from __future__ import annotations

import numpy as np

RTOL = 1e-6
ATOL = 1e-6


def scores(x: np.ndarray, q, metric: str) -> np.ndarray:
    x = np.asarray(x, np.float64)
    q = np.asarray(q, np.float64)
    if metric == "l2sq":
        return np.sqrt(((x - q) ** 2).sum(axis=-1))
    if metric == "cosine":
        den = np.linalg.norm(x, axis=-1) * np.linalg.norm(q)
        return (x @ q) / np.where(den == 0, np.nan, den)
    if metric == "ip":
        return x @ q
    raise ValueError(metric)


def key(s: np.ndarray, metric: str) -> np.ndarray:
    return s if metric == "l2sq" else -s


PREFILTER_ROWS = 100_000
PREFILTER_SLACK = 64


def exact_order(ids: np.ndarray, x: np.ndarray, q, metric: str, k: int):
    """``(ids, keys)`` of the exact top-k, ties broken by id.

    Large tables are first cut to ``k + PREFILTER_SLACK`` candidates by a
    float32 matrix-vector product, whose error is many orders of magnitude
    below the spread of the slack rows; the cut rows are then ranked in
    float64 like any small table."""
    if len(x) > PREFILTER_ROWS:
        q32 = np.asarray(q, np.float32)
        dots = x @ q32
        if metric == "l2sq":
            approx = np.einsum("ij,ij->i", x, x) - 2 * dots
        elif metric == "cosine":
            approx = -dots / np.maximum(np.linalg.norm(x, axis=1), 1e-30)
        else:
            approx = -dots
        cand = np.argpartition(approx, k + PREFILTER_SLACK)[: k + PREFILTER_SLACK]
        ids, x = ids[cand], x[cand]
    kk = key(scores(x, q, metric), metric)
    o = np.lexsort((ids, kk))[:k]
    return ids[o], kk[o]


def _close(a, b) -> bool:
    a, b = np.asarray(a, np.float64), np.asarray(b, np.float64)
    return a.shape == b.shape and bool(np.allclose(a, b, rtol=RTOL, atol=ATOL))


class Table:
    """The oracle's copy of one table: ids, vectors and which rows are live."""

    def __init__(self, ids: np.ndarray, vecs: np.ndarray):
        self.ids = np.asarray(ids, np.int64)
        self.vecs = np.asarray(vecs, np.float32)
        self.live = np.ones(len(self.ids), bool)
        self._pos = {int(i): p for p, i in enumerate(self.ids)}

    def append(self, ids, vecs) -> None:
        base = len(self.ids)
        self.ids = np.concatenate([self.ids, np.asarray(ids, np.int64)])
        self.vecs = np.concatenate([self.vecs, np.asarray(vecs, np.float32)])
        self.live = np.concatenate([self.live, np.ones(len(ids), bool)])
        self._pos.update({int(i): base + p for p, i in enumerate(ids)})

    def delete(self, ids) -> None:
        for i in ids:
            p = self._pos.get(int(i))
            if p is not None:
                self.live[p] = False

    def is_live(self, i) -> bool:
        p = self._pos.get(int(i))
        return p is not None and bool(self.live[p])

    def vec(self, i) -> np.ndarray:
        return self.vecs[self._pos[int(i)]]

    def rows(self, mask=None):
        if mask is None and self.live.all():
            return self.ids, self.vecs
        m = self.live if mask is None else (self.live & mask)
        return self.ids[m], self.vecs[m]

    @property
    def n_live(self) -> int:
        return int(self.live.sum())


def check_topk(table: Table, q, metric: str, k: int, got_ids, got_scores, *,
               tiebreak: bool, exact: bool, mask=None):
    """Check one top-k answer. Returns ``(failed_checks, recall)``."""
    ids, x = table.rows(mask)
    want_ids, want_keys = exact_order(ids, x, q, metric, k)
    got_ids = [int(i) for i in got_ids]
    failed = []
    if len(set(got_ids)) != len(got_ids):
        failed.append("duplicate_ids")
    if any(not table.is_live(i) for i in got_ids):
        failed.append("deleted_or_unknown_id")
        return failed, 0.0
    got_vecs = np.array([table.vec(i) for i in got_ids]).reshape(len(got_ids), -1)
    true_scores = scores(got_vecs, q, metric) if got_ids else np.zeros(0)
    if got_scores is not None and not _close(got_scores, true_scores):
        failed.append("wrong_score")
    got_keys = key(true_scores, metric)
    # recall@k: returned rows at least as near as the k-th exact row
    cut = want_keys[-1] if len(want_keys) else np.inf
    found = int((got_keys <= cut + ATOL + RTOL * abs(cut)).sum())
    recall = min(found, len(want_keys)) / max(1, len(want_keys))
    if exact:
        if len(got_ids) != len(want_ids):
            failed.append("wrong_row_count")
        elif tiebreak:
            if got_ids != [int(i) for i in want_ids]:
                failed.append("wrong_ids_or_order")
        elif not _close(np.sort(got_keys), want_keys):
            failed.append("wrong_distance_multiset")
    elif len(got_ids) < min(k, len(want_ids)):
        failed.append("short_result")
    return failed, recall
