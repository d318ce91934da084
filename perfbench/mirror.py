"""The benchmark's own copy of the live rows, and the per-op answer checks.

Exact answers are computed in NumPy (float64 over the float32 vectors, the
precision the engine's cosine fold uses). Two top-k lists agree when the
similarity at every rank matches within TOL and every returned row really
has the similarity it reports — so ties may come back in either order, but
a missing, extra, deleted or mis-scored row is a wrong answer.
"""

from __future__ import annotations

import numpy as np

TOL = 1e-6


class Mirror:
    def __init__(self, ids, x, labels):
        self.ids = list(ids)
        self.pos = {v: i for i, v in enumerate(self.ids)}
        self.x = np.asarray(x, dtype=np.float32).copy()
        self.labels = np.asarray(labels).copy()
        self.alive = np.ones(len(self.ids), dtype=bool)
        self._norm = None

    # ------------------------------------------------------------ writes
    def insert(self, ids, x, labels):
        base = len(self.ids)
        self.ids.extend(ids)
        self.pos.update({v: base + i for i, v in enumerate(ids)})
        self.x = np.vstack([self.x, np.asarray(x, dtype=np.float32)])
        self.labels = np.concatenate([self.labels, np.asarray(labels)])
        self.alive = np.concatenate([self.alive, np.ones(len(ids), bool)])
        self._norm = None

    def update(self, vec_id, v):
        self.x[self.pos[vec_id]] = np.asarray(v, dtype=np.float32)
        self._norm = None

    def delete(self, vec_id):
        self.alive[self.pos[vec_id]] = False

    @property
    def n_live(self) -> int:
        return int(self.alive.sum())

    # ------------------------------------------------------------- reads
    def sims(self, q) -> np.ndarray:
        if self._norm is None:
            self._x64 = self.x.astype(np.float64)
            self._norm = np.linalg.norm(self._x64, axis=1)
        q = np.asarray(q, dtype=np.float32).astype(np.float64)
        return (self._x64 @ q) / (self._norm * np.linalg.norm(q))

    def topk(self, q, k, label=None):
        """Exact top-k (ids, sims) over live rows (tie order is free: the
        checks compare similarities, not positions of equal scores)."""
        s = self.sims(q)
        ok = self.alive.copy()
        if label is not None:
            ok &= self.labels == label
        idx = np.nonzero(ok)[0]
        top = idx[np.argsort(-s[idx], kind="stable")[:k]]
        return [self.ids[i] for i in top], s[top]

    def n_matching(self, label) -> int:
        return int((self.alive & (self.labels == label)).sum())

    # ------------------------------------------------------------ checks
    def check_topk(self, got_ids, got_sims, q, k, label=None) -> bool:
        exp_ids, exp_sims = self.topk(q, k, label)
        return self._consistent(got_ids, got_sims, q, label) and \
            len(got_ids) == len(exp_ids) and \
            bool(np.all(np.abs(np.asarray(got_sims) - exp_sims) <= TOL))

    def check_approx(self, got_ids, got_sims, q, k) -> tuple[bool, float]:
        """An approximate (IVF) answer is correct when every row is live,
        distinct, truly scored and sorted; returns (ok, recall@k)."""
        ok = self._consistent(got_ids, got_sims, q, None) and len(got_ids) <= k
        exp_ids, _ = self.topk(q, k)
        recall = len(set(got_ids) & set(exp_ids)) / max(1, len(exp_ids))
        return ok, recall

    def _consistent(self, got_ids, got_sims, q, label) -> bool:
        if len(set(got_ids)) != len(got_ids):
            return False
        s = self.sims(q)
        for vid, sim in zip(got_ids, got_sims):
            i = self.pos.get(vid)
            if i is None or not self.alive[i] or sim is None:
                return False
            if label is not None and self.labels[i] != label:
                return False
            if abs(s[i] - sim) > TOL:
                return False
        return all(a >= b - TOL for a, b in zip(got_sims, got_sims[1:]))

    def check_row(self, vec_id, row) -> bool:
        i = self.pos.get(vec_id)
        if i is None or not self.alive[i]:
            return False
        return row["vector_id"] == vec_id and np.array_equal(
            np.asarray(row["vector"], dtype=np.float32), self.x[i])
