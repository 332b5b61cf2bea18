"""Exact BM25 top-k oracle for an index that is extended and tombstoned.

Same scoring as ``jvector_spark.fixtures.bm25_oracle`` (Lucene idf, no
(k1+1) numerator, ties broken by ascending doc_id), kept incrementally so a
check costs one query's postings rather than a rescan of the corpus:

- ``add`` appends documents under the ids the engine gives them: a build
  numbers a corpus densely from its id offset in (conv_id, turn_idx) order,
  and an extend numbers the new rows the same way from the current n_docs;
- ``delete`` tombstones ids. A tombstone hides a document from results but,
  as in the engine, leaves it in n_docs, avgdl and every df.
"""

from __future__ import annotations

import math

import numpy as np

from jvector_spark import BM25_B, BM25_K1
from jvector_spark.fixtures import tokenize_py


class Bm25Oracle:
    def __init__(self, k1: float = BM25_K1, b: float = BM25_B):
        self.k1, self.b = k1, b
        self.ids: list[int] = []  # position -> doc_id
        self.dl: list[int] = []
        self.postings: dict[str, list[tuple[int, int]]] = {}  # term -> [(pos, tf)]
        self.dead: set[int] = set()
        self._arrays: dict[str, tuple[np.ndarray, np.ndarray]] = {}

    @property
    def n_docs(self) -> int:
        return len(self.ids)

    def live_ids(self) -> list[int]:
        return [d for d in self.ids if d not in self.dead]

    def add(self, doc_ids, texts) -> None:
        for d, text in zip(doc_ids, texts):
            pos = len(self.ids)
            toks = tokenize_py(text)
            self.ids.append(int(d))
            self.dl.append(len(toks))
            tf: dict[str, int] = {}
            for t in toks:
                tf[t] = tf.get(t, 0) + 1
            for t, c in tf.items():
                self.postings.setdefault(t, []).append((pos, c))
                self._arrays.pop(t, None)

    def delete(self, doc_ids) -> None:
        self.dead.update(int(d) for d in doc_ids)

    def _term(self, t: str) -> tuple[np.ndarray, np.ndarray]:
        arr = self._arrays.get(t)
        if arr is None:
            p = self.postings[t]
            arr = (
                np.fromiter((x[0] for x in p), dtype=np.int64, count=len(p)),
                np.fromiter((x[1] for x in p), dtype=np.float64, count=len(p)),
            )
            self._arrays[t] = arr
        return arr

    def topk(self, terms: list[str], k: int = 10) -> list[tuple[int, float]]:
        """(doc_id, score) of the top ``k`` live documents for one query,
        duplicate terms counted once per occurrence."""
        n = self.n_docs
        if n == 0:
            return []
        dl = np.asarray(self.dl, dtype=np.float64)
        avgdl = float(dl.mean())
        scores = np.zeros(n, dtype=np.float64)
        hit = np.zeros(n, dtype=bool)
        for t in terms:
            if t not in self.postings:
                continue
            pos, tf = self._term(t)
            df = len(pos)
            idf = math.log(1.0 + (n - df + 0.5) / (df + 0.5))
            denom = tf + self.k1 * (1.0 - self.b + self.b * dl[pos] / avgdl)
            scores[pos] += idf * (tf / denom)
            hit[pos] = True
        ids = np.asarray(self.ids, dtype=np.int64)
        if self.dead:
            hit &= ~np.isin(ids, np.fromiter(self.dead, dtype=np.int64))
        cand = np.flatnonzero(hit)
        order = np.lexsort((ids[cand], -scores[cand]))[:k]
        return [(int(ids[cand[i]]), float(scores[cand[i]])) for i in order]


def same_ranking(got: list[tuple[int, float]], want: list[tuple[int, float]]) -> bool:
    """Rank-identical at 6 decimal places. Scores that agree to 1e-9 are one
    tie group, ordered by doc_id on both sides, so float summation order
    cannot flip a tie."""
    def norm(rows):
        return sorted(
            ((int(d), round(float(s), 6), round(float(s), 9)) for d, s in rows),
            key=lambda r: (-r[2], r[0]),
        )

    g, w = norm(got), norm(want)
    return len(g) == len(w) and all(a[:2] == b[:2] for a, b in zip(g, w))
