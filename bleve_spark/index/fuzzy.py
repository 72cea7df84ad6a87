"""Exact Levenshtein expansion over a driver-resident term dictionary.

The reference intersects a Levenshtein automaton with the term FST
(search/searcher/search_fuzzy.go:148). Here one field's dictionary is
split into buckets of equal-length terms, each held as a code-point
matrix; a fuzzy lookup scores only the buckets within ``d`` of the
query's length, running the edit-distance recurrence one query
character at a time over every term of a bucket at once in numpy.
Distances are exact, in code points, as
:func:`bleve_spark.search.searcher._levenshtein` computes them.
"""

from __future__ import annotations

import numpy as np


def _code_points(terms: list[str], length: int) -> np.ndarray:
    """(len(terms), length) uint32 matrix of the terms' code points."""
    buf = "".join(terms).encode("utf-32-le", "surrogatepass")
    return np.frombuffer(buf, dtype=np.uint32).reshape(len(terms), length)


def edit_distances(term: str, cands: np.ndarray) -> np.ndarray:
    """Levenshtein distance from ``term`` to every row of ``cands``
    (equal-length code-point rows)."""
    n, width = cands.shape
    cols = np.arange(width + 1, dtype=np.int32)
    prev = np.broadcast_to(cols, (n, width + 1)).copy()
    for i, ch in enumerate(_code_points([term], len(term))[0], 1):
        cur = np.empty_like(prev)
        cur[:, 0] = i
        np.minimum(prev[:, :-1] + (cands != ch),  # substitute / match
                   prev[:, 1:] + 1,               # delete
                   out=cur[:, 1:])
        # insert: cur[j] = min over k ≤ j of cur[k] + (j - k)
        prev = np.minimum.accumulate(cur - cols, axis=1) + cols
    return prev[:, width]


class FuzzyDict:
    """One field's dictionary, bucketed by term length (code points)."""

    def __init__(self, doc_freq: dict[str, int]):
        by_len: dict[int, list[str]] = {}
        for t in doc_freq:
            by_len.setdefault(len(t), []).append(t)
        self.buckets = {
            n: (ts, _code_points(ts, n),
                np.array([doc_freq[t] for t in ts], dtype=np.int64))
            for n, ts in by_len.items()
        }

    def match(self, term: str, d: int, prefix: str = ""
              ) -> list[tuple[str, int, int]]:
        """(term, doc_freq, distance) of every term within edit
        distance ``d`` of ``term`` that starts with ``prefix``, sorted
        by term. A term's length differs from ``term``'s by at most
        its distance, so only those buckets are read."""
        px = _code_points([prefix], len(prefix))[0]
        out = []
        for n in range(max(len(term) - d, len(prefix)), len(term) + d + 1):
            if n not in self.buckets:
                continue
            ts, cps, dfs = self.buckets[n]
            rows = np.flatnonzero((cps[:, :len(px)] == px).all(axis=1))
            dist = edit_distances(term, cps[rows])
            ok = dist <= d
            out += zip([ts[i] for i in rows[ok]], dfs[rows[ok]].tolist(),
                       dist[ok].tolist())
        return sorted(out)
