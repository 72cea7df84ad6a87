"""Answer checks, all made outside the timed regions.

Query answers are compared with the independent oracle
(``tests/oracle.PyIndex``) over the same turns; the index built by the
ingest phase is compared term by term with the oracle's postings."""

from __future__ import annotations

import math

from tests.oracle import PyIndex

from perfbench.querylog import FIELD, TOP_K, Query

KEY_COLS = ["conv_id", "turn_idx"]
FIELDS = {FIELD: "standard"}
REL_TOL = 1e-9


def build_oracle(pdf) -> PyIndex:
    return PyIndex(
        pdf[[*KEY_COLS, FIELD]].to_dict("records"),
        key_fn=lambda r: (r["conv_id"], int(r["turn_idx"])),
        fields=FIELDS,
    )


class AnswerChecker:
    """Memoizes the oracle's top-k per query and checks every engine
    answer against it."""

    def __init__(self, oracle: PyIndex):
        self.oracle = oracle
        self._expected: dict[str, list[tuple[tuple, float]]] = {}

    def expected(self, q: Query) -> list[tuple[tuple, float]]:
        if q.key not in self._expected:
            self._expected[q.key] = self.oracle.search(
                q.oracle_node, size=TOP_K)
        return self._expected[q.key]

    def check(self, q: Query, hits: list[tuple[tuple, float]]) -> str | None:
        """None when ``hits`` (ranked (key, score) pairs) equal the
        oracle's top-k; otherwise a one-line description."""
        exp = self.expected(q)
        if [k for k, _ in hits] != [k for k, _ in exp]:
            return (f"{q.cls} {q.key}: keys {[k for k, _ in hits][:3]}... "
                    f"!= oracle {[k for k, _ in exp][:3]}... "
                    f"({len(hits)} vs {len(exp)} hits)")
        for (k, s), (_, e) in zip(hits, exp):
            if not math.isclose(s, e, rel_tol=REL_TOL):
                return f"{q.cls} {q.key}: score of {k} {s!r} != oracle {e!r}"
        return None


def check_postings(term_meta: dict[str, tuple[int, int]], n_docs: int,
                   oracle: PyIndex) -> list[str]:
    """Compare the store's per-term document counts (from chunk
    metadata) and its live doc count with the oracle's postings."""
    post = oracle.postings[FIELD]
    errors = []
    if n_docs != oracle.doc_count:
        errors.append(f"store holds {n_docs} docs, oracle {oracle.doc_count}")
    got = {t: df for t, (_, df) in term_meta.items()}
    want = {t: len(d) for t, d in post.items()}
    if got != want:
        diff = sorted(set(got.items()) ^ set(want.items()))
        errors.append(f"{len(diff)} term doc counts differ, e.g. {diff[:3]}")
    return errors
