"""Seeded, Zipf-weighted query logs over a corpus, each query paired
with its twin for the independent oracle (``tests/oracle.PyIndex``).

Every block of BLOCK queries holds each class in fixed proportion, so
the class mix (and with it the latency tail) is the same for every
seed; the seed picks the terms. Within a class the log draws from a
small pool with Zipf weights, so head queries repeat."""

from __future__ import annotations

from dataclasses import dataclass

import re

import numpy as np

from tests import oracle as O

FIELD = "text"
TOP_K = 10
POOL = 6
ZIPF_S = 1.1

# class -> queries per block; wand_or runs through block-max pruning
QUOTA = {
    "term_head": 2, "term_tail": 2, "match_or": 2, "match_and": 2,
    "phrase": 2, "bool_not": 1, "prefix": 1, "fuzzy": 1, "wand_or": 1,
}
BLOCK = sum(QUOTA.values())
_PLAIN = re.compile(r"^[a-z0-9_]+$")


@dataclass(frozen=True)
class Query:
    cls: str
    key: str
    request: dict       # engine request; for wand_or {"terms": [...]}
    oracle_node: dict


def _t(term):
    return O.term(FIELD, term)


def make_pools(oracle: O.PyIndex, seed: int) -> dict[str, list[Query]]:
    """POOL distinct queries per class, built from the corpus's own
    terms: head = the 40 most frequent, mid = the next 360, tail =
    terms in 2 to 8 turns. The j-th query of a pool draws its terms
    from the j-th of POOL equal rank bands, so a seed changes which
    terms a query uses but hardly how many postings they have: every
    seed's log costs about the same."""
    rng = np.random.default_rng([seed, 7])
    post = oracle.postings[FIELD]
    # plain words only, so match-query re-analysis yields the same term
    by_df = sorted((t for t in post if _PLAIN.match(t)),
                   key=lambda t: (-len(post[t]), t))
    head = by_df[:40]
    mid = by_df[40:400]
    tail = [t for t in by_df if 2 <= len(post[t]) <= 8]

    def pick(pool, j, n=1):
        """n distinct terms from band j of ``pool``."""
        w = len(pool) // POOL
        band = pool[j * w:(j + 1) * w]
        return [band[i] for i in rng.choice(len(band), n, replace=False)]

    pools: dict[str, list[Query]] = {c: [] for c in QUOTA}
    for j in range(POOL):
        (h,) = pick(head, j)
        pools["term_head"].append(
            Query("term_head", f"th:{h}", {"field": FIELD, "term": h},
                  _t(h)))
        (t,) = pick(tail, j)
        pools["term_tail"].append(
            Query("term_tail", f"tt:{t}", {"field": FIELD, "term": t},
                  _t(t)))
        a, b = pick(head, j) + pick(mid, j)
        pools["match_or"].append(Query(
            "match_or", f"mo:{a} {b}",
            {"field": FIELD, "match": f"{a} {b}"},
            O.disj([_t(a), _t(b)], min=1)))
        a, b = pick(head, j, 2)
        pools["match_and"].append(Query(
            "match_and", f"ma:{a} {b}",
            {"field": FIELD, "match": f"{a} {b}", "operator": "and"},
            O.conj([_t(a), _t(b)])))
        a, b = pick(head, j, 2)
        pools["bool_not"].append(Query(
            "bool_not", f"bn:{a} -{b}",
            {"must": {"conjuncts": [{"field": FIELD, "term": a}]},
             "must_not": {"disjuncts": [{"field": FIELD, "term": b}]}},
            {"type": "bool", "must": O.conj([_t(a)]),
             "must_not": O.disj([_t(b)], min=0)}))
        a, b, c = pick(head, j) + pick(mid, j) + pick(tail, j)
        pools["wand_or"].append(Query(
            "wand_or", f"wo:{a} {b} {c}", {"terms": [a, b, c]},
            O.disj([_t(a), _t(b), _t(c)], min=1)))
    pools["phrase"] = _phrases(oracle, rng)
    pools["prefix"] = _prefixes(oracle, rng, mid)
    pools["fuzzy"] = _fuzzies(oracle, rng, mid)
    return pools


def _phrases(oracle, rng) -> list[Query]:
    """Two-term phrases taken from adjacent positions of real turns."""
    post = oracle.postings[FIELD]
    out: dict[str, Query] = {}
    keys = oracle.keys
    while len(out) < POOL:
        key = keys[int(rng.integers(len(keys)))]
        spans = sorted(
            (p, t) for t in _terms_of(oracle, key)
            for p in post[t][key][1]
        )
        pairs = [(a, b) for (pa, a), (pb, b) in zip(spans, spans[1:])
                 if pb == pa + 1 and a != b]
        if not pairs:
            continue
        a, b = pairs[int(rng.integers(len(pairs)))]
        out.setdefault(f"ph:{a} {b}", Query(
            "phrase", f"ph:{a} {b}", {"field": FIELD, "terms": [a, b]},
            {"type": "phrase", "field": FIELD, "boost": 1.0,
             "slots": [(0, [a]), (1, [b])]}))
    return list(out.values())


def _terms_of(oracle, key) -> list[str]:
    """Plain terms of one turn (a scan of the vocabulary)."""
    return [t for t, docs in oracle.postings[FIELD].items()
            if key in docs and _PLAIN.match(t)]


def _prefixes(oracle, rng, mid) -> list[Query]:
    out: dict[str, Query] = {}
    while len(out) < POOL:
        t = mid[int(rng.integers(len(mid)))]
        if len(t) < 4:
            continue
        p = t[:-1]
        terms = oracle.expand_prefix(FIELD, p)
        if not 1 <= len(terms) <= 16:
            continue
        out.setdefault(p, Query(
            "prefix", f"pf:{p}", {"field": FIELD, "prefix": p},
            O.disj([_t(x) for x in terms], min=0)))
    return list(out.values())


def _fuzzies(oracle, rng, mid) -> list[Query]:
    """One substitution away from a real term, fuzziness 1."""
    out: dict[str, Query] = {}
    while len(out) < POOL:
        t = mid[int(rng.integers(len(mid)))]
        if len(t) < 5 or not t.isascii():
            continue
        i = int(rng.integers(1, len(t)))
        q = t[:i] + ("z" if t[i] != "z" else "y") + t[i + 1:]
        cands = oracle.expand_fuzzy(FIELD, q, 1)
        out.setdefault(q, Query(
            "fuzzy", f"fz:{q}",
            {"field": FIELD, "term": q, "fuzziness": 1},
            O.disj([O.term(FIELD, x, boost_mult=1.0 / (d + 1.0))
                    for x, d in cands], min=0)))
    return list(out.values())


def make_log(pools: dict[str, list[Query]], seed: int,
             n: int) -> list[Query]:
    """``n`` queries: whole blocks in fixed class proportion, shuffled
    within each block; Zipf-weighted choice inside each class pool."""
    rng = np.random.default_rng([seed, 11])
    log: list[Query] = []
    while len(log) < n:
        block = []
        for cls, k in QUOTA.items():
            pool = pools[cls]
            w = 1.0 / np.arange(1, len(pool) + 1) ** ZIPF_S
            idx = rng.choice(len(pool), k, p=w / w.sum())
            block += [pool[i] for i in idx]
        rng.shuffle(block)
        log += block
    return log
