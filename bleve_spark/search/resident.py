"""Driver-resident serving tier for small indexes and segment stores.

The reference answers a query in-process: a Searcher tree walks the
resident segment postings (index_impl.go:877-881,
search/searcher/search_term.go:115-152). The Spark plan of
:mod:`bleve_spark.search.searcher` instead schedules a job per query,
whose fixed cost (planning, JIT, task launch) dwarfs the scoring on a
small index. This module is the in-process twin for indexes that fit
the driver: the postings are collected ONCE into per-(field, term) CSR
arrays (dense doc index, tf, float32 norm, positions), and a resolved
SNode tree is scored with numpy — the vectorized, columnar query
processing of columnar inverted indexes — then cut to the top-k on the
driver. The answer is a :class:`~bleve_spark.session.LocalFrame` that
holds the ``Hits`` and the selected rows: collecting it reads them from
numpy and Arrow on the driver, with no Spark job and no py4j call; only
a JVM operation on it (a join, a non-score sort, persist) ships it to
the JVM as a LocalRelation.

A snapshot has two sources, with one dataclass
(:class:`PostingsSnapshot`) and one evaluator (:class:`_Eval`):

1. a small persisted index (:func:`snapshot_for`, for
   ``compile_query`` / ``search_df`` / ``search``), collected once by
   the first query — or, for an index ``index_table`` built on the
   driver, filled from its build arrays and registered by the build
   (:func:`register_snapshot`);
2. a small segment store (:func:`store_snapshot`, for
   ``blockmax.pruned_disjunction_topk``), read straight from the
   segment parquet files on the driver with pyarrow and the store's
   chunk decoder — no Spark job at all.

An index snapshot engages only when all of these hold, each observable
on the index:

* the postings were built persisted (``index_table``,
  ``to_indexed_table(persist=True)`` or ``IndexedTable.persist()``);
* the term dictionary is driver-resident (``_cached_dict()`` — so
  ``dict_cache_max=0`` forces the distributed path);
* Σ doc_freq ≤ :data:`RESIDENT_MAX_POSTINGS`;
* the index is flat (no nested sub-documents) and every node of the
  query is a term, conjunction, disjunction, boolean or phrase node.

Anything else — SConst (match_all, ids, ranges, geo), SDictDisj,
custom-score nodes, nested indexes, non-score sorts, search_after /
search_before — runs today's Spark plan unchanged. That plan stays the
only path for indexes past the driver bound, unpersisted at-rest
tables and aliases.

The snapshot is keyed on the postings relation: ``dataclasses.replace``
copies share it, a view with filtered postings (``apply_index_update``)
builds its own.

A store snapshot engages when Σ manifest ``postings`` of the served
segments ≤ :data:`RESIDENT_MAX_POSTINGS` and every served manifest has
``posting_lens`` (norms ride in the postings); the decision reads the
manifests only. It holds the live docs' postings and the at-rest df
(Σ chunk ``n_docs``, deleted docs included) the block-max plan scores
with, and is keyed on ``SegmentStore.fingerprint()`` — root, manifest
stamp, served segment set and delete files — so an epoch view serves
its own segments and a delete or update is seen by the next call.
Bigger and legacy stores stay on the block-max Spark plan.

Collection statistics (idf inputs, avg_len) are NOT in a snapshot —
the caller passes an ``IndexStats`` per query (``idx.stats``, or the
block-max caller's stats), so a copy with merged alias stats scores
with those. Scores are the exact ``term_score_col`` / composite
arithmetic (same IEEE op order), ties break on ascending key order
like the Spark plan's ORDER BY.
"""

from __future__ import annotations

import threading
import weakref
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame
from pyspark.sql.pandas.types import from_arrow_type
from pyspark.sql.types import DoubleType, StructField, StructType

from bleve_spark.search.scorer import BM25_B, BM25_K1, idf_value
from bleve_spark.search.searcher import (
    SBool,
    SConj,
    SDisj,
    SNone,
    SPhrase,
    STerm,
    _find_phrase_path,
)
from bleve_spark.session import LocalFrame

# Σ doc_freq (= postings rows) above which an index or a segment store
# stays on the Spark plan. A posting costs ~20 B resident (doc, tf, norm, position
# offset) plus 4 B per position; the one-time collect holds the
# postings' key and term strings on top, so 1M postings is tens of MB
# on the driver.
RESIDENT_MAX_POSTINGS = 1_000_000

_POS_SHIFT = np.int64(32)
_POS_MASK = np.int64((1 << 32) - 1)


@dataclass
class PostingsSnapshot:
    """Columnar copy of one postings relation. Docs are numbered
    densely in ascending key order, so ascending doc index IS the
    tie-break order; each (field, term) owns the slice
    ``spans[field][term]`` of the flat posting arrays, doc-ascending."""

    keys: pa.Table                 # one row per doc, key columns
    schema: StructType             # result frame: keys..., score
    spans: dict                    # field -> term -> (start, end)
    doc: np.ndarray                # int64 dense doc index per posting
    tf: np.ndarray                 # int32
    norm: np.ndarray               # float32
    pos_off: np.ndarray            # int64, len(doc) + 1
    pos: np.ndarray                # int64 positions, flat
    # field -> term -> at-rest df, deleted docs included (store
    # snapshots only; an index's df comes from its dictionary)
    doc_freq: dict | None = None

    @property
    def nbytes(self) -> int:
        arrays = [self.doc, self.tf, self.norm, self.pos_off, self.pos]
        return self.keys.nbytes + sum(a.nbytes for a in arrays)

    def span(self, field: str, term: str) -> tuple[int, int]:
        return self.spans.get(field, {}).get(term, (0, 0))

    def positions(self, s: int, e: int) -> tuple[np.ndarray, np.ndarray]:
        """(doc, pos) pairs of postings ``s:e``, one per position."""
        lo, hi = self.pos_off[s], self.pos_off[e]
        counts = np.diff(self.pos_off[s:e + 1])
        return np.repeat(self.doc[s:e], counts), self.pos[lo:hi]


def key_order(kt: pa.Table) -> np.ndarray:
    """Row order of key table ``kt`` ascending (Spark's asc = nulls
    first)."""
    return pc.sort_indices(
        kt, sort_keys=[(k, "ascending") for k in kt.column_names],
        null_placement="at_start",
    ).to_numpy()


def assemble(t: pa.Table, doc: np.ndarray, keys: pa.Table,
             schema: StructType, doc_freq: dict | None = None
             ) -> PostingsSnapshot:
    """Postings ``t`` (field, term, tf, norm, positions), with dense
    doc index ``doc`` per row, grouped into the per-(field, term) CSR
    layout."""
    n = t.num_rows
    fenc = pc.dictionary_encode(t.column("field")).combine_chunks()
    tenc = pc.dictionary_encode(t.column("term")).combine_chunks()
    fcode = fenc.indices.to_numpy().astype(np.int64)
    tcode = tenc.indices.to_numpy().astype(np.int64)
    perm = np.lexsort((doc, tcode, fcode))
    gkey = (fcode * np.int64(len(tenc.dictionary)) + tcode)[perm]
    starts = np.flatnonzero(np.r_[True, gkey[1:] != gkey[:-1]]) if n \
        else np.empty(0, dtype=np.int64)
    ends = np.r_[starts[1:], n]
    fnames = fenc.dictionary.to_pylist()
    tnames = tenc.dictionary.to_pylist()
    spans: dict = {}
    for s, e, i in zip(starts.tolist(), ends.tolist(),
                       perm[starts].tolist()):
        spans.setdefault(fnames[fcode[i]], {})[tnames[tcode[i]]] = (s, e)

    plist = t.column("positions").take(pa.array(perm))
    lens = pc.fill_null(pc.list_value_length(plist), 0).to_numpy()
    return PostingsSnapshot(
        keys=keys,
        schema=schema,
        spans=spans,
        doc=doc[perm],
        tf=t.column("tf").to_numpy().astype(np.int32)[perm],
        norm=t.column("norm").to_numpy().astype(np.float32)[perm],
        pos_off=np.concatenate(([0], np.cumsum(lens))).astype(np.int64),
        pos=pc.list_flatten(plist).to_numpy().astype(np.int64),
        doc_freq=doc_freq,
    )


def build_snapshot(postings: DataFrame, key_cols: list[str]
                   ) -> PostingsSnapshot:
    """Collect ``postings`` once (one Arrow collect) into a snapshot."""
    cols = ["field", "term", *key_cols, "tf", "norm", "positions"]
    sel = postings.select(*[f"`{c}`" for c in cols])
    key_fields = [sel.schema[k] for k in key_cols]
    t = sel.toArrow().combine_chunks()
    n = t.num_rows

    # dense doc index in ascending key order; equal keys are one doc
    kt = t.select(key_cols)
    order = key_order(kt)
    sk = kt.take(order)
    new = np.zeros(n, dtype=bool)
    if n:
        new[0] = True
        for k in key_cols:
            v = sk.column(k).to_numpy(zero_copy_only=False)
            new[1:] |= v[1:] != v[:-1]
    doc = np.empty(n, dtype=np.int64)
    doc[order] = np.cumsum(new) - 1
    schema = StructType(
        key_fields + [StructField("score", DoubleType(), True)])
    return assemble(t, doc, sk.filter(pa.array(new)), schema)


def read_store_snapshot(store, key_cols: list[str]) -> PostingsSnapshot:
    """A snapshot of a segment store's served segments, read straight
    from its parquet files on the driver
    (:meth:`SegmentStore.read_live_postings`) — no Spark job. Docs are
    numbered per doc_num (the unit the Spark plans group on) in
    ascending key order; ``doc_freq`` holds the at-rest df."""
    postings, docs, df = store.read_live_postings(key_cols)
    order = key_order(docs.select(key_cols))
    keys = docs.select(key_cols).take(order)
    nums = docs.column("doc_num").to_numpy()[order]
    by_num = np.argsort(nums)
    at = np.searchsorted(nums, postings.column("doc_num").to_numpy(),
                         sorter=by_num)
    doc_freq: dict = {}
    for f, t, n in zip(*(df.column(c).to_pylist()
                         for c in ("field", "term", "df"))):
        doc_freq.setdefault(f, {})[t] = int(n)
    schema = StructType(
        [StructField(k, from_arrow_type(keys.schema.field(k).type), True)
         for k in key_cols]
        + [StructField("score", DoubleType(), True)])
    return assemble(postings, by_num[at].astype(np.int64), keys, schema,
                     doc_freq)


# postings relation -> snapshot, or None when it is too big
_SNAPSHOTS: "weakref.WeakKeyDictionary" = weakref.WeakKeyDictionary()
_LOCK = threading.Lock()


def register_snapshot(postings: DataFrame, snap: PostingsSnapshot) -> None:
    """Serve ``snap`` for the postings relation ``postings``: a
    driver-built index hands over the snapshot of its build arrays."""
    with _LOCK:
        _SNAPSHOTS[postings] = snap


def _postings_total(dict_map: dict) -> int:
    return sum(sum(terms.values()) for terms in dict_map.values())


def snapshot_for(idx) -> PostingsSnapshot | None:
    """The index's snapshot, built on first use; None when the index
    does not qualify for the resident tier."""
    if not getattr(idx, "_persisted", None) or idx.nested_chains:
        return None
    dict_map = idx._dict_map
    if not isinstance(dict_map, dict):
        return None
    postings = idx.postings
    try:
        return _SNAPSHOTS[postings]
    except KeyError:
        pass
    with _LOCK:
        if postings not in _SNAPSHOTS:
            snap = None
            if _postings_total(dict_map) <= RESIDENT_MAX_POSTINGS:
                snap = build_snapshot(postings, idx.key_cols)
            _SNAPSHOTS[postings] = snap
        return _SNAPSHOTS[postings]


# (store fingerprint, key columns) -> (Σ manifest postings, snapshot);
# FIFO-bounded, so commits beside reads keep few superseded snapshots
_STORE_SNAPSHOTS: dict = {}
_STORE_SNAPSHOTS_MAX = 4


def store_snapshot(store, key_cols: list[str]) -> PostingsSnapshot | None:
    """The snapshot of what ``store`` serves, read on first use; None
    when the served segments hold more than
    :data:`RESIDENT_MAX_POSTINGS` postings (manifest counts) or a
    served manifest lacks ``posting_lens`` (legacy stores keep norms
    in the doc table). Decided from the manifests alone, with no Spark
    call; keyed on :meth:`SegmentStore.fingerprint`, so an epoch view
    serves its own segments and a delete or update is seen by the
    next call."""
    key = (store.fingerprint(), tuple(key_cols))
    hit = _STORE_SNAPSHOTS.get(key)
    if hit is not None:
        total, snap = hit
        return snap if total <= RESIDENT_MAX_POSTINGS else None
    ms = store.manifests()
    total = sum(m["postings"] for m in ms)
    if (not ms or not all(m.get("posting_lens") for m in ms)
            or total > RESIDENT_MAX_POSTINGS):
        return None
    with _LOCK:
        if key not in _STORE_SNAPSHOTS:
            snap = read_store_snapshot(store, key_cols)
            if store.fingerprint() != key[0]:
                return snap  # committed meanwhile: serve, don't cache
            if len(_STORE_SNAPSHOTS) >= _STORE_SNAPSHOTS_MAX:
                _STORE_SNAPSHOTS.pop(next(iter(_STORE_SNAPSHOTS)))
            _STORE_SNAPSHOTS[key] = (total, snap)
        return _STORE_SNAPSHOTS[key][1]


# ----------------------------------------------------------- evaluation --

_TYPES = (STerm, SNone, SConj, SDisj, SBool, SPhrase)


def supported(node) -> bool:
    """Every node of the tree has a resident evaluator (exact types:
    subclasses may change compile semantics)."""
    if type(node) not in _TYPES:
        return False
    if type(node) in (SConj, SDisj):
        return all(supported(c) for c in node.children)
    if type(node) is SBool:
        return all(supported(c) for c in
                   (node.must, node.should, node.must_not, node.filter)
                   if c is not None)
    return True


@dataclass
class Hits:
    """Every matching doc of a query: dense doc index (ascending) and
    score."""

    snap: PostingsSnapshot
    doc: np.ndarray
    score: np.ndarray

    def top(self, n: int) -> np.ndarray:
        """Positions of the best ``n`` hits: score desc, then key asc."""
        score, doc = self.score, self.doc
        if 0 < n < len(score):
            # everything tied with the n-th best score stays in play
            kth = np.partition(-score, n - 1)[n - 1]
            cand = np.flatnonzero(-score <= kth)
        else:
            cand = np.arange(len(score))
        order = np.lexsort((doc[cand], -score[cand]))
        return cand[order[:n]]

    def table(self, rows: np.ndarray | None = None) -> pa.Table:
        """(keys..., score) of hit positions ``rows`` (all by default)."""
        if rows is None:
            rows = np.arange(len(self.doc))
        tab = self.snap.keys.take(pa.array(self.doc[rows]))
        return tab.append_column("score", pa.array(self.score[rows]))

    def frame(self, spark, n: int | None = None) -> LocalFrame:
        """(keys..., score) rows — all matches in key order, or the
        top ``n`` in rank order — as a driver-local frame whose
        ``hits`` field is this object."""
        return LocalFrame(spark, self.snap.schema, hits=self,
                          rows=None if n is None else self.top(n))


def hits_of(df: DataFrame | None) -> Hits | None:
    """The resident answer behind a frame from :func:`Hits.frame`."""
    return df.hits if isinstance(df, LocalFrame) else None


def evaluate(idx, node, ctx) -> Hits | None:
    """Score ``node`` (resolved, with ``ctx.qn`` set) on the resident
    tier; None when the index or the query does not qualify."""
    if not supported(node):
        return None
    snap = snapshot_for(idx)
    if snap is None:
        return None
    return hits_for(snap, ctx.idx.stats, node, ctx.qn)


def hits_for(snap: PostingsSnapshot, stats, node, qn: float) -> Hits:
    """Every match of resolved tree ``node`` on ``snap``, scored with
    collection statistics ``stats`` (:class:`IndexStats`) and root
    queryNorm ``qn``."""
    doc, s = _Eval(snap, stats, qn).run(node)
    return Hits(snap, doc, s)


_EMPTY = (np.empty(0, dtype=np.int64), np.empty(0, dtype=np.float64))


def _group(docs: list, scores: list):
    """Union of (doc, score) lists → (docs, Σ score, count); the sums
    run in input order, like the oracle's per-child accumulation."""
    d = np.concatenate(docs)
    s = np.concatenate(scores)
    u, inv = np.unique(d, return_inverse=True)
    sums = np.bincount(inv, weights=s, minlength=len(u))
    cnt = np.bincount(inv, minlength=len(u))
    return u, sums, cnt


class _Eval:
    def __init__(self, snap: PostingsSnapshot, stats, qn: float):
        self.snap, self.stats, self.qn = snap, stats, qn

    def run(self, node):
        return getattr(self, "_" + type(node).__name__)(node)

    def _SNone(self, node):
        return _EMPTY

    def _STerm(self, t: STerm):
        s, e = self.snap.span(t.field, t.term)
        return self.snap.doc[s:e], self._term_score(t, s, e)

    def _term_score(self, t: STerm, s: int, e: int) -> np.ndarray:
        """term_score_col over postings ``s:e``, op for op."""
        stats, qn = self.stats, self.qn
        avg = (stats.avg_len(t.field)
               if stats.scoring == "bm25" else 0.0)
        idf = idf_value(stats.scoring, stats.doc_count, t.doc_freq, avg)
        qw = t._boost() * idf * qn if qn != 1.0 else 1.0
        tf = np.sqrt(self.snap.tf[s:e].astype(np.float64))
        norm = self.snap.norm[s:e].astype(np.float64)
        if stats.scoring == "bm25" and avg > 0:
            fl = 1.0 / (norm * norm)
            score = idf * (tf * BM25_K1) / (
                tf + BM25_K1 * ((1.0 - BM25_B) + (BM25_B * fl) / avg))
        else:
            score = tf * norm * idf
        if qw != 1.0:
            score = score * qw
        return score

    def _SConj(self, node: SConj):
        kids = node.children
        if not kids or any(type(c) is SNone for c in kids):
            return _EMPTY
        if len(kids) == 1:
            return self.run(kids[0])
        parts = [self.run(c) for c in kids]
        u, sums, cnt = _group([d for d, _ in parts], [s for _, s in parts])
        keep = cnt == len(kids)
        return u[keep], sums[keep]

    def _SDisj(self, node: SDisj):
        kids = [c for c in node.children if type(c) is not SNone]
        total = len(node.children)
        min_req = max(int(node.min), 1)
        if not kids or min_req > total:
            return _EMPTY
        parts = [self.run(c) for c in kids]
        u, sums, cnt = _group([d for d, _ in parts], [s for _, s in parts])
        keep = cnt >= min_req
        return u[keep], sums[keep] * cnt[keep].astype(np.float64) / total

    def _SBool(self, node: SBool):
        if node.must is not None and node.should is not None:
            md, ms = self.run(node.must)
            sd, ss = self.run(node.should)
            if int(node.should.min) > 0:
                doc, mi, si = np.intersect1d(md, sd, assume_unique=True,
                                             return_indices=True)
                score = ms[mi] + ss[si]
            else:
                # left join: a must doc without a should match adds 0.0
                i = np.searchsorted(sd, md)
                hit = i < len(sd)
                hit[hit] = sd[i[hit]] == md[hit]
                add = np.zeros(len(md))
                add[hit] = ss[i[hit]]
                doc, score = md, ms + add
        elif node.must is not None:
            doc, score = self.run(node.must)
        elif node.should is not None:
            doc, score = self.run(node.should)
        else:
            return _EMPTY
        if node.must_not is not None and type(node.must_not) is not SNone:
            keep = ~np.isin(doc, self.run(node.must_not)[0],
                            assume_unique=True)
            doc, score = doc[keep], score[keep]
        if node.filter is not None:
            keep = np.isin(doc, self.run(node.filter)[0],
                           assume_unique=True)
            doc, score = doc[keep], score[keep]
        return doc, score

    def _slot(self, alts: list[STerm]):
        """One phrase slot: (docs, score, sorted doc<<32|pos keys);
        alternatives union with disjunction coord over the slot."""
        snap = self.snap
        docs, scores, keys = [], [], []
        for t in alts:
            s, e = snap.span(t.field, t.term)
            docs.append(snap.doc[s:e])
            scores.append(self._term_score(t, s, e))
            d, p = snap.positions(s, e)
            keys.append((d << _POS_SHIFT) | p)
        if len(alts) == 1:
            doc, score = docs[0], scores[0]
        else:
            doc, sums, cnt = _group(docs, scores)
            score = sums * cnt.astype(np.float64) / float(len(alts))
        return doc, score, np.sort(np.concatenate(keys))

    def _SPhrase(self, node: SPhrase):
        if not node.slots:
            return _EMPTY
        slots = [self._slot(alts) for _, alts in node.slots]
        doc, score = slots[0][0], slots[0][1]
        for d, s, _ in slots[1:]:
            doc, i, j = np.intersect1d(doc, d, assume_unique=True,
                                       return_indices=True)
            score = score[i] + s[j]
        gaps = [node.slots[i][0] - node.slots[i - 1][0]
                for i in range(1, len(node.slots))]
        if node.slop == 0:
            chain = slots[0][2]
            for gap, (_, _, keys) in zip(gaps, slots[1:]):
                p = (chain & _POS_MASK) + gap
                ok = (p >= 0) & (p <= _POS_MASK)
                chain = np.intersect1d(
                    ((chain >> _POS_SHIFT) << _POS_SHIFT)[ok] | p[ok], keys)
            keep = np.isin(doc, np.unique(chain >> _POS_SHIFT))
            return doc[keep], score[keep]
        keep = np.zeros(len(doc), dtype=bool)
        bounds = []
        for _, _, keys in slots:
            kd = keys >> _POS_SHIFT
            bounds.append((keys & _POS_MASK,
                           np.searchsorted(kd, doc, side="left"),
                           np.searchsorted(kd, doc, side="right")))
        for n in range(len(doc)):
            arrays = [p[lo[n]:hi[n]].tolist() for p, lo, hi in bounds]
            keep[n] = _find_phrase_path(arrays, gaps, node.slop)
        return doc[keep], score[keep]
