"""Block-max WAND-style pruned top-k over the segment store.

The reference's only top-k pruning is the collector floor
(/root/reference/search/collector/topn.go:584-604); this module is the
block-max upgrade the north rule asks for, expressed as DataFrame
pre-join pruning:

1. every chunk row carries (max_tf, max_norm) — an upper bound on any
   BM25 contribution from that chunk is computable WITHOUT opening the
   blob (BM25 is increasing in tf and in norm — max fieldLength⁻¹);
2. θ comes from metadata alone: pareto bucket scores are ACHIEVED by
   real docs (a tf bucket below the cap holds only that exact tf), so
   the k-th highest per-chunk achieved score of the rarest term names
   k distinct docs whose final score is ≥ that value · qw/total — a
   valid θ from one tiny metadata top-k, zero blob IO;
3. a chunk of term t survives iff (bound_t(chunk) + Σ_{t'≠t}
   gmax_{t'}) · n_present/total ≥ θ — the classic block-max argument
   tightened by the max achievable coord (absent query terms can
   never match, so a doc's coord is capped below 1);
4. candidate docs are decoded from SURVIVING chunks only; the exact
   rescoring then decodes just the additional chunks whose
   [min_doc, max_doc] span overlaps a candidate doc interval — chunk
   granularity end-to-end, never "all chunks of a candidate segment"
   (on a merged single-segment store that degenerates to a full
   decode and the pruning buys nothing).

Soundness: a doc d with total(d) ≥ θ must have, for its best term t*,
bound_{t*}(chunk(d)) + Σ_{t'≠t*} gmax_{t'} ≥ partial_{t*}(d) +
Σ rest ≥ total(d) ≥ θ — so at least one of d's chunks survives and d
becomes a candidate. Every posting of a candidate doc lives in a chunk
whose [min_doc, max_doc] contains the doc, and the candidate intervals
are a superset of the candidate docs — so the rescore decode set is
complete.

The payoff at scale: pruning happens on chunk METADATA (tiny, no blob
IO, parquet column pruning) and the expensive decode touches only
surviving chunks + interval-overlapping chunks of candidate docs.
"""

from __future__ import annotations

import dataclasses
import math

import numpy as np
from pyspark.sql import DataFrame, functions as F

from bleve_spark.index.build import IndexStats
from bleve_spark.index.segments import PARETO_TF_CAP, SegmentStore
from bleve_spark import config as _cfg
from bleve_spark.search import resident
from bleve_spark.search.scorer import BM25_B, BM25_K1, idf_value
from bleve_spark.search.searcher import SDisj, STerm
from bleve_spark.session import local_frame

# candidate-span compaction: the surviving chunks' [min_doc, max_doc]
# spans coalesce (smallest gaps first) down to MAX_INTERVALS literal
# (lo, hi) ranges — the rescore overlap filter is then ≤ MAX_INTERVALS
# comparisons per chunk row, pushed into the parquet scan.
MAX_INTERVALS = 256
# when the surviving chunks hold more than this fraction of the
# query terms' postings, pruning can't win — take the one-decode
# unpruned plan instead of paying the two-stage machinery.
PRUNE_MIN_BENEFIT = 0.5
# largest surviving-chunk id set shipped as a literal scan predicate
# (row-group IO pruning); bigger sets fall back to a broadcast
# semi-join (decode pruned, scan IO not)
SURV_PREDICATE_MAX = 8192
# chunk-metadata row cap for the driver-side WAND planning fast path
# (one collect, pure numpy/python for df/θ/surviving/spans); terms
# whose metadata overflows fall back to distributed aggregation. 256k
# rows ≈ a 256M-posting term at 1024-doc chunks, ~20 MB collected.
META_COLLECT_MAX = 262_144
# candidate sets at most this many postings broadcast to the joins
# (the candidate semi-join and the doc-key join) instead of shuffling
# the corpus-sized side
BROADCAST_DOCS_MAX = 2_000_000

# planning-metadata cache: (store fingerprint, field, terms) → the
# collected chunk-metadata rows. Segments are immutable and the
# fingerprint covers the manifest set, so entries are consistent; the
# reference keeps every segment's term dictionary (FST) resident for
# exactly this reason — WAND planning on a warm term set is then zero
# Spark jobs. Bounded FIFO.
_META_CACHE: dict = {}
_META_CACHE_MAX = 128


def _score_expr(idf: float, avg_len: float, tf_col, norm_col):
    tf = F.sqrt(tf_col.cast("double"))
    norm = norm_col.cast("double")
    fl = F.lit(1.0) / (norm * norm)
    return (
        F.lit(idf)
        * (tf * F.lit(BM25_K1))
        / (tf + F.lit(BM25_K1) * (F.lit(1.0 - BM25_B)
                                  + (F.lit(BM25_B) * fl) / F.lit(avg_len)))
    )


def _bound_col(idf: float, avg_len: float, pareto: bool = False):
    """Upper-bound BM25 score for a chunk.

    Legacy bound: score(max_tf, max_norm) — sound but loose, because
    the max-tf doc and the shortest doc are usually different docs (a
    measured 2-4× overstatement that kills pruning). With ``pareto``
    (stores whose chunks carry the per-tf-bucket (tf, norm) pareto
    metadata) the bound is max over buckets of score(tf_b, norm_b) —
    near-exact, evaluated JVM-side over the tiny metadata arrays; null
    pareto rows (legacy segments in a mixed store) fall back."""
    legacy = _score_expr(idf, avg_len, F.col("max_tf"),
                         F.col("max_norm"))
    if not pareto:
        return legacy
    tight = F.array_max(
        F.zip_with(
            "pareto_tf", "pareto_norm",
            lambda t, n: _score_expr(idf, avg_len, t, n),
        )
    )
    return F.coalesce(tight, legacy)


def _coalesce_intervals(
    pairs: list[tuple[int, int]],
) -> list[tuple[int, int]]:
    """Coalesce [lo, hi] doc spans into ≤ MAX_INTERVALS ranges — a
    SUPERSET (merging only widens coverage, never drops a doc). Sorted
    merge of overlapping/adjacent spans, then the smallest inter-span
    gaps close first until the count is bounded, so the rescore
    overlap predicate stays a short whole-stage-codegen OR-chain."""
    if not pairs:
        return []
    arr = np.asarray(sorted(pairs), dtype=np.int64)
    lo_all, hi_all = arr[:, 0], arr[:, 1]
    # merge overlapping/adjacent spans (input sorted by lo)
    hi_run = np.maximum.accumulate(hi_all)
    breaks = np.nonzero(lo_all[1:] > hi_run[:-1] + 1)[0]
    lo_i = np.concatenate(([0], breaks + 1))
    hi_i = np.concatenate((breaks, [arr.shape[0] - 1]))
    lo = lo_all[lo_i]
    hi = hi_run[hi_i]
    while lo.size > MAX_INTERVALS:
        gaps = lo[1:] - hi[:-1]
        order = np.argsort(gaps)
        n_close = lo.size - MAX_INTERVALS
        drop = np.sort(order[:n_close])
        keep_lo = np.ones(lo.size, dtype=bool)
        keep_hi = np.ones(hi.size, dtype=bool)
        keep_lo[drop + 1] = False  # merged into the left neighbour
        keep_hi[drop] = False
        lo, hi = lo[keep_lo], hi[keep_hi]
    return [(int(a), int(b)) for a, b in zip(lo, hi)]


def _resident_topk(spark, snap, stats: IndexStats, field: str,
                   terms: list[str], k: int) -> DataFrame:
    """The plan's answer scored on a store snapshot: ``SDisj([STerm…],
    min=1)`` through the resident evaluator, with the plan's
    statistics — BM25 idf from ``stats`` over the at-rest df, and
    queryNorm over every query term."""
    dfs = snap.doc_freq.get(field, {})
    node = SDisj([STerm(field, t, 1.0, dfs.get(t, 0)) for t in terms],
                 min=1)
    idfs = [idf_value("bm25", stats.doc_count, c.doc_freq,
                      stats.avg_len(field)) for c in node.children]
    qn = 1.0 / math.sqrt(sum(i ** 2 for i in idfs))
    bm25 = dataclasses.replace(stats, scoring="bm25")
    return resident.hits_for(snap, bm25, node, qn).frame(spark, k)


def pruned_disjunction_topk(
    store: SegmentStore,
    stats: IndexStats,
    key_cols: list[str],
    field: str,
    terms: list[str],
    k: int = 10,
) -> DataFrame:
    """Top-k (keys..., score) for a scored OR of ``terms`` with
    block-max pruning. Plain disjunction semantics (sum × coord over
    all terms, min=1, root queryNorm) — rank-identical to the unpruned
    plan (asserted in tests).

    A store within the resident bound is answered on the driver from
    its segment files (:func:`resident.store_snapshot`), with no Spark
    job; bigger and legacy stores take the block-max plan below.

    Returns a driver-local frame (``session.LocalFrame``) of ≤ k rows:
    the internal decode caches are unpersisted before returning, so
    repeated calls in a long-lived driver don't accumulate cached
    blocks, and collecting the answer starts no Spark job."""
    from bleve_spark.index.segments import decode_chunk_rows

    spark = store.spark
    snap = resident.store_snapshot(store, key_cols)
    if snap is not None:
        return _resident_topk(spark, snap, stats, field, terms, k)
    chunks = store.chunk_rows().where(
        (F.col("field") == field) & F.col("term").isin(terms)
    ).persist()
    try:
        avg = stats.avg_len(field)
        use_pareto = "pareto_tf" in chunks.columns
        achieved_raw = None
        if use_pareto:
            achieved_raw = F.array_max(
                F.zip_with(
                    "pareto_tf", "pareto_norm",
                    lambda t, n: _score_expr(
                        1.0, avg,
                        F.least(t, F.lit(PARETO_TF_CAP)), n,
                    ),
                )
            )
        # ---- metadata phase. Fast path: when the query terms' chunk
        # metadata fits META_COLLECT_MAX rows (it almost always does —
        # a term needs >256M postings to overflow), collect it ONCE
        # and derive df / gmax / θ / surviving / candidate spans with
        # driver-side numpy: the whole WAND decision costs a single
        # small Spark job. Oversized terms fall back to ONE
        # distributed df/gmax aggregation and the plain unpruned
        # disjunction plan (the pruned plan is driver-metadata-only,
        # so no θ/surviving jobs are paid on that path — r7).
        meta_cols = [
            "segment_id", "term", "chunk_id", "n_docs",
            "min_doc", "max_doc",
            _bound_col(1.0, avg, use_pareto).alias("_b"),
        ]
        if achieved_raw is not None:
            meta_cols.append(achieved_raw.alias("_a"))
        cache_key = (
            store.fingerprint(), field, tuple(sorted(terms)),
        )
        head = _META_CACHE.get(cache_key)
        if head is None:
            head = chunks.select(*meta_cols).limit(
                META_COLLECT_MAX + 1
            ).collect()
            if len(_META_CACHE) >= _META_CACHE_MAX:
                _META_CACHE.pop(next(iter(_META_CACHE)))
            _META_CACHE[cache_key] = head
        driver_meta = len(head) <= META_COLLECT_MAX
        if driver_meta:
            df_by_term = {}
            raw_max = {}
            for r in head:
                t = r["term"]
                df_by_term[t] = df_by_term.get(t, 0) + int(r["n_docs"])
                b = float(r["_b"]) if r["_b"] is not None else 0.0
                if b > raw_max.get(t, 0.0):
                    raw_max[t] = b
        else:
            head = None
            meta_rows = (
                chunks.groupBy("term")
                .agg(
                    F.sum("n_docs").alias("df"),
                    F.max(
                        _bound_col(1.0, avg, use_pareto)
                    ).alias("_raw"),
                )
                .collect()
            )
            df_by_term = {r["term"]: int(r["df"]) for r in meta_rows}
            raw_max = {r["term"]: float(r["_raw"]) for r in meta_rows}
        idfs = {
            t: idf_value("bm25", stats.doc_count, df_by_term.get(t, 0),
                         stats.avg_len(field))
            for t in terms
        }
        qn = 1.0 / math.sqrt(sum((idfs[t]) ** 2 for t in terms))
        total = float(len(terms))
        qw = {t: idfs[t] * qn for t in terms}  # per-leaf queryWeight

        # Contribution of term t to a doc's pre-coord sum is
        # base_t(d)·qw_t (base includes idf once). Coord ≤ 1 gives
        # S(d) ≤ Σ_t base_t(d)·qw_t ≤ B_{t*}(chunk) + Σ_{t'≠t*} Gmax.
        gmax = {
            t: raw_max.get(t, 0.0) * idfs[t] * qw[t] for t in terms
        }

        present = [t for t in terms if df_by_term.get(t, 0) > 0]
        if not present:
            empty = store.doc_table().select(*key_cols).where(
                F.lit(False)
            ).withColumn("score", F.lit(0.0))
            return local_frame(
                spark, {c: [] for c in empty.columns}, empty.schema)
        rare = min(present, key=lambda t: df_by_term[t])
        # coord-aware bound tightening: a doc can match at most the
        # PRESENT terms, so coord ≤ n_present/total and
        # S(d) ≤ (B_t + Σ_{present t'≠t} Gmax) · n_present/total.
        # With absent query terms (df=0) this halves/shrinks the bound
        # side and lets single-effective-term top-k prune for real
        # (absent terms contribute gmax=0 to `others` already).
        coord_max = float(len(present)) / total

        sum_gmax = sum(gmax.values())
        total_postings = sum(df_by_term.values())
        use_lens = store.has_posting_lens()
        blob_rows = store.chunk_rows(with_blobs=True).where(
            (F.col("field") == field) & F.col("term").isin(terms)
        )
        spread = total_postings >= _cfg.SPREAD_MIN_DF
        dels = store.deletions()

        # ---- θ with ZERO decode: the pareto buckets are ACHIEVED
        # scores. A bucket b < PARETO_TF_CAP holds only tf==b docs, so
        # score(b, norm_b) is a real doc's exact partial; the overflow
        # bucket's doc has tf ≥ CAP, and score is increasing in tf, so
        # score(CAP, norm_ovf) is an achieved lower bound too. The
        # k-th highest per-chunk achieved score over the rare term's
        # chunks therefore names k distinct docs (one per chunk) whose
        # final ≥ achieved·qw_rare/total — a valid θ from one tiny
        # metadata top-k, no blob IO at all. Legacy stores (no pareto)
        # have no achieved metadata: θ stays 0 and the call degrades
        # to the plain one-decode disjunction plan.
        theta = 0.0
        surv_postings = total_postings
        if use_pareto and dels is None and driver_meta:
            # deleted docs would poison the achieved-score θ (their
            # pareto entries still name them), so stores with live
            # deletions skip pruning; merges reclaim deletes, so the
            # steady at-rest state prunes. The pruned plan itself
            # (interval coalescing, InSet chunk predicates) is
            # driver-metadata-only, so when the metadata overflowed
            # META_COLLECT_MAX there is no point paying θ/surviving
            # jobs whose result can't be applied (r6 ADVICE): the
            # overflow path goes straight to the plain one-decode
            # disjunction plan below.
            av = sorted(
                (
                    float(r["_a"]) for r in head
                    if r["term"] == rare and r["_a"] is not None
                ),
                reverse=True,
            )
            if len(av) >= k:
                theta = av[k - 1] * idfs[rare] * qw[rare] / total

        # ---- effectiveness guard under θ: the surviving set (chunk
        # of t survives iff (B_t + Σ_{t'≠t} Gmax)·coord_max ≥ θ) both
        # decides whether pruning wins AND yields (a) the surviving
        # chunk ids for the candidacy test and (b) their [min_doc,
        # max_doc] spans for the rescore overlap predicate. With
        # driver-resident metadata it is a pure python filter; the
        # distributed fallback pays one capped collect. Overflow
        # (> SURV_PREDICATE_MAX rows) means pruning kept too much to
        # win anyway.
        surv_rows = None
        if theta > 0.0:
            # θ > 0 implies driver_meta (above): pure python filter
            # over the resident metadata, zero extra jobs
            others_of = {
                t: sum_gmax - gmax[t] for t in terms
            }
            iq = {t: idfs[t] * qw[t] for t in terms}
            surv_rows = [
                r for r in head
                if ((float(r["_b"]) if r["_b"] is not None
                     else 0.0) * iq[r["term"]]
                    + others_of[r["term"]]) * coord_max >= theta
            ]
            if len(surv_rows) > SURV_PREDICATE_MAX:
                surv_rows = None
            if surv_rows is not None:
                surv_postings = sum(
                    int(r["n_docs"]) for r in surv_rows
                )
        prune_wins = (
            theta > 0.0
            and surv_rows is not None
            and surv_postings < PRUNE_MIN_BENEFIT * total_postings
        )
        cand_intervals = None
        small_cand = False

        if prune_wins and driver_meta:
            # ONE postings scan serves both stages, and the scan's
            # chunk set is computed EXACTLY on the driver: the rescore
            # needs, for every term, the chunks whose [min_doc,
            # max_doc] span overlaps a surviving chunk's span
            # (candidates live inside those spans) — a numpy interval
            # intersection over the already-collected metadata.
            # Shipping the result as per-(segment, term) chunk_id
            # IN-lists keeps the pushed predicate InSet-shaped (O(1)
            # hash per row-group/row); a wide comparison OR-chain was
            # measured to cost ~2s of Catalyst codegen per query.
            # Candidacy is a LITERAL is-surviving column on the
            # decoded rows — docs whose per-doc group has no
            # surviving-chunk posting drop at the aggregate. No
            # candidate pre-decode, no semi-join, no persist.
            # (prune_wins implies no live deletions — the θ guard.)
            import functools
            import operator
            from collections import defaultdict

            spans = _coalesce_intervals([
                (int(r["min_doc"]), int(r["max_doc"]))
                for r in surv_rows
            ])
            los = np.asarray([s[0] for s in spans], dtype=np.int64)
            his = np.asarray([s[1] for s in spans], dtype=np.int64)
            cmin = np.asarray(
                [int(r["min_doc"]) for r in head], dtype=np.int64
            )
            cmax = np.asarray(
                [int(r["max_doc"]) for r in head], dtype=np.int64
            )
            # spans are disjoint + sorted, so the only span that can
            # overlap chunk c is the last one starting ≤ c.max_doc
            idx = np.searchsorted(los, cmax, side="right") - 1
            ok = (idx >= 0) & (
                his[np.maximum(idx, 0)] >= cmin
            )
            rescore = [r for r, keep in zip(head, ok) if keep]
            cand_intervals = spans
            small_cand = surv_postings <= BROADCAST_DOCS_MAX

            def _chunk_pred(rows):
                by_st: dict = defaultdict(list)
                for r in rows:
                    by_st[(int(r["segment_id"]), r["term"])].append(
                        int(r["chunk_id"])
                    )
                return functools.reduce(operator.or_, [
                    (F.col("segment_id") == sg)
                    & (F.col("term") == t)
                    & F.col("chunk_id").isin(cids)
                    for (sg, t), cids in by_st.items()
                ])

            rescore_postings = sum(int(r["n_docs"]) for r in rescore)
            decoded = decode_chunk_rows(
                blob_rows.where(_chunk_pred(rescore)),
                with_positions=False, with_norm=use_lens,
                with_chunk=True,
                # spread by the PRUNED decode size — the unpruned
                # term df would force a pointless repartition stage
                # over a few hundred rows
                spread=rescore_postings >= _cfg.SPREAD_MIN_DF,
            ).withColumn("_surv", _chunk_pred(surv_rows))
        else:
            # pruning can't win (θ=0 or survivors ≈ everything):
            # single unpruned decode — the plain bulk-disjunction plan
            decoded = decode_chunk_rows(
                blob_rows, with_positions=False, with_norm=use_lens,
                spread=spread,
            )
            if dels is not None:
                decoded = decoded.join(dels, "doc_num", "left_anti")

        meta = local_frame(
            spark,
            {"term": list(terms),
             "idf": [float(idfs[t]) for t in terms],
             "qw": [float(idfs[t] * qn) for t in terms]},
            "term string, idf double, qw double",
        )
        tf = F.sqrt(F.col("tf").cast("double"))
        if use_lens:
            # norm rides in the postings: score + aggregate on
            # doc_num alone; the doc table enters only AFTER the
            # per-doc aggregation — a join over matched candidates,
            # not a corpus-sized norm lookup per posting
            joined = decoded.join(F.broadcast(meta), "term")
            norm = F.col("norm").cast("double")
        else:
            docs = store.doc_table().select(
                "doc_num", F.col(f"len_{field}").alias("_len")
            )
            joined = decoded.join(docs, "doc_num").join(
                F.broadcast(meta), "term"
            )
            norm = F.when(
                F.col("_len") > 0,
                (F.lit(1.0) / F.sqrt(F.col("_len"))).cast("float"),
            ).cast("double")
        fl = F.lit(1.0) / (norm * norm)
        s = (
            F.col("idf") * (tf * F.lit(BM25_K1))
            / (tf + F.lit(BM25_K1) * (F.lit(1.0 - BM25_B)
                                      + (F.lit(BM25_B) * fl)
                                      / F.lit(avg)))
        ) * F.col("qw")
        sel = ["doc_num", s.alias("s")]
        aggs = [
            F.sum("s").alias("_sum"), F.count(F.lit(1)).alias("_cnt"),
        ]
        if cand_intervals is not None:
            sel.append(F.col("_surv"))
            aggs.append(F.max("_surv").alias("_cand"))
        agg = joined.select(*sel).groupBy("doc_num").agg(*aggs)
        if cand_intervals is not None:
            # the overlap spans are a SUPERSET of the candidates: only
            # docs with at least one surviving-chunk posting can reach
            # the top-k (the block-max argument)
            agg = agg.where(F.col("_cand"))
        per_doc = agg.select(
            "doc_num",
            (F.col("_sum") * F.col("_cnt").cast("double")
             / F.lit(total)).alias("score"),
        )
        doc_keys = store.doc_table().select("doc_num", *key_cols)
        # keys resolve AFTER aggregation; the small per-doc side
        # broadcasts when bounded, so the key join scans the doc
        # table without shuffling it
        pd_side = F.broadcast(per_doc) if small_cand else per_doc
        result = doc_keys.join(pd_side, "doc_num").select(
            *key_cols, "score"
        )
        order = [F.col("score").desc()] + [
            F.col(c).asc() for c in key_cols
        ]
        topk = result.orderBy(*order).limit(k)
        # collect (≤ k rows) so every cache this call created can be
        # released before returning — a lazy return would leak the
        # persisted decode across queries in a long-lived driver; the
        # rows stay on the driver until a JVM operation needs them
        return local_frame(spark, topk.toArrow(), topk.schema)
    finally:
        chunks.unpersist()
