"""At-rest segment store: immutable, sorted, delta+varint postings.

Mirrors the reference's offline Builder
(/root/reference/index/scorch/builder.go:28-29,116-167): stage 1 builds
partition-local immutable segments (analyze → sort → encode), stage 2
(:mod:`bleve_spark.index.merge`) runs ≤10-way merge rounds. Each
segment carries a manifest with lineage + postings/sec metrics
(persister epochs analogue, /root/reference/index/scorch/persister.go:630)
and builds are resumable: a completed segment's manifest short-circuits
its rebuild.

Layout under ``<root>/``:

* ``postings/seg=<id>/part.parquet`` — one row per (field, term, chunk):
  ``n_docs, doc_blob, tf_blob, pos_blob, max_tf, max_norm, min_doc,
  max_doc, pareto_tf, pareto_norm`` — blobs are delta+varint (doc-num
  gaps, tfs, per-doc position deltas); ``max_tf``/``max_norm`` plus
  the per-tf-bucket (tf, norm) pareto arrays are the block-max
  metadata driving WAND-style pruning (the pareto pairs make the
  chunk bound near-exact instead of 2-4× loose) (bleve's only analogue is the collector
  floor, /root/reference/search/collector/topn.go:584-604 — ours is a
  real pre-join block skip);
* ``docs/seg=<id>/part.parquet`` — doc table: local doc_num → key cols
  + per-field token counts (norms derive as float32(1/√len));
* ``manifest/seg=<id>.json`` — doc_count, postings, unique terms,
  bytes, build seconds, postings/sec.

Doc numbering: ``doc_num = segment_id·2^40 + local`` — stable, unique,
and independent of cluster parallelism (segment assignment hashes the
key columns; within a segment docs sort by key). Query-time tie-breaks
always use the key columns, so doc-num layout is internal only.

Why parquet for blobs: term and field are plain columns, so a term
query's chunk fetch is parquet predicate pushdown + column pruning —
the dictionary-FST role is played by the parquet/row-group index, and
only matching rows' blobs are ever decoded.
"""

from __future__ import annotations

import json
import math
import os
import time

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F

from bleve_spark.analysis.analyzers import get_analyzer
from bleve_spark.index.build import IndexedTable, IndexStats, group_tokens
from bleve_spark.index.varint import (
    decode_positions,
    delta_decode_sorted,
    varint_decode,
    varint_encode_with_ends,
)

SEG_SHIFT = 40  # doc_num = seg << 40 | local
DEFAULT_CHUNK_DOCS = 1024
# tf bucket count for the per-chunk (tf, norm) pareto bound metadata;
# tf > CAP folds into one overflow bucket (still an upper bound)
PARETO_TF_CAP = 32


def _posting_schema() -> str:
    return (
        "segment_id int, field string, term string, chunk_id long, "
        "n_docs int, doc_blob binary, tf_blob binary, pos_blob binary, "
        "len_blob binary, "
        "max_tf int, max_norm float, min_doc long, max_doc long, "
        "pareto_tf array<long>, pareto_norm array<double>"
    )


def _stats_schema() -> str:
    return (
        "segment_id int, doc_count long, postings long, unique_terms long, "
        "bytes long, seconds double, postings_per_sec double, "
        "resumed boolean"
    )


def _seg_paths(root: str, seg: int):
    return (
        os.path.join(root, "postings", f"seg={seg}"),
        os.path.join(root, "docs", f"seg={seg}"),
        os.path.join(root, "manifest", f"seg={seg}.json"),
    )


def _str_for_index(v) -> str:
    """Map-value → indexed text, mirroring Spark's string cast for the
    types the dynamic-map path accepts (the in-memory twin casts the
    exploded value column to string JVM-side)."""
    if isinstance(v, str):
        return v
    if isinstance(v, bool):
        return "true" if v else "false"
    return str(v)


def _build_one_segment(
    seg: int,
    tbl,
    key_cols: list[str],
    fields: dict[str, str],
    root: str,
    chunk_docs: int,
    composite: dict | None = None,
    dynamic_maps: list | None = None,
) -> dict:
    """Analyze + encode one segment (runs inside an executor task).

    ``tbl`` is a pyarrow Table — the build stays Arrow end-to-end (no
    pandas materialization; per-worker allocator churn from object-
    dtype frames was a measured 5-10× CPU inflation at local[32]).
    Fully vectorized: one batch-analyzer pass per field, then NumPy
    group arithmetic (lexsort + boundary flags + reduceat) to derive
    (term, doc) postings, and ONE varint encode per stream with the
    per-chunk blobs cut out of it by byte offset — no per-token or
    per-term Python in the hot path."""
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    t0 = time.time()
    order_idx = pc.sort_indices(
        tbl, sort_keys=[(k, "ascending") for k in key_cols]
    )
    tbl = tbl.take(order_idx)
    n = tbl.num_rows
    base = np.int64(seg) << np.int64(SEG_SHIFT)

    doc_tbl = {"doc_num": pa.array(base + np.arange(n, dtype=np.int64))}
    for k in key_cols:
        doc_tbl[k] = tbl.column(k).combine_chunks()

    col_parts: dict[str, list] = {
        "segment_id": [], "field": [], "term": [], "chunk_id": [],
        "n_docs": [], "doc_blob": [], "tf_blob": [], "pos_blob": [],
        "len_blob": [],
        "max_tf": [], "max_norm": [], "min_doc": [], "max_doc": [],
        "pareto_tf": [], "pareto_norm": [],
    }
    n_postings = 0
    uniq_terms = 0

    def _emit(fname, flens, doc_idx, codes, vocab, pos):
        """Encode one (field, token-stream) into chunked blobs — the
        shared tail for plain fields AND composite streams."""
        nonlocal n_postings, uniq_terms
        doc_tbl[f"len_{fname}"] = pa.array(flens)
        uniq_terms += len(vocab)
        if len(codes) == 0:
            return

        norms = np.where(
            flens > 0, 1.0 / np.sqrt(np.maximum(flens, 1)), 0.0
        ).astype(np.float32)

        # ---- (term, doc) posting groups over the sorted token stream
        grp = group_tokens(codes, doc_idx, pos)
        p = grp.pos
        N = len(p)
        gs = grp.offsets[:-1]                    # group start (token idx)
        G = len(gs)
        tf = grp.tf
        g_c = grp.term                           # per-group term code
        g_d = grp.doc                            # per-group local doc
        n_postings += G

        # ---- chunk layout: ≤chunk_docs docs per (term, chunk)
        tch = np.empty(G, dtype=bool)
        tch[0] = True
        tch[1:] = g_c[1:] != g_c[:-1]
        ts_ = np.flatnonzero(tch)                # term start (group idx)
        t_counts = np.diff(np.append(ts_, G))
        grp_rank = np.arange(G) - np.repeat(ts_, t_counts)
        is_cs = (grp_rank % chunk_docs) == 0
        cs = np.flatnonzero(is_cs)               # chunk start (group idx)
        c_counts = np.diff(np.append(cs, G))
        chunk_last = cs + c_counts - 1

        # ---- doc stream: LOCAL doc num at chunk start, gaps within.
        # Local (not global) chunk-start values keep every varint ≤3
        # bytes — absolute seg<<40 ids would force 7-byte varints and
        # ~2.5× the encode/decode memory traffic; readers add the
        # segment base back from the row's segment_id.
        g_doc = g_d.astype(np.int64) + int(base)
        dd = np.empty(G, dtype=np.int64)
        dd[1:] = g_doc[1:] - g_doc[:-1]
        dd[cs] = g_d[cs]
        doc_bytes, doc_ends = varint_encode_with_ends(
            dd.astype(np.uint64)
        )
        tf_bytes, tf_ends = varint_encode_with_ends(tf.astype(np.uint64))

        # ---- length stream: the posting doc's field token count, one
        # varint per posting group (the reference's zap format carries
        # freq|norm interleaved per posting — index/scorch/segment
        # postings details; storing it here lets scoring read norms
        # straight off the postings instead of joining the doc table)
        len_bytes, len_ends = varint_encode_with_ends(
            flens[g_d].astype(np.uint64)
        )

        # ---- positions stream: per group [tf, abs_pos, deltas...]
        pp = np.empty(N, dtype=np.int32)
        pp[1:] = p[1:] - p[:-1]
        pp[gs] = p[gs]
        grp_id = np.repeat(np.arange(G), tf)
        stream = np.empty(N + G, dtype=np.uint64)
        g_head = gs + np.arange(G)               # group head in stream
        stream[g_head] = tf.astype(np.uint64)
        stream[np.arange(N) + grp_id + 1] = pp.astype(np.uint64)
        pos_bytes, pos_ends = varint_encode_with_ends(stream)

        # ---- per-chunk byte spans (slice, don't re-encode)
        d_lo = np.where(cs > 0, doc_ends[cs - 1], 0)
        d_hi = doc_ends[chunk_last]
        t_lo = np.where(cs > 0, tf_ends[cs - 1], 0)
        t_hi = tf_ends[chunk_last]
        l_lo = np.where(cs > 0, len_ends[cs - 1], 0)
        l_hi = len_ends[chunk_last]
        p_lo_idx = g_head[cs]
        p_hi_idx = g_head[chunk_last] + tf[chunk_last]  # last stream slot
        p_lo = np.where(p_lo_idx > 0, pos_ends[p_lo_idx - 1], 0)
        p_hi = pos_ends[p_hi_idx]

        max_tf_c = np.maximum.reduceat(tf, cs)
        max_norm_c = np.maximum.reduceat(norms[g_d], cs)

        n_chunks = len(cs)
        mv_d = memoryview(doc_bytes)
        mv_t = memoryview(tf_bytes)
        mv_p = memoryview(pos_bytes)
        col_parts["segment_id"].append(
            np.full(n_chunks, seg, dtype=np.int32)
        )
        col_parts["field"].append([fname] * n_chunks)
        col_parts["term"].append(vocab[g_c[cs]])
        col_parts["chunk_id"].append(
            (grp_rank[cs] // chunk_docs).astype(np.int64)
        )
        col_parts["n_docs"].append(c_counts.astype(np.int32))
        col_parts["doc_blob"].append(
            [bytes(mv_d[a:b]) for a, b in zip(d_lo, d_hi)]
        )
        col_parts["tf_blob"].append(
            [bytes(mv_t[a:b]) for a, b in zip(t_lo, t_hi)]
        )
        col_parts["pos_blob"].append(
            [bytes(mv_p[a:b]) for a, b in zip(p_lo, p_hi)]
        )
        mv_l = memoryview(len_bytes)
        col_parts["len_blob"].append(
            [bytes(mv_l[a:b]) for a, b in zip(l_lo, l_hi)]
        )
        col_parts["max_tf"].append(max_tf_c.astype(np.int32))
        col_parts["max_norm"].append(max_norm_c)
        col_parts["min_doc"].append(g_doc[cs])
        col_parts["max_doc"].append(g_doc[chunk_last])

        # ---- per-chunk (tf, norm) pareto buckets: for every tf
        # bucket (1..PARETO_TF_CAP, + one overflow) the bucket's max
        # tf and max norm. The query-time chunk bound is then
        # max over buckets of score(tf_b, norm_b) — near-exact,
        # because a chunk's loose (max_tf, max_norm) pair routinely
        # overstates the best achievable score 2-4x (the max-tf doc
        # and the shortest doc are different docs), which is the
        # difference between block-max WAND pruning 98% of chunks and
        # pruning none (measured on the 20M store: exact bounds keep
        # 162/7500 chunks for a hot-term top-10).
        chunk_of = np.repeat(np.arange(n_chunks), c_counts)
        bkt = np.minimum(tf, PARETO_TF_CAP).astype(np.int64)
        key = chunk_of * (PARETO_TF_CAP + 1) + bkt
        acc_n = np.zeros(n_chunks * (PARETO_TF_CAP + 1),
                         dtype=np.float64)
        np.maximum.at(acc_n, key, norms[g_d].astype(np.float64))
        acc_t = np.zeros(n_chunks * (PARETO_TF_CAP + 1),
                         dtype=np.int64)
        np.maximum.at(acc_t, key, tf)
        acc_n = acc_n.reshape(n_chunks, PARETO_TF_CAP + 1)
        acc_t = acc_t.reshape(n_chunks, PARETO_TF_CAP + 1)
        p_tf, p_norm = [], []
        for i in range(n_chunks):
            nz = np.flatnonzero(acc_t[i])
            p_tf.append(acc_t[i, nz].tolist())
            p_norm.append(acc_n[i, nz].tolist())
        col_parts["pareto_tf"].append(p_tf)
        col_parts["pareto_norm"].append(p_norm)

    def _analyze_column(member, aname):
        """(flens, doc_idx, codes, vocab, pos) for a scalar string OR
        array<string> column. Arrays follow bleve's same-name field
        instances (document/document.go:35,173-181): per-element
        analysis, summed lengths, element-local positions carrying the
        element index via the stride (phrase adjacency requires equal
        ArrayPositions, search/search.go:108-114) — byte-identical to
        the DataFrame path's _array_text_postings."""
        from bleve_spark.index.build import ARRAY_POSITION_STRIDE

        col = tbl.column(member)
        if pa.types.is_list(col.type) or pa.types.is_large_list(col.type):
            lists = col.to_pylist()
            flat: list = []
            row_of_elem: list[int] = []
            apos_of_elem: list[int] = []
            for i, lst in enumerate(lists):
                if not lst:
                    continue
                for j, s in enumerate(lst):
                    flat.append(s)
                    row_of_elem.append(i)
                    apos_of_elem.append(j)
            eflens, edoc, codes, vocab, epos = \
                get_analyzer(aname).analyze_batch(flat)
            roe = np.asarray(row_of_elem, dtype=np.int64)
            ape = np.asarray(apos_of_elem, dtype=np.int64)
            flens = np.zeros(n, dtype=np.int64)
            if len(roe):
                np.add.at(flens, roe, eflens)
            if len(edoc) == 0:
                return (flens, edoc, codes, vocab, epos)
            doc_idx = roe[edoc].astype(np.int32)
            pos = (
                epos.astype(np.int64)
                + ape[edoc] * ARRAY_POSITION_STRIDE
            ).astype(np.int32)
            return (flens, doc_idx, codes, vocab, pos)
        return get_analyzer(aname).analyze_batch(col.to_pylist())

    analysis_cache: dict[str, tuple] = {}
    for fname, aname in fields.items():
        res = _analyze_column(fname, aname)
        analysis_cache[fname] = res
        _emit(fname, *res)

    # dynamic MapType columns AT REST: bleve indexes unseen JSON
    # object keys via reflection (mapping/document.go:425
    # walkDocument); here the map explodes in-task into data-driven
    # "<path>.<key>" field streams — each key its own field instance
    # with its own length/norm (len_<path>.<key> doc columns), same
    # semantics as the in-memory build._dynamic_map_postings
    dyn_fields: list[str] = []
    for path, aname in (dynamic_maps or []):
        entries = tbl.column(path).to_pylist()
        by_field: dict[str, tuple[list, list]] = {}
        for i, m in enumerate(entries):
            if not m:
                continue
            items = m.items() if isinstance(m, dict) else m
            for k, v in items:
                if v is None:
                    continue
                rows_l, texts = by_field.setdefault(
                    f"{path}.{k}", ([], [])
                )
                rows_l.append(i)
                texts.append(_str_for_index(v))
        for fname in sorted(by_field):
            rows_l, texts = by_field[fname]
            eflens, edoc, codes, vocab, epos = get_analyzer(
                aname
            ).analyze_batch(texts)
            roe = np.asarray(rows_l, dtype=np.int64)
            flens = np.zeros(n, dtype=np.int64)
            np.add.at(flens, roe, eflens)
            if len(edoc):
                doc_idx = roe[edoc].astype(np.int32)
                pos = epos.astype(np.int32)
            else:
                doc_idx, pos = edoc, epos
            _emit(fname, flens, doc_idx, codes, vocab, pos)
            dyn_fields.append(fname)

    # composite fields (the reference's `_all`) AT REST: member token
    # streams merge with member-LOCAL positions, summed lengths, and
    # typed members contribute their 16 prefix-coded trie terms /
    # boolean T-F token (field_composite.go Compose +
    # field_numeric.go:94-116) — same semantics as the DataFrame-path
    # _composite_postings, encoded through the shared emitter
    for cname, members in (composite or {}).items():
        flen_total = np.zeros(n, dtype=np.int64)
        di_parts: list[np.ndarray] = []
        po_parts: list[np.ndarray] = []
        tm_parts: list[np.ndarray] = []
        for member, kind, aname in members:
            if kind in ("text", "text_array"):
                res = analysis_cache.get(member)
                if res is None:
                    res = _analyze_column(member, aname or "standard")
                flens_m, di_m, co_m, vo_m, po_m = res
                flen_total += flens_m
                if len(co_m):
                    di_parts.append(di_m.astype(np.int64))
                    po_parts.append(po_m.astype(np.int64))
                    tm_parts.append(vo_m[co_m])
            elif kind == "boolean":
                vals = tbl.column(member).to_pylist()
                idxs = np.array(
                    [i for i, v in enumerate(vals) if v is not None],
                    dtype=np.int64,
                )
                if len(idxs):
                    flen_total[idxs] += 1
                    di_parts.append(idxs)
                    po_parts.append(np.ones(len(idxs), dtype=np.int64))
                    tm_parts.append(np.array(
                        ["T" if vals[i] else "F" for i in idxs],
                        dtype=object,
                    ))
            elif kind in ("numeric", "datetime"):
                from bleve_spark.index.numeric_terms import (
                    SHIFTS,
                    doubles_to_sortable,
                    trie_terms_batch,
                )

                col = tbl.column(member)
                if kind == "datetime":
                    # bleve indexes UnixNano (field_datetime.go);
                    # fill_null BEFORE to_numpy — int64-with-nulls
                    # would otherwise convert to float64/NaN
                    micros = pc.fill_null(
                        pc.cast(col.cast(pa.timestamp("us")),
                                pa.int64()),
                        0,
                    ).to_numpy(zero_copy_only=False).astype(np.int64)
                    valid = pc.is_valid(col).to_numpy(
                        zero_copy_only=False
                    )
                    iv = micros[valid] * 1000
                else:
                    vals = col.cast(pa.float64()).to_numpy(
                        zero_copy_only=False
                    )
                    valid = ~np.isnan(vals)
                    iv = doubles_to_sortable(vals[valid])
                orig = np.flatnonzero(valid)
                if len(orig):
                    row_idx, terms = trie_terms_batch(iv)
                    flen_total[orig] += len(SHIFTS)
                    di_parts.append(orig[row_idx])
                    po_parts.append(
                        np.ones(len(row_idx), dtype=np.int64)
                    )
                    tm_parts.append(np.asarray(terms, dtype=object))
        if not tm_parts:
            _emit(cname, flen_total,
                  np.array([], dtype=np.int32),
                  np.array([], dtype=np.int32),
                  np.array([], dtype=object),
                  np.array([], dtype=np.int32))
            continue
        terms_all = np.concatenate(tm_parts)
        vocab_c, codes_c = np.unique(terms_all, return_inverse=True)
        _emit(
            cname,
            flen_total,
            np.concatenate(di_parts).astype(np.int32),
            codes_c.astype(np.int32),
            vocab_c.astype(object),
            np.concatenate(po_parts).astype(np.int32),
        )

    rows = {
        k: (
            np.concatenate(v)
            if v and isinstance(v[0], np.ndarray)
            else [x for part in v for x in part]
        )
        for k, v in col_parts.items()
    }

    pdir, ddir, mpath = _seg_paths(root, seg)
    os.makedirs(pdir, exist_ok=True)
    os.makedirs(ddir, exist_ok=True)
    os.makedirs(os.path.dirname(mpath), exist_ok=True)

    ptbl = pa.table(rows)
    pq.write_table(ptbl, os.path.join(pdir, "part.parquet"))
    dtbl = pa.table(doc_tbl)
    pq.write_table(dtbl, os.path.join(ddir, "part.parquet"))

    secs = time.time() - t0
    nbytes = int(
        sum(len(b) for b in rows["doc_blob"])
        + sum(len(b) for b in rows["tf_blob"])
        + sum(len(b) for b in rows["pos_blob"])
    )
    manifest = {
        "segment_id": seg,
        "doc_count": int(n),
        "postings": int(n_postings),
        "unique_terms": int(uniq_terms),
        "bytes": nbytes,
        "seconds": secs,
        "postings_per_sec": (n_postings / secs) if secs > 0 else 0.0,
        "fields": list(fields),
        "key_cols": key_cols,
        # chunk rows carry a len_blob (per-posting field length →
        # norm); scoring reads skip the doc-table norm join
        "posting_lens": True,
    }
    if dyn_fields:
        # flags the store: doc-table reads must mergeSchema (each
        # segment's len_<path>.<key> column set is data-driven)
        manifest["dynamic_fields"] = dyn_fields
    tmp = mpath + ".tmp"
    with open(tmp, "w") as f:
        json.dump(manifest, f)
    os.replace(tmp, mpath)  # atomic commit — the introducer's swap
    return manifest


def build_segments(
    df: DataFrame,
    key_cols: list[str],
    fields: dict[str, str],
    root: str,
    n_segments: int = 8,
    chunk_docs: int = DEFAULT_CHUNK_DOCS,
    resume: bool = True,
    segment_id_offset: int = 0,
    composite_fields: dict[str, list[str]] | None = None,
    dynamic_maps: list | None = None,
) -> list[dict]:
    """Distributed segment build; returns per-segment stats.

    Segment assignment hashes the key columns (deterministic across
    partitionings); each task analyzes + encodes its segments locally
    — the reference's analyze-worker → segment path
    (/root/reference/index/scorch/scorch.go:538-591) with Spark tasks
    as the workers. With ``resume=True`` completed segments (manifest
    present) are skipped and reported with ``resumed=true``.
    """
    os.makedirs(root, exist_ok=True)
    done: set[int] = set()
    if resume:
        mdir = os.path.join(root, "manifest")
        if os.path.isdir(mdir):
            for fn in os.listdir(mdir):
                if fn.startswith("seg=") and fn.endswith(".json"):
                    done.add(int(fn[4:-5]))

    key_concat = F.concat_ws(
        "\x00", *[F.col(k).cast("string") for k in key_cols]
    )
    # prune to key + indexed columns BEFORE the shuffle: everything
    # selected here is serialized twice (shuffle write/read) and once
    # more over Arrow into the Python worker
    # composite members: resolve each member's kind DRIVER-side (the
    # task sees only arrow columns) — text members reuse their field
    # analyzer; typed members synthesize trie / boolean terms in-task
    comp = None
    if composite_fields:
        from bleve_spark.index.build import _member_kind

        comp = {}
        for cname, members in composite_fields.items():
            comp[cname] = [
                (m, _member_kind(df, m), fields.get(m, "standard"))
                for m in members
            ]

    needed = list(dict.fromkeys([
        *key_cols, *fields,
        *[m for ms in (composite_fields or {}).values() for m in ms],
        *[p for p, _ in (dynamic_maps or [])],
    ]))
    # qcol: dotted field names (mapping-layer flattened paths) must
    # resolve the LITERAL column, not a same-named nested path — and
    # mapInArrow's internal `self[col]` re-resolution chokes on dots,
    # so dotted columns ride under safe aliases and rename back to
    # their field names inside the task
    from bleve_spark.index.build import qcol

    safe = {
        c: (f"_dotted_{i}" if "." in c else c)
        for i, c in enumerate(needed)
    }
    unsafe = {v: k for k, v in safe.items()}
    with_seg = df.select(
        *[qcol(c).alias(safe[c]) for c in needed]
    ).withColumn(
        "_seg",
        (
            F.pmod(F.xxhash64(key_concat), F.lit(n_segments))
            + F.lit(segment_id_offset)
        ).cast("int"),
    )
    if done:
        with_seg = with_seg.where(~F.col("_seg").isin(sorted(done)))

    kc = list(key_cols)
    fd = dict(fields)
    dm = list(dynamic_maps or [])

    def build(batches):
        # Spark already runs one task per core; Arrow's own thread pool
        # (default = all cores) inside every worker oversubscribes the
        # box #tasks× and the kernel thrash shows up as 5-10× CPU-time
        # inflation at local[32]. One Arrow thread per task is optimal.
        import pyarrow as _pa

        import pyarrow.compute as _pc

        _pa.set_cpu_count(1)
        bl = [b for b in batches if b.num_rows]
        if not bl:
            return
        tbl = _pa.Table.from_batches(bl)
        tbl = tbl.rename_columns(
            [unsafe.get(c, c) for c in tbl.column_names]
        )
        segs = tbl.column("_seg")
        out_schema = _pa.schema(
            [
                ("segment_id", _pa.int32()),
                ("doc_count", _pa.int64()),
                ("postings", _pa.int64()),
                ("unique_terms", _pa.int64()),
                ("bytes", _pa.int64()),
                ("seconds", _pa.float64()),
                ("postings_per_sec", _pa.float64()),
                ("resumed", _pa.bool_()),
            ]
        )
        for seg in _pc.unique(segs).to_pylist():
            grp = tbl.filter(_pc.equal(segs, seg)).drop_columns(["_seg"])
            m = _build_one_segment(int(seg), grp, kc, fd, root,
                                   chunk_docs, comp, dm or None)
            yield _pa.RecordBatch.from_pylist(
                [{
                    "segment_id": m["segment_id"],
                    "doc_count": m["doc_count"],
                    "postings": m["postings"],
                    "unique_terms": m["unique_terms"],
                    "bytes": m["bytes"],
                    "seconds": m["seconds"],
                    "postings_per_sec": m["postings_per_sec"],
                    "resumed": False,
                }],
                schema=out_schema,
            )

    # over-partition 8×: hashing n segment ids into exactly n partitions
    # loads the max partition with ~ln n/ln ln n segments (balls into
    # bins) and that one task gates the stage; with 8n partitions nearly
    # every task carries ≤1 segment and the extra empty tasks cost ~ms.
    # mapInArrow (not mapInPandas): the object-dtype pandas conversion
    # both costs CPU and storms the allocator across 32 workers.
    stats = (
        with_seg.repartition(n_segments * 8, "_seg")
        .mapInArrow(build, schema=_stats_schema())
        .collect()
    )
    out = [r.asDict() for r in stats]
    for seg in sorted(done):
        _, _, mpath = _seg_paths(root, seg)
        with open(mpath) as f:
            m = json.load(f)
        out.append({**{k: m[k] for k in (
            "segment_id", "doc_count", "postings", "unique_terms",
            "bytes", "seconds", "postings_per_sec")}, "resumed": True})
    out.sort(key=lambda m: m["segment_id"])
    return out


def build_segments_from_files(
    spark: SparkSession,
    paths: list[str],
    key_cols: list[str],
    fields: dict[str, str],
    root: str,
    chunk_docs: int = DEFAULT_CHUNK_DOCS,
    resume: bool = True,
) -> list[dict]:
    """Shuffle-free segment build: one source parquet file → one
    segment, tasks read their file directly with pyarrow.

    This is the exact shape of the reference's offline Builder — it
    batches documents in ARRIVAL order into segments
    (/root/reference/index/scorch/builder.go:116-167), not by content
    hash — so segment membership is deterministic given the dataset's
    file layout, which is all resume needs. Against the generic
    :func:`build_segments` this removes the full shuffle: no hash
    exchange, no shuffle IO, no JVM→Python Arrow streaming; each task
    does one columnar read + analyze + encode. On a cluster the tasks
    stream their files straight from object storage, so stage-1 build
    cost is purely data-parallel with zero cross-task traffic."""
    os.makedirs(root, exist_ok=True)
    paths = sorted(paths)
    done: set[int] = set()
    if resume:
        mdir = os.path.join(root, "manifest")
        if os.path.isdir(mdir):
            for fn in os.listdir(mdir):
                if fn.startswith("seg=") and fn.endswith(".json"):
                    done.add(int(fn[4:-5]))
    todo = [(i, p) for i, p in enumerate(paths) if i not in done]
    kc = list(key_cols)
    fd = dict(fields)
    cols = list(dict.fromkeys([*key_cols, *fields]))
    cd = chunk_docs

    def build_one(item):
        import pyarrow as _pa
        import pyarrow.parquet as _pq

        _pa.set_cpu_count(1)
        seg, path = item
        tbl = _pq.read_table(path, columns=cols, use_threads=False)
        m = _build_one_segment(int(seg), tbl, kc, fd, root, cd)
        return {
            "segment_id": m["segment_id"],
            "doc_count": m["doc_count"],
            "postings": m["postings"],
            "unique_terms": m["unique_terms"],
            "bytes": m["bytes"],
            "seconds": m["seconds"],
            "postings_per_sec": m["postings_per_sec"],
            "resumed": False,
        }

    out: list[dict] = []
    if todo:
        # a work-list of file paths, one partition each — the one place
        # the RDD API is the right tool (driver-side metadata fan-out)
        out = (
            spark.sparkContext.parallelize(todo, len(todo))
            .map(build_one)
            .collect()
        )
    for seg in sorted(done):
        _, _, mpath = _seg_paths(root, seg)
        with open(mpath) as f:
            m = json.load(f)
        out.append({**{k: m[k] for k in (
            "segment_id", "doc_count", "postings", "unique_terms",
            "bytes", "seconds", "postings_per_sec")}, "resumed": True})
    out.sort(key=lambda m: m["segment_id"])
    return out


DECODED_SCHEMA_SUFFIX = (
    "field string, term string, doc_num long, tf int, "
    "positions array<int>"
)

DECODED_SCHEMA_NO_POS = "field string, term string, doc_num long, tf int"


def _concat_view(col) -> np.ndarray:
    """Zero-copy view over a non-null BinaryArray's concatenated
    bytes."""
    off = np.frombuffer(col.buffers()[1], dtype=np.int32)
    off = off[col.offset:col.offset + len(col) + 1].astype(np.int64)
    val = np.frombuffer(col.buffers()[2], dtype=np.uint8)
    return val[off[0]:off[-1]]


def _decode_batch_fast(b, segs, counts, with_positions, with_norm):
    """Whole-batch decode: one varint pass per blob column. Returns
    the (doc_num, tfs, lens, pos, plen) arrays or None when a stream
    disagrees with its metadata."""
    nrows = b.num_rows
    total = int(counts.sum())
    deltas = varint_decode(_concat_view(b.column("doc_blob")))
    if deltas.size != total:
        return None
    tfs = varint_decode(_concat_view(b.column("tf_blob")))
    if tfs.size != total:
        return None
    starts = np.zeros(nrows, dtype=np.int64)
    starts[1:] = np.cumsum(counts[:-1])
    # per-row delta decode: global cumsum minus each row's start
    # correction (first value of a row is absolute)
    cs = np.cumsum(deltas)
    corr = np.zeros(nrows, dtype=np.uint64)
    nz = counts > 0
    corr[nz] = cs[starts[nz]] - deltas[starts[nz]]
    local = cs - np.repeat(corr, counts)
    bases = segs.astype(np.uint64) << np.uint64(SEG_SHIFT)
    doc_num = (local + np.repeat(bases, counts)).astype(np.int64)
    tfs = tfs.astype(np.int64)
    lens = None
    if with_norm:
        lens = varint_decode(_concat_view(b.column("len_blob")))
        if lens.size != total:
            return None
        lens = lens.astype(np.int64)
    pos_all = plen_all = None
    if with_positions:
        flat = varint_decode(
            _concat_view(b.column("pos_blob"))
        ).astype(np.int64)
        tf_cum = np.zeros(total + 1, dtype=np.int64)
        np.cumsum(tfs, out=tf_cum[1:])
        row_ends = starts + counts
        row_tfsum = tf_cum[row_ends] - tf_cum[starts]
        stream_lens = row_tfsum + counts
        if flat.size != int(stream_lens.sum()):
            return None
        stream_starts = np.zeros(nrows, dtype=np.int64)
        stream_starts[1:] = np.cumsum(stream_lens[:-1])
        # each doc's [len, deltas...] stream begins at its row's
        # stream start + preceding docs' (tf+1) bytes
        row_of = np.repeat(np.arange(nrows), counts)
        j = np.arange(total)
        slot = (
            stream_starts[row_of]
            + (tf_cum[j] - tf_cum[starts[row_of]])
            + (j - starts[row_of])
        )
        if not np.array_equal(flat[slot], tfs):
            return None
        vals = np.delete(flat, slot)
        dstarts = tf_cum[:-1]  # per-doc start in vals space
        if vals.size:
            cs2 = np.cumsum(vals)
            seg_base = np.zeros(total, dtype=np.int64)
            m = tfs > 0
            seg_base[m] = cs2[dstarts[m]] - vals[dstarts[m]]
            pos_all = cs2 - np.repeat(seg_base, tfs)
        else:
            pos_all = vals
        plen_all = tfs
    return doc_num, tfs, lens, pos_all, plen_all


def _decode_batch_rows(b, segs, with_positions, with_norm):
    """Per-row decode of a batch the whole-batch pass rejected:
    (counts, doc_num, tfs, lens, pos, plen), counts taken from the
    decoded doc streams."""
    nrows = b.num_rows
    dblob = b.column("doc_blob")
    tblob = b.column("tf_blob")
    pblob = b.column("pos_blob") if with_positions else None
    lblob = b.column("len_blob") if with_norm else None
    doc_parts, tf_parts, pos_parts = [], [], []
    plen_parts, len_parts = [], []
    counts = np.zeros(nrows, dtype=np.int64)
    for i in range(nrows):
        base = np.uint64(int(segs[i])) << np.uint64(SEG_SHIFT)
        docs = delta_decode_sorted(dblob[i].as_py())
        nd = docs.size
        counts[i] = nd
        if not nd:
            continue
        doc_parts.append((docs + base).astype(np.int64))
        tfs = varint_decode(tblob[i].as_py()).astype(np.int64)
        tf_parts.append(tfs)
        if with_norm:
            len_parts.append(
                varint_decode(lblob[i].as_py()).astype(np.int64)
            )
        if not with_positions:
            continue
        flat = varint_decode(pblob[i].as_py()).astype(np.int64)
        # the per-doc streams are [len, deltas...] with len == tf on
        # every write path — locate the length slots from the tfs and
        # verify; fall back to the sequential parse if a foreign
        # stream disagrees
        slot = np.zeros(nd, dtype=np.int64)
        slot[1:] = np.cumsum(tfs[:-1] + 1)
        if flat.size == int(tfs.sum()) + nd and (
            np.array_equal(flat[slot], tfs)
        ):
            vals = np.delete(flat, slot)
            if vals.size:
                # segmented cumsum: positions are per-doc deltas —
                # global cumsum minus each doc's start offset
                cs = np.cumsum(vals)
                starts = np.zeros(nd, dtype=np.int64)
                starts[1:] = np.cumsum(tfs[:-1])
                seg_base = cs[starts] - vals[starts]
                pos_parts.append(cs - np.repeat(seg_base, tfs))
            else:
                pos_parts.append(vals)
            plen_parts.append(tfs)
        else:
            plists = decode_positions(pblob[i].as_py(), nd)
            pos_parts.append(
                np.concatenate([p.astype(np.int64) for p in plists])
                if plists else np.empty(0, dtype=np.int64)
            )
            # tf stays the tf_blob value; list offsets follow the
            # STREAM's per-doc counts
            plen_parts.append(
                np.array([p.size for p in plists], dtype=np.int64)
                if plists else np.zeros(nd, dtype=np.int64)
            )

    def cat(parts, on=True):
        if not on:
            return None
        return (np.concatenate(parts) if parts
                else np.empty(0, dtype=np.int64))

    return (counts, cat(doc_parts), cat(tf_parts),
            cat(len_parts, with_norm), cat(pos_parts, with_positions),
            cat(plen_parts, with_positions))


def decode_chunk_batch(b, with_positions: bool = True,
                       with_norm: bool = False):
    """One Arrow batch of chunk rows (segment_id, n_docs, doc_blob,
    tf_blob[, pos_blob][, len_blob]) → flat numpy postings
    ``(counts, doc_num, tf, lens, pos, plen)``: chunk row ``i`` owns
    ``counts[i]`` consecutive postings; ``lens`` (field token count per
    posting) is None unless ``with_norm``; ``pos`` (flat positions) and
    ``plen`` (positions per posting) are None unless
    ``with_positions``. All int64.

    The one decoder of the store: the ``mapInArrow`` stage of
    :func:`decode_chunk_rows` and the driver reader
    :meth:`SegmentStore.read_live_postings` both call it. The hot path
    is pure numpy: each blob column's bytes are decoded as ONE
    concatenated LEB128 stream (valid because LEB128 streams are
    self-delimiting, and the n_docs column gives every row's value
    count), doc deltas via cumsum, position streams via a segmented
    cumsum keyed off the tf vector (every write path emits per-doc
    streams as [len, deltas...] with len == tf). A batch whose streams
    fail validation (foreign data) falls back to the per-row parser,
    which reads a disagreeing position stream sequentially."""
    segs = b.column("segment_id").to_numpy(zero_copy_only=False)
    counts = b.column("n_docs").to_numpy(
        zero_copy_only=False).astype(np.int64)
    try:
        fast = _decode_batch_fast(b, segs, counts, with_positions,
                                  with_norm)
    except (ValueError, IndexError, TypeError, AttributeError):
        # null/absent blob buffers (foreign or legacy data) raise
        # TypeError from np.frombuffer / AttributeError from a None
        # buffer — fall back to the per-row parser
        fast = None
    if fast is not None:
        return (counts, *fast)
    return _decode_batch_rows(b, segs, with_positions, with_norm)


def _postings_batch(b, counts, doc_num, tfs, lens, pos, plen,
                    with_chunk: bool = False):
    """Decoded arrays of chunk-row batch ``b`` → one RecordBatch of
    postings (field, term, doc_num, tf[, norm][, positions]), led by
    (segment_id, chunk_id) when ``with_chunk``."""
    import pyarrow as pa
    import pyarrow.compute as pc

    idx_rep = pa.array(np.repeat(np.arange(b.num_rows), counts))
    arrays = [
        pc.take(b.column("field"), idx_rep),
        pc.take(b.column("term"), idx_rep),
        pa.array(doc_num),
        pa.array(tfs.astype(np.int32)),
    ]
    names = ["field", "term", "doc_num", "tf"]
    if with_chunk:
        arrays = [
            pc.take(b.column("segment_id"), idx_rep),
            pc.take(b.column("chunk_id"), idx_rep),
        ] + arrays
        names = ["segment_id", "chunk_id"] + names
    if lens is not None:
        # float32 1/sqrt(len); a zero count has no norm (null)
        norms = np.zeros(lens.size, dtype=np.float32)
        ok = lens > 0
        norms[ok] = (1.0 / np.sqrt(lens[ok])).astype(np.float32)
        arrays.append(pa.array(norms, mask=~ok))
        names.append("norm")
    if pos is not None:
        offsets = np.concatenate(([0], np.cumsum(plen))).astype(np.int32)
        arrays.append(pa.ListArray.from_arrays(
            pa.array(offsets), pa.array(pos.astype(np.int32)),
        ))
        names.append("positions")
    return pa.RecordBatch.from_arrays(arrays, names=names)


def decode_chunk_rows(rows: DataFrame,
                      with_positions: bool = True,
                      with_norm: bool = False,
                      with_chunk: bool = False,
                      spread: bool = False) -> DataFrame:
    """Arrow batch decode of chunk rows → exploded postings.

    ``rows`` is any (pre-filtered) chunk-row DataFrame carrying
    (segment_id, field, term, doc_blob, tf_blob[, pos_blob,
    len_blob]). With ``with_positions=False`` the pos_blob column is
    never selected — the parquet scan skips the largest blob column
    entirely, which is the right read for scoring-only paths
    (block-max WAND rescoring, bulk disjunction joins don't need
    positions).

    ``with_norm=True`` decodes the len_blob stream (per-posting field
    token count — the reference's zap freqNorm detail) into a
    ``norm float`` column (float32 1/sqrt(len)): scoring reads norms
    straight off the postings, with NO doc-table join — the join that
    would otherwise make every query Ω(corpus). Only valid on stores
    whose manifests carry ``posting_lens`` (see
    SegmentStore.has_posting_lens).

    Each Arrow batch goes through :func:`decode_chunk_batch`: O(batch)
    numpy calls, no per-posting (or per-row) Python objects.

    ``with_chunk=True`` carries (segment_id, chunk_id) through to the
    output rows, letting a caller that decoded a SUPERSET of chunks
    recover any chunk-level subset (e.g. block-max WAND derives its
    candidate set from the surviving chunks of one shared decode
    instead of decoding the store twice)."""
    cols = ["segment_id", "field", "term", "n_docs",
            "doc_blob", "tf_blob"]
    if with_chunk:
        cols.insert(1, "chunk_id")
    if with_positions:
        cols.append("pos_blob")
    if with_norm:
        cols.append("len_blob")
    sel = rows.select(*cols)
    if spread:
        # term-sorted segment files colocate a hot term's chunk rows
        # into one or two scan tasks, so a high-df decode would run
        # near-single-threaded. Spreading shuffles only the PRUNED
        # blob rows (KBs–tens of MB after pushdown) and buys
        # cluster-wide decode parallelism — callers enable it when
        # the term set's summed doc_freq says the decode dominates
        # the extra stage.
        par = rows.sparkSession.sparkContext.defaultParallelism
        sel = sel.repartition(max(2, int(par)))

    def dec(batches):
        import pyarrow as pa

        pa.set_cpu_count(1)
        for b in batches:
            if not b.num_rows:
                continue
            counts, doc_num, tfs, lens, pos, plen = decode_chunk_batch(
                b, with_positions, with_norm)
            if not doc_num.size:
                continue
            yield _postings_batch(b, counts, doc_num, tfs, lens, pos,
                                  plen, with_chunk)

    schema = "field string, term string, doc_num long, tf int"
    if with_chunk:
        schema = "segment_id int, chunk_id long, " + schema
    if with_norm:
        schema += ", norm float"
    if with_positions:
        schema += ", positions array<int>"
    return sel.mapInArrow(dec, schema=schema)


class SegmentStore:
    """Read side of the at-rest index."""

    # segment ids this store serves; None = every manifest's segment
    _segs: set | None = None

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        self._has_dynamic: bool | None = None
        self._has_lens: bool | None = None
        # sub-directory -> (manifest stamp, parquet read of it)
        self._reads: dict[str, tuple] = {}

    def has_posting_lens(self) -> bool:
        """True when every segment's chunk rows carry the len_blob
        stream (per-posting field length → norm): scoring decodes
        norms off the postings with no doc-table join. False on
        legacy stores or merges that included one. Cached: reads the
        (tiny, local) manifests once."""
        if self._has_lens is None:
            try:
                ms = self.manifests()
                self._has_lens = bool(ms) and all(
                    m.get("posting_lens") for m in ms
                )
            except OSError:
                self._has_lens = False
        return self._has_lens

    def _dynamic_fields_present(self) -> bool:
        """True when any segment carries dynamic-map fields — their
        ``len_<path>.<key>`` doc columns are data-driven per segment,
        so doc-table reads must merge parquet schemas. Cached: the
        probe reads the (tiny, local) manifests once."""
        if self._has_dynamic is None:
            try:
                self._has_dynamic = any(
                    m.get("dynamic_fields") for m in self.manifests()
                )
            except (OSError, json.JSONDecodeError, KeyError):
                self._has_dynamic = False
        return self._has_dynamic

    def _read_segments(self, sub: str) -> DataFrame:
        """The parquet read of ``<root>/<sub>/seg=*``, reused while the
        manifest listing is unchanged: a fresh read lists the files and
        infers the schema with Spark jobs (~0.7 s of CPU for the four
        reads of one block-max query at local[4]), and segments only
        change through a manifest commit."""
        stamp = self.manifest_stamp()
        hit = self._reads.get(sub)
        if hit is not None and hit[0] == stamp:
            return hit[1]
        reader = self.spark.read.option(
            "basePath", os.path.join(self.root, sub))
        if sub == "docs" and self._dynamic_fields_present():
            reader = reader.option("mergeSchema", "true")
        df = reader.parquet(os.path.join(self.root, sub, "seg=*"))
        self._reads[sub] = (stamp, df)
        return df

    # -- raw chunk rows (blobs stay unopened — column pruning) --------
    def chunk_rows(self, with_blobs: bool = False) -> DataFrame:
        df = self._read_segments("postings")
        if "segment_id" not in df.columns and "seg" in df.columns:
            # merged levels partition by seg= without a data column
            df = df.withColumn("segment_id", F.col("seg").cast("int"))
        if "seg" in df.columns:
            df = df.drop("seg")
        if not with_blobs:
            cols = [
                "segment_id", "field", "term", "chunk_id", "n_docs",
                "max_tf", "max_norm", "min_doc", "max_doc",
            ]
            # pareto bound metadata (newer stores; readers fall back
            # to the (max_tf, max_norm) bound when absent)
            if "pareto_tf" in df.columns:
                cols += ["pareto_tf", "pareto_norm"]
            df = df.select(*cols)
        return df

    def doc_table(self, live_only: bool = True) -> DataFrame:
        df = self._read_segments("docs")
        if "seg" in df.columns:
            df = df.drop("seg")
        if live_only:
            dels = self.deletions()
            if dels is not None:
                df = df.join(dels, "doc_num", "left_anti")
        return df

    # -- deletions: scorch's per-segment obsolete bitmaps
    # (/root/reference/index/scorch/scorch.go:659-667, README.md:113-137)
    # as append-only parquet delete files (the Iceberg position-delete
    # shape); postings drop deleted docs via the doc-table join and
    # merges physically reclaim them --------------------------------
    def _del_dir(self) -> str:
        return os.path.join(self.root, "deletions")

    def deletion_files(self) -> list[str]:
        """Paths of the delete files this store applies, sorted."""
        d = self._del_dir()
        if not os.path.isdir(d):
            return []
        return [os.path.join(d, f) for f in sorted(os.listdir(d))
                if f.endswith(".parquet")]

    def deletions(self) -> DataFrame | None:
        """(doc_num long) of deleted docs, or None when there are none."""
        files = self.deletion_files()
        if not files:
            return None
        return self.spark.read.parquet(*files).select("doc_num").distinct()

    def delete_docs(self, keys_df: DataFrame,
                    key_cols: list[str]) -> int:
        """Mark docs matching ``keys_df`` (rows of key columns) deleted.
        Returns the number of newly resolved doc_nums. Idempotent —
        readers de-duplicate."""
        hits = (
            self.doc_table(live_only=False)
            .join(keys_df.select(*key_cols).distinct(), key_cols,
                  "left_semi")
            .select("doc_num")
        )
        n = hits.count()
        if n:
            hits.write.mode("append").parquet(self._del_dir())
        return int(n)

    def update_docs(self, df: DataFrame, key_cols: list[str],
                    fields: dict[str, str]) -> list[dict]:
        """bleve Batch update semantics (index.go:35-65): delete the
        incoming keys from existing segments, then introduce the new
        rows as a fresh segment."""
        self.delete_docs(df, key_cols)
        next_seg = max(
            (m["segment_id"] for m in self.manifests()), default=-1
        ) + 1
        return build_segments(
            df, key_cols, fields, self.root, n_segments=1,
            resume=False, segment_id_offset=next_seg,
        )

    # -- snapshots & rollback: the reference retains snapshot epochs as
    # rollback points (/root/reference/index/scorch/rollback.go:35-140,
    # persister.go:87,630). A snapshot pins (segment ids, delete files);
    # rollback returns a store view restricted to that epoch. ---------
    def _snap_dir(self) -> str:
        return os.path.join(self.root, "snapshots")

    def commit_snapshot(self) -> int:
        """Record the current (segments, delete files) as a new epoch;
        returns the epoch id. Atomic via tmp+rename (the introducer's
        swap)."""
        sdir = self._snap_dir()
        os.makedirs(sdir, exist_ok=True)
        epoch = max(
            (int(f[6:-5]) for f in os.listdir(sdir)
             if f.startswith("epoch-") and f.endswith(".json")),
            default=-1,
        ) + 1
        snap = {
            "epoch": epoch,
            "segments": [m["segment_id"] for m in self.manifests()],
            "delete_files": [
                os.path.basename(f) for f in self.deletion_files()],
        }
        path = os.path.join(sdir, f"epoch-{epoch}.json")
        tmp = path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(snap, f)
        os.replace(tmp, path)
        return epoch

    def snapshots(self) -> list[dict]:
        sdir = self._snap_dir()
        if not os.path.isdir(sdir):
            return []
        out = []
        for fn in sorted(os.listdir(sdir)):
            if fn.startswith("epoch-") and fn.endswith(".json"):
                with open(os.path.join(sdir, fn)) as f:
                    out.append(json.load(f))
        return sorted(out, key=lambda s: s["epoch"])

    def at_epoch(self, epoch: int) -> "SegmentStore":
        """A read view pinned to a recorded epoch (rollback point)."""
        snap = next(
            (s for s in self.snapshots() if s["epoch"] == epoch), None
        )
        if snap is None:
            raise KeyError(f"no snapshot for epoch {epoch}")
        return _EpochView(self.spark, self.root, snap)

    def deleted_counts(self) -> dict[int, int]:
        """#deleted docs per segment (for merge-planner live sizes)."""
        dels = self.deletions()
        if dels is None:
            return {}
        rows = (
            dels.groupBy(
                F.shiftrightunsigned("doc_num", SEG_SHIFT).alias("seg")
            )
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        )
        return {int(r["seg"]): int(r["n"]) for r in rows}

    def manifest_names(self) -> list[str]:
        """Sorted manifest file names — THE single listing point every
        manifest scan routes through (blockmax planning fingerprints,
        merge rounds, the readers below). An object-store deployment
        (S3/DBFS) swaps the lister HERE and every caller follows."""
        mdir = os.path.join(self.root, "manifest")
        return sorted(
            f for f in os.listdir(mdir) if f.endswith(".json")
        )

    def manifest_stamp(self) -> tuple[int, float]:
        """Cheap change detector over the manifest listing: (hash of
        the sorted name tuple, max mtime). Used as part of planning
        cache keys; same single-listing contract as
        :meth:`manifest_names`."""
        mdir = os.path.join(self.root, "manifest")
        names = self.manifest_names()
        mt = max(
            (os.path.getmtime(os.path.join(mdir, n)) for n in names),
            default=0.0,
        )
        return (hash(tuple(names)), mt)

    def manifests(self) -> list[dict]:
        mdir = os.path.join(self.root, "manifest")
        out = []
        for fn in self.manifest_names():
            with open(os.path.join(mdir, fn)) as f:
                out.append(json.load(f))
        return out

    def fingerprint(self) -> tuple:
        """What this store serves: (root, manifest stamp, served
        segment set, delete files). Every commit, merge output, delete
        and update changes it, so caches keyed on it never serve a
        superseded state; an epoch view differs from its parent by the
        served set. File-system listings only — no Spark job."""
        try:
            stamp = self.manifest_stamp()
        except OSError:
            stamp = (-1, 0.0)
        segs = frozenset(self._segs) if self._segs is not None else None
        return (self.root, stamp, segs, tuple(self.deletion_files()))

    def read_live_postings(self, key_cols: list[str]):
        """The served segments' postings, read on the driver with
        pyarrow and decoded by :func:`decode_chunk_batch` — no Spark
        job. Returns ``(postings, docs, doc_freq)`` Arrow tables:

        * ``postings`` — (field, term, doc_num, tf, norm, positions) of
          the live docs (deleted docs' postings are dropped);
        * ``docs`` — (doc_num, key columns...) of the live docs;
        * ``doc_freq`` — (field, term, df): Σ n_docs of the chunk rows,
          deleted docs included — the at-rest df the Spark block-max
          plan scores with.

        Norms come from the len_blob streams, so every served manifest
        must carry ``posting_lens``."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        blob_cols = ["field", "term", "n_docs", "doc_blob", "tf_blob",
                     "pos_blob", "len_blob"]
        chunks, parts, docs = [], [], []
        for m in self.manifests():
            seg = int(m["segment_id"])
            pdir, ddir, _ = _seg_paths(self.root, seg)
            # merged segments carry their id in the directory name only
            t = pq.read_table(pdir, columns=blob_cols)
            t = t.append_column("segment_id", pa.array(
                np.full(t.num_rows, seg, dtype=np.int32)))
            batches = t.combine_chunks().to_batches() or [
                pa.RecordBatch.from_pylist([], schema=t.schema)]
            for b in batches:
                parts.append(_postings_batch(
                    b, *decode_chunk_batch(b, True, True)))
            chunks.append(t.select(["field", "term", "n_docs"]))
            docs.append(pq.read_table(ddir, columns=["doc_num", *key_cols]))
        docs = pa.concat_tables(docs, promote_options="permissive")
        dels = [pq.read_table(f, columns=["doc_num"]).column("doc_num")
                .to_numpy() for f in self.deletion_files()]
        if dels:
            dead = np.concatenate(dels)
            docs = docs.filter(pa.array(~np.isin(
                docs.column("doc_num").to_numpy(), dead)))
        postings = pa.concat_tables(
            [pa.Table.from_batches([b]) for b in parts],
            promote_options="permissive")
        # the Spark plans' inner join with the live doc table
        postings = postings.filter(pa.array(np.isin(
            postings.column("doc_num").to_numpy(),
            docs.column("doc_num").to_numpy())))
        doc_freq = (
            pa.concat_tables(chunks, promote_options="permissive")
            .group_by(["field", "term"]).aggregate([("n_docs", "sum")])
            .select(["field", "term", "n_docs_sum"])
            .rename_columns(["field", "term", "df"])
        )
        return postings, docs, doc_freq

    # -- decode -------------------------------------------------------
    def decode(self, pred=None) -> DataFrame:
        """Chunk rows (optionally filtered by a Column predicate —
        pushed into the parquet scan) → exploded postings:
        (field, term, doc_num, tf, positions).

        One Arrow batch kernel, no per-posting Python: a hot term's
        millions of postings decode as numpy array ops (the r4
        minhash-fold lesson — a per-row loop here made a single
        high-df term leg cost ~60s at 20M turns; this kernel does it
        in ~2s)."""
        rows = self.chunk_rows(with_blobs=True)
        if pred is not None:
            rows = rows.where(pred)
        return decode_chunk_rows(rows)

    def postings_df(self, key_cols: list[str],
                    fields: list[str], pred=None,
                    positions: bool = True,
                    spread: bool = False) -> DataFrame:
        """Full postings relation (field, term, keys..., tf, positions,
        norm) — the same shape index_table() produces, reconstructed
        from the compressed store. ``positions=False`` drops the
        positions column AND the pos_blob read below it: scoring-only
        consumers never touch the store's largest blob column."""
        rows = self.chunk_rows(with_blobs=True)
        if pred is not None:
            rows = rows.where(pred)
        docs = self.doc_table()
        pos_cols = ["positions"] if positions else []
        if self.has_posting_lens():
            # norms ride IN the postings (len_blob → float32
            # 1/sqrt(len), the zap freqNorm detail): the doc-table
            # join shrinks to doc_num → key columns only — no wide
            # len_* projection, no norm map
            decoded = decode_chunk_rows(
                rows, with_positions=positions, with_norm=True
            )
            return decoded.join(
                docs.select("doc_num", *key_cols), "doc_num"
            ).select(
                "field", "term", *key_cols, "tf", *pos_cols, "norm"
            )
        decoded = decode_chunk_rows(rows, with_positions=positions)
        # legacy stores (no len_blob): norm per field from the doc
        # table's stored token counts; the len_* columns are
        # authoritative (a superset of `fields` — composites and
        # data-driven dynamic-map fields included)
        fields = sorted(
            {*fields, *(
                c[len("len_"):] for c in docs.columns
                if c.startswith("len_")
            )}
        )
        norm_map = F.create_map(
            *[x for fname in fields for x in (
                F.lit(fname),
                F.when(
                    F.col(f"`len_{fname}`") > 0,
                    (F.lit(1.0) / F.sqrt(F.col(f"`len_{fname}`")))
                    .cast("float"),
                ).otherwise(F.lit(None).cast("float")),
            )]
        )
        docs2 = docs.select(
            "doc_num", *key_cols, norm_map.alias("_norms")
        )
        return decoded.join(docs2, "doc_num").select(
            "field", "term", *key_cols, "tf", *pos_cols,
            F.element_at("_norms", F.col("field")).alias("norm"),
        )

    def stats(self, fields: list[str], scoring: str = "bm25") -> IndexStats:
        """Bleve-exact multi-segment stats: field cardinality = Σ
        per-segment unique-term counts
        (/root/reference/index/scorch/snapshot_index.go:151-161),
        avg_doc_len = ceil(card / doc_count). Live doc count subtracts
        deletions; the dictionary keeps deleted docs' terms until a
        merge reclaims them — exactly the reference's behavior."""
        doc_count = sum(m["doc_count"] for m in self.manifests())
        doc_count -= sum(self.deleted_counts().values())
        per_seg = (
            self.chunk_rows()
            .groupBy("segment_id", "field")
            .agg(F.count_distinct("term").alias("u"))
            .groupBy("field")
            .agg(F.sum("u").alias("card"))
            .collect()
        )
        card = {r["field"]: int(r["card"]) for r in per_seg}
        avg = {
            f: (math.ceil(c / doc_count) if doc_count else 0.0)
            for f, c in card.items()
        }
        return IndexStats(
            doc_count=doc_count,
            field_cardinality=card,
            avg_doc_len=avg,
            scoring=scoring,
        )

    def to_indexed_table(
        self,
        source: DataFrame,
        key_cols: list[str],
        fields: dict[str, str],
        scoring: str = "bm25",
        persist: bool = False,
    ) -> IndexedTable:
        postings = self.postings_df(key_cols, list(fields))
        idx = IndexedTable(
            source=source,
            postings=postings,
            key_cols=list(key_cols),
            field_analyzers=dict(fields),
            stats=self.stats(list(fields), scoring),
            dictionary=None,
        )
        has_dels = self.deletions() is not None
        if persist:
            idx.postings = idx.postings.persist()
            idx._persisted.append(idx.postings)
        else:
            # cold-store read path (r5): route every searcher read
            # through postings_df(pred) so (field, term) predicates
            # land in the parquet chunk scan BEFORE the decode UDF —
            # a term query on a 100 TB store reads that term's
            # chunks, not the whole store (Catalyst cannot push a
            # filter through mapInPandas, so without this hook the
            # persist=False index full-decodes per query)
            kc, fl = list(key_cols), list(fields)
            idx.postings_factory = (
                lambda pred, positions=True, spread=False:
                self.postings_df(
                    kc, fl, pred, positions=positions, spread=spread
                )
            )
            if self.has_posting_lens():
                # doc_num-level scoring reads (field, term, doc_num,
                # tf, norm) with NO doc-table involvement; consumers
                # aggregate per doc_num first, then resolve keys via
                # doc_keys_df over matched docs only (the inner join
                # against the live doc table also drops deletions)
                idx.postings_doc_factory = (
                    lambda pred, spread=False: decode_chunk_rows(
                        self.chunk_rows(with_blobs=True).where(pred),
                        with_positions=False, with_norm=True,
                        spread=spread,
                    )
                )
                idx.doc_keys_df = (
                    lambda: self.doc_table().select("doc_num", *kc)
                )
        if persist or has_dels:
            # live-doc dictionary (deletions drop out via the doc-
            # table join inside postings_df)
            idx.dictionary = idx.postings.groupBy("field", "term").agg(
                F.count(F.lit(1)).alias("doc_freq"),
                F.max("tf").alias("max_tf"),
                F.min("norm").alias("min_norm"),
            )
        else:
            # deletion-free store: the dictionary is pure chunk
            # METADATA (n_docs/max_tf per chunk row) — no blob decode,
            # column-pruned parquet scan only. min_norm is schema
            # compatibility (no consumer reads it).
            idx.dictionary = (
                self.chunk_rows()
                .groupBy("field", "term")
                .agg(
                    F.sum("n_docs").cast("long").alias("doc_freq"),
                    F.max("max_tf").alias("max_tf"),
                    F.lit(None).cast("float").alias("min_norm"),
                )
            )
        if persist:
            idx.dictionary = idx.dictionary.persist()
            idx._persisted.append(idx.dictionary)
        ann = self.ann_layouts()
        if ann:
            idx.ann_layouts = ann
        return idx

    def attach_ann(self, field: str, kind: str, path: str,
                   **params) -> None:
        """Record an at-rest ANN layout for a vector ``field`` in the
        store-level ann manifest; indexes served from this store probe
        it for SearchRequest.KNN clauses (search/hybrid.attach_ann has
        the probe semantics — candidate generation + exact re-rank)."""
        man = self.ann_layouts()
        man[field] = {"kind": kind, "path": path, **params}
        with open(os.path.join(self.root, "ann_manifest.json"),
                  "w") as f:
            json.dump(man, f)

    def ann_layouts(self) -> dict:
        p = os.path.join(self.root, "ann_manifest.json")
        if not os.path.exists(p):
            return {}
        with open(p) as f:
            return json.load(f)


class _EpochView(SegmentStore):
    """SegmentStore restricted to one snapshot's (segments, delete
    files) — the read side of rollback (rollback.go:35-140)."""

    def __init__(self, spark: SparkSession, root: str, snap: dict):
        super().__init__(spark, root)
        self._snap = snap
        self._segs = set(snap["segments"])

    def chunk_rows(self, with_blobs: bool = False) -> DataFrame:
        df = super().chunk_rows(with_blobs)
        return df.where(F.col("segment_id").isin(sorted(self._segs)))

    def doc_table(self, live_only: bool = True) -> DataFrame:
        df = super().doc_table(live_only=False).where(
            F.shiftrightunsigned("doc_num", SEG_SHIFT).isin(
                sorted(self._segs)
            )
        )
        if live_only:
            dels = self.deletions()
            if dels is not None:
                df = df.join(dels, "doc_num", "left_anti")
        return df

    def deletion_files(self) -> list[str]:
        return [os.path.join(self._del_dir(), f)
                for f in self._snap["delete_files"]]

    def manifests(self) -> list[dict]:
        return [
            m for m in super().manifests()
            if m["segment_id"] in self._segs
        ]
