"""Segment store: encode/merge/resume/block-max/streaming tests."""

import glob
import os
import shutil

import pytest
from pyspark.sql import functions as F

from bleve_spark.index.build import index_table
from bleve_spark.index.merge import merge_to_single
from bleve_spark.index.segments import SegmentStore, build_segments
from bleve_spark.search.searcher import search

FIELDS = {"text": "standard", "role": "keyword"}
KEYS = ["conv_id", "turn_idx"]


@pytest.fixture(scope="module")
def seg_root(spark, transcripts, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("segstore") / "idx")
    stats = build_segments(
        transcripts, KEYS, FIELDS, root, n_segments=4
    )
    assert len(stats) == 4
    assert all(not s["resumed"] for s in stats)
    assert all(s["postings_per_sec"] > 0 for s in stats)
    return root


@pytest.fixture(params=["resident", "plan"])
def topk_tier(request, monkeypatch):
    """The tier that answers pruned_disjunction_topk on these small
    stores: the driver snapshot of the segment files, or the Spark
    block-max plan (pinned by a zero resident bound)."""
    from bleve_spark.search import resident

    if request.param == "plan":
        monkeypatch.setattr(resident, "RESIDENT_MAX_POSTINGS", 0)
    return request.param


def _postings_set(df, keys):
    rows = df.collect()
    return {
        (
            r["field"], r["term"],
            tuple(r[k] for k in keys),
            int(r["tf"]),
            tuple(r["positions"]),
            round(float(r["norm"]), 9),
        )
        for r in rows
    }


def test_roundtrip_equals_inmemory(spark, transcripts, seg_root):
    store = SegmentStore(spark, seg_root)
    from_store = _postings_set(
        store.postings_df(KEYS, list(FIELDS)), KEYS
    )
    idx = index_table(transcripts, KEYS, FIELDS, persist=False)
    in_mem = _postings_set(idx.postings, KEYS)
    assert from_store == in_mem


def test_manifest_metrics(spark, seg_root):
    store = SegmentStore(spark, seg_root)
    ms = store.manifests()
    assert len(ms) == 4
    total_docs = sum(m["doc_count"] for m in ms)
    assert total_docs == store.doc_table().count()
    for m in ms:
        assert m["postings"] > 0 and m["bytes"] > 0


def test_resume_rebuilds_only_missing(spark, transcripts, seg_root):
    # kill segment 2: drop manifest + data (mid-build crash simulation)
    shutil.rmtree(os.path.join(seg_root, "postings", "seg=2"))
    shutil.rmtree(os.path.join(seg_root, "docs", "seg=2"))
    os.remove(os.path.join(seg_root, "manifest", "seg=2.json"))
    stats = build_segments(
        transcripts, KEYS, FIELDS, seg_root, n_segments=4, resume=True
    )
    by_seg = {s["segment_id"]: s for s in stats}
    assert not by_seg[2]["resumed"]
    assert all(by_seg[i]["resumed"] for i in (0, 1, 3))
    # index is whole again
    store = SegmentStore(spark, seg_root)
    idx = index_table(transcripts, KEYS, FIELDS, persist=False)
    assert (
        store.postings_df(KEYS, list(FIELDS)).count()
        == idx.postings.count()
    )


def test_multisegment_cardinality_quirk(spark, transcripts, seg_root):
    """bleve sums per-segment unique terms WITHOUT global dedup
    (snapshot_index.go:151-161) — assert we reproduce that."""
    store = SegmentStore(spark, seg_root)
    st = store.stats(list(FIELDS))
    global_distinct = (
        store.chunk_rows()
        .where(F.col("field") == "text")
        .select("term").distinct().count()
    )
    assert st.field_cardinality["text"] > global_distinct


def test_merge_to_single(spark, transcripts, seg_root):
    final_root = merge_to_single(spark, seg_root, fanin=2)
    store = SegmentStore(spark, final_root)
    ms = store.manifests()
    assert len(ms) == 1
    assert ms[0]["doc_count"] == transcripts.count()
    # single-segment cardinality == global distinct now
    st = store.stats(list(FIELDS))
    global_distinct = (
        store.chunk_rows().where(F.col("field") == "text")
        .select("term").distinct().count()
    )
    assert st.field_cardinality["text"] == global_distinct

    # search over the merged store == search over in-memory index
    idx_mem = index_table(transcripts, KEYS, FIELDS, persist=False)
    idx_seg = store.to_indexed_table(transcripts, KEYS, FIELDS)
    q = {"field": "text", "match": "quick dogs"}
    h_mem = search(idx_mem, q, size=10)["hits"]
    h_seg = search(idx_seg, q, size=10)["hits"]
    assert [(h["id"], round(h["score"], 9)) for h in h_mem] == [
        (h["id"], round(h["score"], 9)) for h in h_seg
    ]


def test_cold_store_term_query_prunes_scan(spark, transcripts,
                                           seg_root):
    """persist=False at-rest index (r5): searcher reads route through
    postings_factory, so the (field, term) predicate lands in the
    parquet CHUNK scan below the decode UDF — a term query on a
    100 TB store must read that term's chunks, not the whole store.
    The dictionary likewise aggregates chunk metadata (n_docs/max_tf)
    without touching blobs."""
    store = SegmentStore(spark, seg_root)
    idx_seg = store.to_indexed_table(transcripts, KEYS, FIELDS)
    assert idx_seg.postings_factory is not None

    pruned = idx_seg.prune_postings(
        (F.col("field") == "text") & (F.col("term") == "quick")
    )
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    # the term literal must appear in the scan's pushed filters,
    # not only in a post-decode Filter node
    assert "PushedFilters" in plan
    pushed = [ln for ln in plan.splitlines() if "PushedFilters" in ln]
    assert any("quick" in ln for ln in pushed), pushed

    # rank identity with the in-memory index still holds end-to-end
    # (normalize the multi-segment cardinality to the global distinct
    # first — bleve sums per-segment unique terms, the in-memory twin
    # is a single logical segment; same normalization as the gates)
    import math as _math
    card = (
        store.chunk_rows().where(F.col("field") == "text")
        .select("term").distinct().count()
    )
    idx_seg.stats.field_cardinality["text"] = int(card)
    idx_seg.stats.avg_doc_len["text"] = _math.ceil(
        card / idx_seg.stats.doc_count
    )
    idx_mem = index_table(transcripts, KEYS, FIELDS, persist=False)
    q = {"field": "text", "match": "quick dogs"}
    h_mem = search(idx_mem, q, size=10)["hits"]
    h_seg = search(idx_seg, q, size=10)["hits"]
    assert [(h["id"], round(h["score"], 9)) for h in h_mem] == [
        (h["id"], round(h["score"], 9)) for h in h_seg
    ]

    # chunk-metadata dictionary matches the decoded-postings counts
    from pyspark.sql import functions as SF
    chunk_df = {
        (r["field"], r["term"]): r["doc_freq"]
        for r in idx_seg.dictionary.where(
            SF.col("term").isin(["quick", "dogs"])
        ).collect()
    }
    dec_df = {
        (r["field"], r["term"]): r["n"]
        for r in idx_seg.postings.where(
            SF.col("term").isin(["quick", "dogs"])
        ).groupBy("field", "term").agg(
            SF.count(SF.lit(1)).alias("n")
        ).collect()
    }
    assert chunk_df == dec_df and chunk_df


def test_merge_banded_equals_plain(spark, transcripts, seg_root,
                                   tmp_path):
    """band_chunks sub-keys (the Zipfian-term salting knob,
    merge.py) must not change the merged postings — only the group
    sizes the reducers see."""
    from bleve_spark.index.merge import merge_level

    plain_root = str(tmp_path / "plain")
    band_root = str(tmp_path / "banded")
    merge_level(spark, seg_root, plain_root, fanin=4)
    merge_level(spark, seg_root, band_root, fanin=4, band_chunks=1)

    plain = _postings_set(
        SegmentStore(spark, plain_root).postings_df(KEYS, list(FIELDS)),
        KEYS,
    )
    banded = _postings_set(
        SegmentStore(spark, band_root).postings_df(KEYS, list(FIELDS)),
        KEYS,
    )
    assert plain == banded and len(plain) > 0


def test_merge_round_issues_constant_jobs(spark, transcripts, tmp_path):
    """One merge round must be O(1) Spark jobs regardless of how many
    segments/groups it rewrites (the doc-table rewrite used to issue
    one sequential job + coalesce(1) PER GROUP — 20k serial jobs at
    the 200k-segment scale argument)."""
    from bleve_spark.index.merge import merge_level

    counts = {}
    for n in (4, 8):
        root = str(tmp_path / f"s{n}" / "idx")
        build_segments(transcripts, KEYS, FIELDS, root, n_segments=n)
        grp = f"merge-jobs-{n}"
        spark.sparkContext.setJobGroup(grp, "merge job count")
        try:
            # fanin=2 → n/2 merge groups: job count must not grow with it
            merge_level(spark, root, str(tmp_path / f"m{n}"), fanin=2)
        finally:
            spark.sparkContext.setJobGroup("idle", "")
        counts[n] = len(
            spark.sparkContext.statusTracker().getJobIdsForGroup(grp)
        )
    assert counts[4] == counts[8], counts
    assert counts[8] <= 8, counts


def test_blockmax_pruned_equals_naive(spark, transcripts, seg_root,
                                      topk_tier):
    from bleve_spark.search.blockmax import pruned_disjunction_topk
    from bleve_spark.search.searcher import compile_query

    store = SegmentStore(spark, seg_root)
    stats = store.stats(list(FIELDS))
    terms = ["quick", "dogs", "search", "data"]
    pruned = pruned_disjunction_topk(
        store, stats, KEYS, "text", terms, k=10
    ).collect()

    idx = store.to_indexed_table(transcripts, KEYS, FIELDS)
    naive = compile_query(
        idx,
        {"disjuncts": [
            {"field": "text", "term": t} for t in terms
        ], "min": 1},
    )
    order = [F.col("score").desc()] + [F.col(k).asc() for k in KEYS]
    naive_rows = naive.orderBy(*order).limit(10).collect()

    p = [
        (tuple(r[k] for k in KEYS), round(float(r["score"]), 9))
        for r in pruned
    ]
    n = [
        (tuple(r[k] for k in KEYS), round(float(r["score"]), 9))
        for r in naive_rows
    ]
    assert p == n


def test_blockmax_distributed_fallback_equals_naive(
    spark, transcripts, seg_root, monkeypatch, topk_tier
):
    """The >META_COLLECT_MAX path (distributed aggregation instead of
    the driver-side planning collect) produces the same ranking — the
    fallback a 10^12-doc hot term would take."""
    from bleve_spark.search import blockmax as B
    from bleve_spark.search.searcher import compile_query

    monkeypatch.setattr(B, "META_COLLECT_MAX", 1)
    B._META_CACHE.clear()
    store = SegmentStore(spark, seg_root)
    stats = store.stats(list(FIELDS))
    terms = ["quick", "dogs"]
    pruned = B.pruned_disjunction_topk(
        store, stats, KEYS, "text", terms, k=10
    ).collect()
    idx = store.to_indexed_table(transcripts, KEYS, FIELDS)
    naive = compile_query(
        idx,
        {"disjuncts": [
            {"field": "text", "term": t} for t in terms
        ], "min": 1},
    )
    order = [F.col("score").desc()] + [F.col(k).asc() for k in KEYS]
    naive_rows = naive.orderBy(*order).limit(10).collect()
    p = [
        (tuple(r[k] for k in KEYS), round(float(r["score"]), 9))
        for r in pruned
    ]
    n = [
        (tuple(r[k] for k in KEYS), round(float(r["score"]), 9))
        for r in naive_rows
    ]
    assert p == n


def test_streaming_incremental(spark, tmp_path):
    from bleve_spark.corpus import transcripts_pandas
    from bleve_spark.streaming.pipeline import IncrementalIndexer

    pdf = transcripts_pandas(12)
    in_dir = tmp_path / "in"
    in_dir.mkdir()
    # three micro-batch files
    for i in range(3):
        chunk = pdf[pdf["conv_id"].isin(
            [f"conv{j:08d}" for j in range(i * 4, (i + 1) * 4)]
        )]
        chunk.to_parquet(in_dir / f"batch_{i}.parquet")

    static = spark.read.parquet(str(in_dir))
    stream = (
        spark.readStream.schema(static.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(in_dir))
    )
    root = str(tmp_path / "store")
    indexer = IncrementalIndexer(root, KEYS, {"text": "standard"})
    q = indexer.attach(stream, str(tmp_path / "ckpt"))
    q.awaitTermination(120)

    store = indexer.store(spark)
    assert store.doc_table().count() == len(pdf)

    # queries over the incrementally-built store match a batch build
    idx_stream = store.to_indexed_table(static, KEYS, {"text": "standard"})
    # use identical stats semantics for the batch twin: same store math
    from bleve_spark.search.searcher import search as s2

    hits = s2(idx_stream, {"field": "text", "term": "quick"}, size=5)
    assert hits["total_hits"] > 0


def test_tiered_merge_preserves_postings(spark, transcripts, tmp_path):
    """Policy-driven tiered merge (reference mergeplan defaults) over
    many small segments must preserve the postings relation exactly."""
    from bleve_spark.index.merge import tiered_merge

    root = str(tmp_path / "tier")
    build_segments(
        transcripts, KEYS, {"text": "standard"}, root, n_segments=12
    )
    before = _postings_set(
        SegmentStore(spark, root).postings_df(KEYS, ["text"]), KEYS
    )
    final = tiered_merge(spark, root)
    assert final != root  # 12 tiny segments must trigger merging
    store = SegmentStore(spark, final)
    after = _postings_set(store.postings_df(KEYS, ["text"]), KEYS)
    assert before == after
    assert len(store.manifests()) < 12


def test_positions_free_read_matches(spark, transcripts, seg_root):
    """postings_df(positions=False) must agree with the full decode on
    every non-position column AND must not expose a positions column
    (the pos_blob read is skipped entirely — the scoring-only path)."""
    store = SegmentStore(spark, seg_root)
    full = store.postings_df(KEYS, list(FIELDS))
    slim = store.postings_df(KEYS, list(FIELDS), positions=False)
    assert "positions" not in slim.columns
    strip = lambda s: {t[:4] + t[5:] for t in s}
    assert {
        (r["field"], r["term"], tuple(r[k] for k in KEYS),
         int(r["tf"]), round(float(r["norm"]), 9))
        for r in slim.collect()
    } == strip(_postings_set(full, KEYS))


def test_conjunction_bulk_matches_union(spark, transcripts, seg_root):
    """The SConj bulk plan (one term-pruned postings join + one
    doc_num groupBy on stores with postings-resident norms) must be
    score-identical to the per-term union + HAVING count plan: an AND
    of n distinct terms is the min=n disjunction, coord = n/n = 1."""
    from bleve_spark.search.searcher import search_df

    store = SegmentStore(spark, seg_root)
    mk = lambda: store.to_indexed_table(
        transcripts, KEYS, FIELDS, persist=False
    )
    idx_bulk = mk()
    assert idx_bulk.postings_doc_factory is not None
    idx_union = mk()
    idx_union.postings_doc_factory = None  # forces the union plan
    queries = [
        {"field": "text", "match": "quick brown", "operator": "and"},
        {"field": "text", "match": "quick brown fox",
         "operator": "and", "boost": 2.5},
        {"must": {"conjuncts": [
            {"field": "text", "term": "quick"},
            {"field": "text", "term": "brown"}]},
         "must_not": {"disjuncts": [
            {"field": "text", "term": "fox"}]}},
        # multi-term must_not: SDisj.docs takes the one-read bulk
        # path on at-rest stores (vs per-term reads + union)
        {"must": {"conjuncts": [
            {"field": "text", "term": "quick"}]},
         "must_not": {"disjuncts": [
            {"field": "text", "term": "brown"},
            {"field": "text", "term": "fox"}]}},
    ]
    for q in queries:
        a = {
            (r["conv_id"], r["turn_idx"], round(r["score"], 9))
            for r in search_df(idx_bulk, q, size=9000).collect()
        }
        b = {
            (r["conv_id"], r["turn_idx"], round(r["score"], 9))
            for r in search_df(idx_union, q, size=9000).collect()
        }
        assert a == b and a, q


def test_merged_files_are_term_sorted(spark, transcripts, tmp_path):
    """Merged segment files must stay sorted by (field, term) so
    parquet page/row-group pruning survives the merge — unsorted
    merged output made a zero-posting term read cost the same as the
    highest-df term (full blob-page scan per query)."""
    import glob

    import pyarrow.parquet as pq

    root = str(tmp_path / "sorted_idx")
    build_segments(transcripts, KEYS, FIELDS, root, n_segments=6)
    final = merge_to_single(spark, root, fanin=3)
    files = glob.glob(final + "/postings/seg=*/*.parquet")
    assert files
    for f in files:
        t = pq.ParquetFile(f).read(columns=["field", "term"])
        pairs = list(zip(
            t.column("field").to_pylist(), t.column("term").to_pylist()
        ))
        assert pairs == sorted(pairs), f


def test_merge_wide_single_round_equals_rounds(
    spark, transcripts, seg_root, tmp_path
):
    """fanin=None (one wide round over all segments) serves byte-
    identical postings to the ≤10-way rounds — the concat fast path
    makes wide fan-in O(bytes) per term group, replacing log₁₀(n)
    full-shuffle rounds."""
    import shutil

    from bleve_spark.index.merge import merge_to_single

    r1 = str(tmp_path / "a")
    r2 = str(tmp_path / "b")
    shutil.copytree(seg_root, r1)
    shutil.copytree(seg_root, r2)
    w = merge_to_single(spark, r1, fanin=None)
    n = merge_to_single(spark, r2, fanin=2)
    sw = SegmentStore(spark, w)
    sn = SegmentStore(spark, n)
    idx_w = sw.to_indexed_table(transcripts, KEYS, FIELDS)
    idx_n = sn.to_indexed_table(transcripts, KEYS, FIELDS)
    from bleve_spark.search.searcher import search_df

    for q, need_hits in (
        ({"field": "text", "match": "quick dogs"}, True),
        # positional streams survive the concat byte-identically
        ({"field": "text", "match_phrase": "quick brown"}, False),
    ):
        a = [(r["conv_id"], r["turn_idx"],
              round(float(r["score"]), 9))
             for r in search_df(idx_w, q, size=10).collect()]
        b = [(r["conv_id"], r["turn_idx"],
              round(float(r["score"]), 9))
             for r in search_df(idx_n, q, size=10).collect()]
        assert a == b
        if need_hits:
            assert len(a) > 0


def test_blockmax_pareto_overflow_bucket(spark, tmp_path, topk_tier):
    """tf > PARETO_TF_CAP lands in the overflow bucket: its bound
    stays an upper bound and its achieved-θ contribution stays a
    lower bound (score at tf=CAP), so pruning remains rank-identical
    on heavy-tf docs."""
    from bleve_spark.index.segments import PARETO_TF_CAP
    from bleve_spark.search import blockmax as B
    from bleve_spark.search.searcher import compile_query

    heavy = " ".join(["zebra"] * (PARETO_TF_CAP + 9))
    rows = [(0, 0, f"{heavy} fox", "user")] + [
        (i, 0, "zebra fox jumps high " + "pad " * (i % 7), "user")
        for i in range(1, 40)
    ]
    df = spark.createDataFrame(
        rows, "conv_id long, turn_idx long, text string, role string"
    )
    root = str(tmp_path / "ovf")
    build_segments(df, KEYS, {"text": "standard"}, root, n_segments=2)
    store = SegmentStore(spark, root)
    stats = store.stats(["text"])
    B._META_CACHE.clear()
    pruned = B.pruned_disjunction_topk(
        store, stats, KEYS, "text", ["zebra", "fox"], k=5
    ).collect()
    idx = store.to_indexed_table(df, KEYS, {"text": "standard"})
    naive = compile_query(
        idx,
        {"disjuncts": [
            {"field": "text", "term": "zebra"},
            {"field": "text", "term": "fox"},
        ], "min": 1},
    )
    order = [F.col("score").desc()] + [F.col(k).asc() for k in KEYS]
    n5 = naive.orderBy(*order).limit(5).collect()
    p = [(r["conv_id"], r["turn_idx"], round(float(r["score"]), 9))
         for r in pruned]
    n = [(r["conv_id"], r["turn_idx"], round(float(r["score"]), 9))
         for r in n5]
    assert p == n and len(p) == 5
    # the overflow doc scores identically through both plans too
    heavy = [(r["conv_id"], round(float(r["score"]), 9))
             for r in naive.where(F.col("conv_id") == 0).collect()]
    heavy_p = [(r["conv_id"], round(float(r["score"]), 9))
               for r in B.pruned_disjunction_topk(
                   store, stats, KEYS, "text", ["zebra", "fox"], k=40
               ).collect() if r["conv_id"] == 0]
    assert heavy and heavy_p and heavy[0] == heavy_p[0]


def test_merge_auto_banding_hot_term(spark, transcripts, seg_root,
                                     tmp_path):
    """band_chunks="auto" (the merge_to_single default): a term whose
    total postings exceed config.MERGE_BAND_MIN_POSTINGS is sub-keyed
    into >1 band (so >1 merge task handles its bytes), cool terms keep
    the dense single-group fast path, and the merged postings are
    identical to the unbanded merge."""
    from bleve_spark import config as cfg
    from bleve_spark.index.merge import merge_to_single

    r1 = str(tmp_path / "auto")
    r2 = str(tmp_path / "plain")
    shutil.copytree(seg_root, r1)
    shutil.copytree(seg_root, r2)

    store0 = SegmentStore(spark, seg_root)
    per_term = {
        (r["field"], r["term"]): int(r["np"])
        for r in store0.chunk_rows().groupBy("field", "term")
        .agg(F.sum("n_docs").alias("np")).collect()
    }
    (hot_f, hot_t), hot_np = max(per_term.items(), key=lambda kv: kv[1])
    # threshold below the hot term, above everything else we care to
    # keep dense; bc = max(1, (hot_min//2)//chunk_docs) == 1 here
    hot_min = max(hot_np // 2, 1)
    cool = [
        (f, t) for (f, t), n in per_term.items()
        if n <= hot_min and (f, t) != (hot_f, hot_t)
    ]
    old = cfg.MERGE_BAND_MIN_POSTINGS
    try:
        cfg.configure(MERGE_BAND_MIN_POSTINGS=hot_min)
        w = merge_to_single(spark, r1, fanin=None)  # auto default
    finally:
        cfg.configure(MERGE_BAND_MIN_POSTINGS=old)
    n = merge_to_single(spark, r2, fanin=None, band_chunks=None)

    sw = SegmentStore(spark, w)
    sn = SegmentStore(spark, n)
    # >1 band for the hot term: with bc=1 the band key is
    # member·2^40 + chunk, so distinct high-bits == distinct merge
    # groups that produced this term's chunks
    hot_ids = [
        int(r["chunk_id"]) for r in sw.chunk_rows().where(
            (F.col("field") == hot_f) & (F.col("term") == hot_t)
        ).select("chunk_id").collect()
    ]
    assert len({cid >> 40 for cid in hot_ids}) > 1
    # a cool term kept dense ids (fast path untouched)
    assert cool, "fixture needs at least one cool term"
    cf, ct = max(cool, key=lambda k: per_term[k])
    cool_ids = sorted(
        int(r["chunk_id"]) for r in sw.chunk_rows().where(
            (F.col("field") == cf) & (F.col("term") == ct)
        ).select("chunk_id").collect()
    )
    assert cool_ids == list(range(len(cool_ids)))
    # postings identical to the unbanded wide merge
    a = _postings_set(sw.postings_df(KEYS, list(FIELDS)), KEYS)
    b = _postings_set(sn.postings_df(KEYS, list(FIELDS)), KEYS)
    assert a == b and len(a) > 0


def test_manifest_listing_single_point(spark, seg_root):
    """Every manifest scan routes through SegmentStore.manifest_names
    — a subclass swapping the lister (the object-store hook) changes
    what manifests()/manifest_stamp see, with no other code path doing
    its own directory walk."""
    class TwoOnly(SegmentStore):
        def manifest_names(self):
            return super().manifest_names()[:2]

    full = SegmentStore(spark, seg_root)
    two = TwoOnly(spark, seg_root)
    assert len(full.manifests()) == 4
    assert len(two.manifests()) == 2
    assert two.manifest_stamp() != full.manifest_stamp()



def test_merge_auto_banding_multi_round_hot_terms(
        spark, transcripts, transcripts_pd, tmp_path):
    """Multi-round merges (fanin < segments) under band_chunks="auto"
    with persistently hot terms: later rounds read the earlier rounds'
    banded chunk ids, and the result must still hold every posting
    exactly (compared with the independent oracle) under unique chunk
    ids per term."""
    from bleve_spark import config as cfg
    from tests.oracle import PyIndex

    root = str(tmp_path / "multi")
    # small chunks: hot terms span several chunks per segment
    build_segments(transcripts, KEYS, FIELDS, root, n_segments=4,
                   chunk_docs=4)
    old = cfg.MERGE_BAND_MIN_POSTINGS
    try:
        cfg.configure(MERGE_BAND_MIN_POSTINGS=8)
        out = merge_to_single(spark, root, fanin=2, chunk_docs=4)
    finally:
        cfg.configure(MERGE_BAND_MIN_POSTINGS=old)
    merged = SegmentStore(spark, out)
    assert len(merged.manifests()) == 1

    oracle = PyIndex(
        transcripts_pd.to_dict("records"),
        key_fn=lambda r: (r["conv_id"], int(r["turn_idx"])),
        fields=FIELDS,
    )
    want = {
        (f, t, key, tf, tuple(ps), round(norm, 9))
        for f, terms in oracle.postings.items()
        for t, docs in terms.items()
        for key, (tf, ps, norm) in docs.items()
    }
    got = {
        (f, t, (k[0], int(k[1])), tf, ps, n)
        for f, t, k, tf, ps, n in _postings_set(
            merged.postings_df(KEYS, list(FIELDS)), KEYS)
    }
    assert got == want
    dup = merged.chunk_rows().groupBy("field", "term").agg(
        F.count(F.lit(1)).alias("n"),
        F.countDistinct("chunk_id").alias("d"),
    ).where(F.col("n") != F.col("d")).count()
    assert dup == 0, "duplicate chunk ids within a term"
