"""Block-max top-k on a small segment store, answered from a driver
snapshot read straight from the segment files
(resident.store_snapshot): equal to the Spark block-max plan
(``RESIDENT_MAX_POSTINGS=0`` forces it) and to the oracle, no Spark job
per call, never stale across deletes, updates and epochs, one build
under concurrent first calls, and the plan for stores it does not
cover. Also pins the one chunk decoder: the driver reader and the
``mapInArrow`` stage decode the same rows alike."""

from __future__ import annotations

import itertools
import json
import math
import os
import shutil
import threading

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from bleve_spark.index.segments import (
    SegmentStore,
    _postings_batch,
    build_segments,
    decode_chunk_batch,
    decode_chunk_rows,
)
from bleve_spark.index.varint import (
    delta_encode_sorted,
    encode_positions,
    varint_encode,
)
from bleve_spark.search import blockmax as B
from bleve_spark.search import resident
from bleve_spark.session import local_frame
from tests import oracle as O

KEYS = ["conv_id", "turn_idx"]
FIELDS = {"text": "standard", "role": "keyword"}
_groups = itertools.count()


@pytest.fixture(scope="module")
def store_root(transcripts, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("snapstore") / "idx")
    build_segments(transcripts, KEYS, FIELDS, root, n_segments=4)
    return root


def _topk(store, stats, terms, k=10, plan=False, monkeypatch=None):
    """pruned_disjunction_topk → [(key, score)]; ``plan`` pins the
    Spark block-max plan."""
    if plan:
        monkeypatch.setattr(resident, "RESIDENT_MAX_POSTINGS", 0)
    try:
        rows = B.pruned_disjunction_topk(store, stats, KEYS, "text",
                                         terms, k=k).collect()
    finally:
        if plan:
            monkeypatch.undo()
    return [((r["conv_id"], int(r["turn_idx"])), float(r["score"]))
            for r in rows]


def _assert_same(got: list, want: list):
    assert [k for k, _ in got] == [k for k, _ in want]
    for (_, a), (_, b) in zip(got, want):
        assert math.isclose(a, b, rel_tol=1e-9), (a, b)


def _jobs_of(spark, fn):
    """(fn(), Spark jobs it ran)."""
    sc = spark.sparkContext
    group = f"store-snapshot-{next(_groups)}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setJobGroup("", "")
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _terms_by_df(toracle):
    post = toracle.postings["text"]
    return sorted((t for t in post if t.isalpha() and t.isascii()),
                  key=lambda t: (-len(post[t]), t))


def _term_sets(toracle):
    by_df = _terms_by_df(toracle)
    return [
        by_df[:1],
        [by_df[0], by_df[5], by_df[30]],
        [by_df[2], "zzznotaterm", by_df[40]],
        [by_df[-1], by_df[-2], by_df[20], by_df[3]],
    ]


def test_matches_spark_plan_and_oracle(spark, store_root, tindex, toracle,
                                       monkeypatch):
    store = SegmentStore(spark, store_root)
    for terms in _term_sets(toracle):
        got = _topk(store, tindex.stats, terms)
        assert got
        _assert_same(got, _topk(store, tindex.stats, terms, plan=True,
                                monkeypatch=monkeypatch))
        node = O.disj([O.term("text", t) for t in terms], min=1)
        _assert_same(got, toracle.search(node, size=10))


def test_k_past_the_matches_and_absent_terms(spark, store_root, tindex,
                                             toracle, monkeypatch):
    store = SegmentStore(spark, store_root)
    terms = _term_sets(toracle)[2]
    node = O.disj([O.term("text", t) for t in terms], min=1)
    every = toracle.search(node, size=100_000)
    got = _topk(store, tindex.stats, terms, k=len(every) + 50)
    assert len(got) == len(every)
    _assert_same(got, every)
    _assert_same(got, _topk(store, tindex.stats, terms, k=len(every) + 50,
                            plan=True, monkeypatch=monkeypatch))

    gone = ["zzznotaterm", "qqqnotaterm"]
    frame = B.pruned_disjunction_topk(store, tindex.stats, KEYS, "text",
                                      gone, k=10)
    assert frame.columns == [*KEYS, "score"]
    assert frame.collect() == []
    assert _topk(store, tindex.stats, gone, plan=True,
                 monkeypatch=monkeypatch) == []


def test_tied_scores_break_on_ascending_key(spark, tmp_path, monkeypatch):
    # identical turns score alike; keys interleave across segments
    texts = ["red fox", "red fox", "red dog", "blue fox", "red fox"]
    rows = [(f"c{i % 3}", i, texts[i % len(texts)], "user")
            for i in range(15)]
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx long, text string, role string")
    root = str(tmp_path / "ties")
    build_segments(df, KEYS, FIELDS, root, n_segments=3)
    store = SegmentStore(spark, root)
    stats = store.stats(list(FIELDS))
    orc = O.PyIndex([dict(zip(("conv_id", "turn_idx", "text", "role"), r))
                     for r in rows],
                    key_fn=lambda r: (r["conv_id"], int(r["turn_idx"])),
                    fields=FIELDS)
    terms = ["red", "fox"]
    got = _topk(store, stats, terms, k=7)
    scores = [s for _, s in got]
    assert len(set(scores)) < len(scores)  # the case has ties
    _assert_same(got, _topk(store, stats, terms, k=7, plan=True,
                            monkeypatch=monkeypatch))
    # the store's multi-segment avg_len differs from the oracle's, so
    # compare the order, which ties decide
    node = O.disj([O.term("text", t) for t in terms], min=1)
    assert [k for k, _ in got] == [k for k, _ in orc.search(node, size=7)]


def test_no_spark_job_per_call(spark, store_root, tindex, toracle):
    store = SegmentStore(spark, store_root)
    terms = _term_sets(toracle)[1]
    for _ in range(2):  # the first call reads the snapshot too
        rows, jobs = _jobs_of(spark, lambda: _topk(store, tindex.stats,
                                                   terms))
        assert rows and jobs == 0


@pytest.fixture()
def fresh_store(spark, store_root, tmp_path):
    """A private copy of the store, for tests that write to it."""
    root = str(tmp_path / "copy")
    shutil.copytree(store_root, root)
    return SegmentStore(spark, root)


def test_deletes_and_updates_are_seen(spark, transcripts, fresh_store,
                                      tindex, toracle, monkeypatch):
    store = fresh_store
    terms = _term_sets(toracle)[1]
    before = _topk(store, tindex.stats, terms)
    epoch = store.commit_snapshot()

    dead = [k for k, _ in before[:3]]
    store.delete_docs(
        spark.createDataFrame(dead, "conv_id string, turn_idx long"), KEYS)
    after = _topk(store, tindex.stats, terms)
    assert not {k for k, _ in after} & set(dead)
    _assert_same(after, _topk(store, tindex.stats, terms, plan=True,
                              monkeypatch=monkeypatch))

    # an update moves a turn into a new segment with new text
    conv, turn = before[5][0]
    upd = transcripts.where(
        f"conv_id = '{conv}' AND turn_idx = {turn}"
    ).selectExpr("conv_id", "turn_idx", "'xyzzy plugh' AS text", "role")
    store.update_docs(upd, KEYS, FIELDS)
    assert [k for k, _ in _topk(store, tindex.stats, ["xyzzy"])] == [
        (conv, turn)]
    got = _topk(store, tindex.stats, ["xyzzy", *terms])
    _assert_same(got, _topk(store, tindex.stats, ["xyzzy", *terms],
                            plan=True, monkeypatch=monkeypatch))
    assert (conv, turn) not in {k for k, _ in _topk(store, tindex.stats,
                                                   terms)}

    # the epoch before the delete and the update serves its own state
    view = store.at_epoch(epoch)
    _assert_same(_topk(view, tindex.stats, terms), before)
    assert _topk(view, tindex.stats, ["xyzzy"]) == []
    _assert_same(_topk(view, tindex.stats, terms),
                 _topk(view, tindex.stats, terms, plan=True,
                       monkeypatch=monkeypatch))


def test_concurrent_first_calls_build_once(spark, fresh_store, tindex,
                                           toracle, monkeypatch):
    builds = []
    real = resident.read_store_snapshot

    def counting(store, key_cols):
        builds.append(1)
        return real(store, key_cols)

    monkeypatch.setattr(resident, "read_store_snapshot", counting)
    sets = _term_sets(toracle)
    start = threading.Barrier(len(sets))
    results: dict = {}

    def client(i, terms):
        start.wait()
        results[i] = _topk(fresh_store, tindex.stats, terms)

    threads = [threading.Thread(target=client, args=(i, t))
               for i, t in enumerate(sets)]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    assert len(builds) == 1
    monkeypatch.undo()
    for i, terms in enumerate(sets):
        _assert_same(results[i], _topk(fresh_store, tindex.stats, terms,
                                       plan=True, monkeypatch=monkeypatch))


def test_over_bound_and_legacy_stores_take_the_plan(
        spark, fresh_store, tindex, toracle, monkeypatch):
    store = fresh_store
    terms = _term_sets(toracle)[1]
    want = _topk(store, tindex.stats, terms)
    total = sum(m["postings"] for m in store.manifests())

    monkeypatch.setattr(resident, "RESIDENT_MAX_POSTINGS", total - 1)
    assert resident.store_snapshot(store, KEYS) is None
    got, jobs = _jobs_of(spark, lambda: _topk(store, tindex.stats, terms))
    assert jobs > 0
    _assert_same(got, want)
    monkeypatch.undo()

    # a legacy manifest (no posting_lens): norms live in the doc table
    mdir = os.path.join(store.root, "manifest")
    name = sorted(os.listdir(mdir))[0]
    with open(os.path.join(mdir, name)) as f:
        man = json.load(f)
    man.pop("posting_lens")
    with open(os.path.join(mdir, name), "w") as f:
        json.dump(man, f)
    legacy = SegmentStore(spark, store.root)
    assert resident.store_snapshot(legacy, KEYS) is None
    got, jobs = _jobs_of(spark, lambda: _topk(legacy, tindex.stats, terms))
    assert jobs > 0
    _assert_same(got, want)


def _decoded_set(t: pa.Table) -> set:
    return {
        (r["field"], r["term"], r["doc_num"], r["tf"],
         round(r["norm"], 7), tuple(r["positions"]))
        for r in t.to_pylist()
    }


def _driver_decode(chunks: pa.Table) -> pa.Table:
    """The driver reader's decode (SegmentStore.read_live_postings)."""
    b = chunks.combine_chunks().to_batches()[0]
    return pa.Table.from_batches([
        _postings_batch(b, *decode_chunk_batch(b, True, True))])


def _spark_decode(spark, chunks: pa.Table) -> pa.Table:
    schema = ("segment_id int, field string, term string, n_docs int, "
              "doc_blob binary, tf_blob binary, pos_blob binary, "
              "len_blob binary")
    cols = [c.split()[0] for c in schema.split(", ")]
    frame = local_frame(spark, chunks.select(cols).cast(pa.schema([
        ("segment_id", pa.int32()), ("field", pa.string()),
        ("term", pa.string()), ("n_docs", pa.int32()),
        *[(c, pa.binary()) for c in cols[4:]]])), schema)
    return decode_chunk_rows(frame, with_norm=True).toArrow()


def test_decode_kernel_same_on_driver_and_in_map_in_arrow(spark,
                                                          store_root):
    seg = pq.read_table(os.path.join(store_root, "postings", "seg=1"))
    driver = _driver_decode(seg)
    assert driver.num_rows == sum(seg.column("n_docs").to_pylist())
    assert _decoded_set(driver) == _decoded_set(_spark_decode(spark, seg))

    # a foreign position stream whose per-doc lengths disagree with the
    # tfs takes the per-row fallback, on both sides
    foreign = pa.table({
        "segment_id": pa.array([7, 7], pa.int32()),
        "field": ["text", "text"], "term": ["odd", "even"],
        "n_docs": pa.array([2, 1], pa.int32()),
        "doc_blob": [delta_encode_sorted(np.array([3, 9])),
                     delta_encode_sorted(np.array([4]))],
        "tf_blob": [varint_encode(np.array([2, 1], np.uint64)),
                    varint_encode(np.array([1], np.uint64))],
        "pos_blob": [encode_positions([np.array([5]), np.array([1, 6])]),
                     encode_positions([np.array([2])])],
        "len_blob": [varint_encode(np.array([4, 9], np.uint64)),
                     varint_encode(np.array([16], np.uint64))],
    })
    base = 7 << 40
    want = {("text", "odd", base + 3, 2, round(0.5, 7), (5,)),
            ("text", "odd", base + 9, 1, round(1 / 3, 7), (1, 6)),
            ("text", "even", base + 4, 1, 0.25, (2,))}
    assert _decoded_set(_driver_decode(foreign)) == want
    assert _decoded_set(_spark_decode(spark, foreign)) == want
