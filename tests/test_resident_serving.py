"""The driver-resident serving tier (search.resident): answers on a
small persisted index must equal the Spark plan's
(``dict_cache_max=0`` forces it) and the independent oracle's, run no
Spark job per query, never serve stale postings, build one snapshot
under concurrent first queries, and fall back to the plan for
everything it does not cover."""

from __future__ import annotations

import dataclasses
import itertools
import math
import threading

import pytest

from bleve_spark.index.build import index_table
from bleve_spark.search import resident
from bleve_spark.search.resident import hits_of
from bleve_spark.search.searcher import compile_query, search, search_df
from tests import oracle as O

KEYS = ["conv_id", "turn_idx"]
FIELDS = {"text": "standard", "role": "keyword", "tool": "keyword"}
_group_ids = itertools.count()


def _spark_path(idx):
    return dataclasses.replace(idx, dict_cache_max=0, _dict_map=None)


def _ranked(df) -> list:
    return [((r["conv_id"], int(r["turn_idx"])), float(r["score"]))
            for r in df.collect()]


def _assert_same(got: list, want: list):
    assert [k for k, _ in got] == [k for k, _ in want]
    for (_, a), (_, b) in zip(got, want):
        assert math.isclose(a, b, rel_tol=1e-9), (a, b)


def _resident_answer(spark, idx, q: dict, size: int = 10) -> list:
    """compile_query → search_df(precompiled=…) → collect, asserting
    the resident tier answered and no Spark job ran."""
    sc = spark.sparkContext
    group = f"resident-{next(_group_ids)}"
    sc.setJobGroup(group, group)
    try:
        scored = compile_query(idx, q)
        assert hits_of(scored) is not None, f"fell back: {q}"
        rows = _ranked(search_df(idx, q, size=size, precompiled=scored))
    finally:
        sc.setJobGroup("", "")
    jobs = sc.statusTracker().getJobIdsForGroup(group)
    assert list(jobs) == [], f"{len(jobs)} Spark jobs for {q}"
    return rows


def _terms_by_df(toracle, field="text"):
    post = toracle.postings[field]
    return sorted((t for t in post if t.isalpha() and t.isascii()),
                  key=lambda t: (-len(post[t]), t))


def _adjacent_pair(toracle, terms) -> tuple[str, str]:
    """Two distinct terms at adjacent positions of some turn."""
    post = toracle.postings["text"]
    for key in sorted(post[terms[0]]):
        spans = sorted((p, t) for t in terms if key in post[t]
                       for p in post[t][key][1])
        for (px, x), (py, y) in zip(spans, spans[1:]):
            if py == px + 1 and x != y:
                return x, y
    raise AssertionError("corpus has no adjacent term pair")


@pytest.fixture(scope="module")
def cases(toracle):
    """(engine request, oracle node or None) pairs over corpus terms."""
    by_df = _terms_by_df(toracle)
    a, b, c, d = by_df[0], by_df[3], by_df[7], by_df[12]
    mid = next(t for t in by_df[40:] if len(t) >= 5)
    prefix = mid[:3]
    fz = mid[:-1] + ("z" if mid[-1] != "z" else "y")
    p1, p2 = _adjacent_pair(toracle, by_df[:200])
    t = O.term
    return [
        ({"field": "text", "term": a}, t("text", a)),
        ({"field": "text", "term": "zzznotaterm"}, t("text", "zzznotaterm")),
        ({"field": "text", "match": f"{a} {c}"},
         O.disj([t("text", a), t("text", c)], min=1)),
        ({"field": "text", "match": f"{b} {d}", "operator": "and"},
         O.conj([t("text", b), t("text", d)])),
        ({"disjuncts": [{"field": "text", "term": c, "boost": 3.0},
                        {"field": "text", "term": d}]},
         O.disj([t("text", c, boost=3.0), t("text", d)])),
        ({"field": "text", "terms": [p1, p2]},
         {"type": "phrase", "field": "text", "boost": 1.0,
          "slots": [(0, [p1]), (1, [p2])]}),
        ({"field": "text", "terms": [[p1, c], [p2]]},
         {"type": "phrase", "field": "text", "boost": 1.0,
          "slots": [(0, [p1, c]), (1, [p2])]}),
        ({"field": "text", "terms": [p1, p2], "slop": 2}, None),
        ({"field": "text", "match_phrase": f"{a} {b}", "slop": 2}, None),
        ({"must": {"conjuncts": [{"field": "text", "term": a}]},
          "should": {"disjuncts": [{"field": "text", "term": b}]},
          "must_not": {"disjuncts": [{"field": "text", "term": c}]},
          "filter": {"field": "role", "term": "user"}},
         {"type": "bool", "must": O.conj([t("text", a)]),
          "should": O.disj([t("text", b)], min=0),
          "must_not": O.disj([t("text", c)]),
          "filter": t("role", "user")}),
        ({"should": {"disjuncts": [{"field": "text", "term": a},
                                   {"field": "text", "term": d}],
                     "min": 2}},
         {"type": "bool",
          "should": O.disj([t("text", a), t("text", d)], min=2)}),
        ({"field": "text", "prefix": prefix},
         O.disj([t("text", x) for x in
                 toracle.expand_prefix("text", prefix)])),
        ({"field": "text", "term": fz, "fuzziness": 1},
         O.disj([t("text", x, boost_mult=1.0 / (dd + 1.0))
                 for x, dd in toracle.expand_fuzzy("text", fz, 1)])),
    ]


def test_resident_matches_spark_plan_and_oracle(spark, tindex, toracle,
                                                cases):
    compile_query(tindex, {"field": "text", "term": "warm"})  # build
    plan = _spark_path(tindex)
    for q, node in cases:
        got = _resident_answer(spark, tindex, q)
        _assert_same(got, _ranked(search_df(plan, q, size=10)))
        if node is not None:
            _assert_same(got, toracle.search(node, size=10))


def test_pages_and_full_result(spark, tindex, toracle):
    a = _terms_by_df(toracle)[0]
    q = {"field": "text", "match": a}
    plan = _spark_path(tindex)
    deep = _ranked(search_df(plan, q, size=25))
    page = _resident_answer(spark, tindex, q, size=15)
    _assert_same(page, deep[:15])
    got = search(tindex, q, size=5, from_=3)
    want = search(plan, q, size=5, from_=3)
    assert got["total_hits"] == want["total_hits"] > 0
    assert math.isclose(got["max_score"], want["max_score"],
                        rel_tol=1e-9)
    assert [h["id"] for h in got["hits"]] == [h["id"] for h in want["hits"]]


def test_synonyms_and_tfidf(spark, transcripts, transcripts_pd, toracle):
    a, b, c = _terms_by_df(toracle)[2:5]
    syn = index_table(transcripts, KEYS, FIELDS,
                      synonyms={"text": {a: [b, c]}})
    tfidf = index_table(transcripts, KEYS, FIELDS, scoring="tfidf")
    oracle_tfidf = O.PyIndex(
        transcripts_pd.to_dict("records"),
        key_fn=lambda r: (r["conv_id"], int(r["turn_idx"])),
        fields=FIELDS, scoring="tfidf",
    )
    try:
        for idx, orc, q, node in [
            (syn, toracle, {"field": "text", "term": a},
             O.disj([O.term("text", a), O.term("text", b, boost=0.5),
                     O.term("text", c, boost=0.5)])),
            (tfidf, oracle_tfidf, {"field": "text", "match": f"{a} {b}"},
             O.disj([O.term("text", a), O.term("text", b)], min=1)),
            (tfidf, oracle_tfidf, {"field": "text", "terms": [a, b]},
             None),
        ]:
            compile_query(idx, q)  # builds the snapshot
            got = _resident_answer(spark, idx, q)
            _assert_same(got, _ranked(search_df(_spark_path(idx), q)))
            if node is not None:
                _assert_same(got, orc.search(node, size=10))
    finally:
        syn.unpersist()
        tfidf.unpersist()


def test_update_dropping_a_field_serves_no_stale_hits(spark):
    from bleve_spark.index.mapping import IndexMapping, index_with_mapping
    from bleve_spark.index.update import apply_index_update

    def mapping(with_source: bool):
        props = {"text": {"dynamic": False, "fields": [
            {"type": "text", "include_in_all": False}]}}
        if with_source:
            props["source"] = {"dynamic": False, "fields": [
                {"type": "text", "analyzer": "keyword",
                 "include_in_all": False}]}
        return IndexMapping.from_dict({
            "index_dynamic": False, "store_dynamic": False,
            "docvalues_dynamic": False,
            "default_mapping": {"dynamic": False, "properties": props}})

    df = spark.createDataFrame(
        [(1, "quick brown fox", "web"), (2, "quick dog", "web"),
         (3, "lazy fox", "book")],
        "doc_id int, text string, source string",
    )
    idx = index_with_mapping(df, ["doc_id"], mapping(True), persist=True)
    q_src = {"field": "source", "term": "web"}
    q_txt = {"field": "text", "match": "fox"}
    before = search_df(idx, q_txt, size=10).collect()
    assert hits_of(compile_query(idx, q_src)) is not None
    assert search_df(idx, q_src, size=10).count() == 2

    upd = apply_index_update(idx, mapping(False))
    scored = compile_query(upd, q_src)
    assert hits_of(scored) is not None  # the view has its own snapshot
    assert scored.count() == 0
    assert search_df(upd, q_src, size=10).count() == 0
    after = search_df(upd, q_txt, size=10).collect()
    assert [(r["doc_id"], r["score"]) for r in after] == [
        (r["doc_id"], r["score"]) for r in before]
    # the original keeps its postings
    assert search_df(idx, q_src, size=10).count() == 2


def test_concurrent_first_queries_build_one_snapshot(
        spark, tindex, toracle, monkeypatch):
    # a new postings relation over the same cached data: no snapshot yet
    idx = dataclasses.replace(tindex, postings=tindex.postings.select("*"))
    idx.doc_freq("text", ["warm"])  # dictionary resident beforehand
    builds = []
    real = resident.build_snapshot

    def counting(postings, key_cols):
        builds.append(1)
        return real(postings, key_cols)

    monkeypatch.setattr(resident, "build_snapshot", counting)
    a, b = _terms_by_df(toracle)[:2]
    queries = [{"field": "text", "term": a},
               {"field": "text", "match": f"{a} {b}"},
               {"field": "text", "terms": [a, b]},
               {"field": "text", "prefix": a[:2]}]
    start = threading.Barrier(len(queries))
    results: dict = {}

    def client(i, q):
        start.wait()
        results[i] = _ranked(search_df(idx, q, size=10))

    threads = [threading.Thread(target=client, args=(i, q))
               for i, q in enumerate(queries)]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    assert len(builds) == 1
    plan = _spark_path(tindex)
    for i, q in enumerate(queries):
        _assert_same(results[i], _ranked(search_df(plan, q, size=10)))


def test_uncovered_requests_fall_back(spark, tindex, toracle):
    a = _terms_by_df(toracle)[0]
    plan = _spark_path(tindex)
    for q in [
        {"match_all": {}},
        {"conjuncts": [{"field": "text", "term": a},
                       {"field": "turn_idx", "min": 1, "max": 4}]},
    ]:
        scored = compile_query(tindex, q)
        assert hits_of(scored) is None
        _assert_same(_ranked(search_df(tindex, q, size=10,
                                       precompiled=scored)),
                     _ranked(search_df(plan, q, size=10)))
    # a field sort takes the plan over the resident frame of matches
    q = {"field": "text", "match": a}
    sort = ["-turn_idx", "conv_id"]
    scored = compile_query(tindex, q)
    assert hits_of(scored) is not None
    got = search_df(tindex, q, size=10, sort=sort, precompiled=scored)
    assert hits_of(got) is None
    _assert_same(_ranked(got), _ranked(search_df(plan, q, size=10,
                                                 sort=sort)))


def test_disabled_and_oversized_indexes_use_the_plan(spark, tindex,
                                                     monkeypatch):
    q = {"field": "text", "term": "the"}
    assert hits_of(compile_query(_spark_path(tindex), q)) is None
    big = dataclasses.replace(tindex, postings=tindex.postings.select("*"))
    monkeypatch.setattr(resident, "RESIDENT_MAX_POSTINGS", 10)
    assert hits_of(compile_query(big, q)) is None
