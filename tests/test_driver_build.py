"""index_table's two size classes. A small persisted input is built on
the driver (postings and dictionary are driver-held LocalFrames); its
postings rows (float32 norm bit for bit), dictionary rows and stats
equal the Spark plan's, called directly as ``build._index_on_plan``,
and both tiers answer like the oracle. The build starts one Spark job,
the first resident query after it sends no py4j command, and every
input outside the class builds on the plan."""

from __future__ import annotations

import dataclasses
import datetime
import itertools
import math
import threading

import numpy as np
import pyarrow as pa
import pytest
from pyspark.sql import functions as F

from bleve_spark.analysis.analyzers import Analyzer
from bleve_spark.analysis.filters import LowercaseFilter, UniqueFilter
from bleve_spark.analysis.tokenizers import UnicodeTokenizer
from bleve_spark.corpus import transcripts_df
from bleve_spark.index import build
from bleve_spark.index.build import index_table
from bleve_spark.search import resident
from bleve_spark.search.query import parse_query
from bleve_spark.search.resident import hits_of
from bleve_spark.search.searcher import compile_query, search, search_df
from bleve_spark.session import LocalFrame
from tests import oracle as O
from tests.test_local_frame import _Py4jCounter

KEYS = ["conv_id", "turn_idx"]
FIELDS = {"text": "standard", "role": "keyword"}
_group_ids = itertools.count()

TEXTS = [
    None, "", "   ", "\t\n ", "Café naïve déjà vu — Ünïcode",
    "日本語のテキスト 東京", "😀 emoji 😀 text", "the quick brown fox jumps",
    "quick quick quick fox", "Straße STRASSE strasse", "a", "dog fox the fox",
]
TAGS = [None, "", " ", "x y", "Ünï", "日本", "😀", "tag", "tag", "Tag", "a",
        "fox"]
UNIQUE = Analyzer("unique_words", UnicodeTokenizer(),
                  [LowercaseFilter(), UniqueFilter()])


def _spark_path(idx):
    return dataclasses.replace(idx, dict_cache_max=0, _dict_map=None)


def _ranked_rows(rows, keys=KEYS) -> list:
    return [(tuple(r[k] for k in keys), float(r["score"])) for r in rows]


def _ranked(df, keys) -> list:
    return _ranked_rows(df.collect(), keys)


def _assert_same(got: list, want: list):
    assert [k for k, _ in got] == [k for k, _ in want]
    for (_, a), (_, b) in zip(got, want):
        assert math.isclose(a, b, rel_tol=1e-9), (a, b)


def _edge_rows(n: int = len(TEXTS)) -> list[dict]:
    return [{"id": i, "ts": datetime.datetime(2024, 1 + i % 12, 1 + i, i, 30),
             "text": TEXTS[i], "tag": TAGS[i]} for i in range(n)]


def _frame(spark, rows: list[dict], schema: str):
    """A LocalRelation of ``rows`` (its size is known to the planner,
    unlike that of a frame parallelized from a list)."""
    names = [c.split()[0] for c in schema.split(", ")]
    return spark.createDataFrame(
        pa.Table.from_pylist([{c: r[c] for c in names} for r in rows]),
        schema)


@pytest.fixture(scope="module")
def edge_df(spark):
    return _frame(spark, _edge_rows(),
                  "id int, ts timestamp, text string, tag string")


@pytest.fixture(scope="module")
def inputs(spark, transcripts, transcripts_pd, edge_df):
    """name -> (df, keys, fields, oracle rows)."""
    edge = _edge_rows()
    corpus = transcripts_pd.to_dict("records")
    return {
        "standard+keyword": (transcripts, KEYS, FIELDS, corpus),
        "edge_text_int_key": (edge_df, ["id"],
                              {"text": "standard", "tag": "keyword"}, edge),
        "timestamp_key": (edge_df, ["ts"], {"text": "standard"}, edge),
        "string_key_stream_filter": (
            edge_df.withColumn("sid", F.format_string("d%03d", "id")),
            ["sid"], {"text": UNIQUE},
            [{**r, "sid": f"d{r['id']:03d}"} for r in edge]),
    }


@pytest.fixture(scope="module")
def pairs(inputs):
    """name -> (driver-built, plan-built) index of the same input."""
    out = {}
    for name, (df, keys, fields, _) in inputs.items():
        driver = index_table(df, keys, fields)
        out[name] = (driver, build._index_on_plan(df, keys, fields))
    yield out
    for driver, plan in out.values():
        driver.unpersist()
        plan.unpersist()


def _sorted_rows(df) -> list:
    return sorted(tuple(r) for r in df.collect())


@pytest.mark.parametrize("name", [
    "standard+keyword", "edge_text_int_key", "timestamp_key",
    "string_key_stream_filter"])
def test_driver_build_equals_plan_build(pairs, name):
    driver, plan = pairs[name]
    assert isinstance(driver.postings, LocalFrame)
    assert isinstance(driver.dictionary, LocalFrame)
    assert not isinstance(plan.postings, LocalFrame)
    assert driver.postings.columns == plan.postings.columns
    got, want = _sorted_rows(driver.postings), _sorted_rows(plan.postings)
    assert got == want and got
    norm = driver.postings.columns.index("norm")
    bits = [np.array([r[norm] for r in rows], np.float32).view(np.int32)
            for rows in (got, want)]
    assert np.array_equal(*bits)
    assert driver.dictionary.columns == plan.dictionary.columns
    assert (_sorted_rows(driver.dictionary)
            == _sorted_rows(plan.dictionary))
    assert driver.stats == plan.stats
    assert driver.field_analyzers == plan.field_analyzers


def _queries(orc, fields) -> list:
    """(request, oracle node) pairs over each field's terms."""
    out = []
    for f in fields:
        post = orc.postings[f]
        by_df = sorted((t for t in post if t.strip()),
                       key=lambda t: (-len(post[t]), t))
        a, z = by_df[0], by_df[-1]
        out.append(({"field": f, "term": a}, O.term(f, a)))
        out.append(({"field": f, "term": z}, O.term(f, z)))
        if len(by_df) > 2:
            b = by_df[len(by_df) // 2]
            out.append(({"disjuncts": [{"field": f, "term": a},
                                       {"field": f, "term": b}]},
                        O.disj([O.term(f, a), O.term(f, b)])))
    return out


@pytest.mark.parametrize("name", [
    "standard+keyword", "edge_text_int_key", "timestamp_key",
    "string_key_stream_filter"])
def test_both_tiers_answer_like_the_oracle(inputs, pairs, name):
    _, keys, fields, rows = inputs[name]
    driver, plan = pairs[name]
    orc = O.PyIndex(rows, key_fn=lambda r: tuple(r[k] for k in keys),
                    fields=fields)
    for q, node in _queries(orc, fields):
        want = orc.search(node, size=10)
        assert hits_of(compile_query(driver, q)) is not None, q
        _assert_same(_ranked(search_df(driver, q, size=10), keys), want)
        assert hits_of(compile_query(_spark_path(plan), q)) is None
        _assert_same(_ranked(search_df(_spark_path(plan), q, size=10),
                             keys), want)


def test_past_the_postings_bound_builds_on_the_plan(spark, transcripts,
                                                    pairs, monkeypatch):
    driver = pairs["standard+keyword"][0]
    monkeypatch.setattr(resident, "RESIDENT_MAX_POSTINGS", 10)
    # pass the size gate, so the check after analysis decides
    monkeypatch.setattr(build, "POSTINGS_PER_ESTIMATED_BYTE", 0.0)
    big = index_table(transcripts, KEYS, FIELDS)
    try:
        assert not isinstance(big.postings, LocalFrame)
        assert big.stats == driver.stats
        for q in [{"field": "text", "match": "data spark"},
                  {"field": "role", "term": "user"}]:
            assert hits_of(compile_query(big, q)) is None
            _assert_same(_ranked(search_df(big, q, size=10), KEYS),
                         _ranked(search_df(driver, q, size=10), KEYS))
    finally:
        big.unpersist()


def test_inputs_outside_the_class_build_on_the_plan(spark, edge_df):
    keys, fields = ["id"], {"text": "standard"}
    thes = spark.createDataFrame([("c", "fox", "dog")],
                                 "collection string, term string, "
                                 "synonym string")
    built = [
        index_table(edge_df, keys, fields, persist=False),
        index_table(edge_df, keys, fields,
                    composite_fields={"_all": ["text", "tag"]}),
        index_table(edge_df, keys, fields, thesaurus=thes,
                    synonym_collections={"text": "c"}),
        index_table(edge_df, keys, fields, extra_postings=[
            build._index_on_plan(edge_df, keys, {"tag": "keyword"},
                                 persist=False).postings]),
        index_table(edge_df.withColumn("_nested_ctx", F.lit("")),
                    [*keys, "_nested_ctx"], fields),
        index_table(edge_df.withColumn("arr", F.array("text", "tag")),
                    keys, {"arr": "standard"}),
        index_table(edge_df.union(edge_df), keys, fields),  # same-key rows
    ]
    try:
        assert not any(isinstance(i.postings, LocalFrame) for i in built)
    finally:
        for i in built:
            i.unpersist()


def test_past_the_size_gate_builds_on_the_plan_without_a_collect(
        spark, edge_df, monkeypatch):
    keys, fields = ["id"], {"text": "standard"}
    collects = []
    cls = type(edge_df)
    to_arrow = cls.toArrow
    monkeypatch.setattr(cls, "toArrow",
                        lambda self: collects.append(self) or to_arrow(self))
    # the estimate of the 12 edge rows predicts more than 10 postings
    monkeypatch.setattr(resident, "RESIDENT_MAX_POSTINGS", 10)
    idx = index_table(edge_df, keys, fields)
    try:
        assert not isinstance(idx.postings, LocalFrame)
        assert collects == []
    finally:
        idx.unpersist()


def test_driver_build_ignores_the_broadcast_join_threshold(spark, edge_df):
    conf = "spark.sql.autoBroadcastJoinThreshold"
    old = spark.conf.get(conf)
    spark.conf.set(conf, "-1")
    try:
        idx = index_table(edge_df, ["id"], {"text": "standard"})
    finally:
        spark.conf.set(conf, old)
    try:
        assert isinstance(idx.postings, LocalFrame)
    finally:
        idx.unpersist()


REQUESTS = [
    {"field": "text", "term": "data"},
    {"field": "text", "match": "spark data"},
    {"field": "text", "match": "spark data", "operator": "and"},
    {"field": "text", "match_phrase": "the data"},
    {"field": "text", "prefix": "da"},
    {"field": "text", "term": "dta", "fuzziness": 1},
    {"field": "role", "term": "user"},
]


def test_build_runs_one_job_and_first_queries_no_py4j(spark):
    sc = spark.sparkContext
    df = transcripts_df(spark, 12)  # uncached: the collect generates it
    group = f"driver-build-{next(_group_ids)}"
    sc.setJobGroup(group, group)
    try:
        idx = index_table(df, KEYS, FIELDS)
    finally:
        sc.setJobGroup("", "")
    assert isinstance(idx.postings, LocalFrame)
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == 1
    with _Py4jCounter(spark) as sent:
        frames, rows = [], []
        for r in REQUESTS:  # the benchmark's call sequence
            parsed = parse_query(r)
            scored = compile_query(idx, parsed)
            page = search_df(idx, parsed, size=10, precompiled=scored)
            frames += [scored, page]
            rows.append(page.collect())
            rows.append(search(idx, r, size=10)["hits"])
    assert sent.commands == []
    assert all(hits_of(f) is not None for f in frames)
    assert not idx.postings.materialized
    plan = build._index_on_plan(df, KEYS, FIELDS)
    try:
        for r, got in zip(REQUESTS, rows[::2]):
            _assert_same(_ranked_rows(got),
                         _ranked(search_df(_spark_path(plan), r), KEYS))
    finally:
        plan.unpersist()


def test_fallback_queries_on_a_driver_built_index(pairs):
    driver, plan = pairs["standard+keyword"]
    plan = _spark_path(plan)
    q = {"field": "text", "match": "spark data"}
    for req in [{"match_all": {}},
                {"conjuncts": [{"field": "text", "term": "data"},
                               {"field": "turn_idx", "min": 1, "max": 4}]}]:
        assert hits_of(compile_query(driver, req)) is None
        _assert_same(_ranked(search_df(driver, req, size=10), KEYS),
                     _ranked(search_df(plan, req, size=10), KEYS))
    # dict_cache_max=0 forces the plan also over the build's dictionary
    forced = dataclasses.replace(driver, dict_cache_max=0)
    assert hits_of(compile_query(forced, q)) is None
    _assert_same(_ranked(search_df(forced, q, size=10), KEYS),
                 _ranked(search_df(driver, q, size=10), KEYS))
    sort = ["-turn_idx", "conv_id"]
    got = search_df(driver, q, size=10, sort=sort)
    assert hits_of(got) is None
    _assert_same(_ranked(got, KEYS),
                 _ranked(search_df(plan, q, size=10, sort=sort), KEYS))
    full = search_df(driver, q, size=10).collect()
    cursor = [full[3]["score"], full[3]["conv_id"], full[3]["turn_idx"]]
    _assert_same(
        _ranked(search_df(driver, q, size=6, search_after=cursor), KEYS),
        _ranked_rows(full[4:10]))


def test_persist_and_unpersist_a_driver_built_index(spark, transcripts):
    idx = index_table(transcripts, KEYS, FIELDS)
    q = {"field": "text", "match": "spark data"}
    want = _ranked(search_df(idx, q), KEYS)
    idx.unpersist()
    assert idx._persisted == []
    assert hits_of(compile_query(idx, q)) is None  # the plan serves
    _assert_same(_ranked(search_df(idx, q), KEYS), want)
    idx.persist()
    assert idx.postings.is_cached and isinstance(idx.postings, LocalFrame)
    assert hits_of(compile_query(idx, q)) is not None
    _assert_same(_ranked(search_df(idx, q), KEYS), want)
    idx.unpersist()
    assert not idx.postings.is_cached


def test_field_dropping_update_view_of_a_driver_built_index(spark):
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

    df = _frame(spark, [
        {"doc_id": 1, "text": "quick brown fox", "source": "web"},
        {"doc_id": 2, "text": "quick dog", "source": "web"},
        {"doc_id": 3, "text": "lazy fox", "source": "book"},
    ], "doc_id int, text string, source string")
    idx = index_with_mapping(df, ["doc_id"], mapping(True), persist=True)
    assert isinstance(idx.postings, LocalFrame)
    q_src = {"field": "source", "term": "web"}
    q_txt = {"field": "text", "match": "fox"}
    before = _ranked(search_df(idx, q_txt), ["doc_id"])
    upd = apply_index_update(idx, mapping(False))
    scored = compile_query(upd, q_src)
    assert hits_of(scored) is not None and scored.count() == 0
    _assert_same(_ranked(search_df(upd, q_txt), ["doc_id"]), before)
    assert search_df(idx, q_src).count() == 2
    idx.unpersist()


def test_concurrent_first_queries_on_a_driver_built_index(
        spark, transcripts, pairs, monkeypatch):
    builds = []
    monkeypatch.setattr(resident, "build_snapshot",
                        lambda *a: builds.append(1))
    idx = index_table(transcripts, KEYS, FIELDS)
    queries = REQUESTS[:4]
    start = threading.Barrier(len(queries))
    results: dict = {}

    def client(i, q):
        start.wait()
        results[i] = _ranked(search_df(idx, q, size=10), KEYS)

    threads = [threading.Thread(target=client, args=(i, q))
               for i, q in enumerate(queries)]
    for th in threads:
        th.start()
    for th in threads:
        th.join(timeout=120)
    assert not any(th.is_alive() for th in threads)
    assert builds == []  # the build handed its snapshot over
    plan = _spark_path(pairs["standard+keyword"][1])
    for i, q in enumerate(queries):
        _assert_same(results[i], _ranked(search_df(plan, q, size=10), KEYS))
    idx.unpersist()

