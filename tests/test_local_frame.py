"""session.LocalFrame: a small frame that stays on the driver until a
JVM operation needs it. Read back, it equals the same rows built with
``spark.createDataFrame(table, schema)``; after a JVM operation it
behaves exactly like that eager frame; concurrent first JVM accesses
build one relation. The resident tier's whole call sequence — the
benchmark's — sends no py4j command once warm."""

from __future__ import annotations

import datetime
import math
import sys
import threading

import pyarrow as pa
import pytest
from pyspark.sql import functions as F
from pyspark.sql.classic.dataframe import DataFrame
from pyspark.sql.types import (
    DateType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from bleve_spark.index.segments import SegmentStore, build_segments
from bleve_spark.search.blockmax import pruned_disjunction_topk
from bleve_spark.search.query import parse_query
from bleve_spark.search.resident import hits_of
from bleve_spark.search.searcher import compile_query, search, search_df
from bleve_spark.session import LocalFrame, local_frame

SCHEMA = StructType([
    StructField("s", StringType()),
    StructField("i", IntegerType()),
    StructField("l", LongType()),
    StructField("d", DoubleType()),
    StructField("ts", TimestampType()),
    StructField("dt", DateType()),
])


def _table(n: int = 5) -> pa.Table:
    """``n`` rows over every type of SCHEMA; every third row is null
    in every column, keys included."""
    def col(f):
        return [None if r % 3 == 1 else f(r) for r in range(n)]

    return pa.table({
        "s": col(lambda r: ["a", "é", "日本", "\U0001f600", ""][r % 5]),
        "i": pa.array(col(lambda r: r - 2), pa.int32()),
        "l": col(lambda r: (r - 2) * 2 ** 40),
        "d": col(lambda r: r / 3 - 0.5),
        "ts": pa.array(col(lambda r: datetime.datetime(
            2020 + r, 1 + r, 2, 3, 4, 5, 6 * r)), pa.timestamp("us")),
        "dt": col(lambda r: datetime.date(1970 + 9 * r, 12, 31)),
    })


def _pair(spark, table):
    return (local_frame(spark, table, SCHEMA),
            spark.createDataFrame(table, SCHEMA))


@pytest.fixture(params=["UTC", "America/Los_Angeles"])
def session_tz(spark, request):
    """Naive timestamps are read in the session time zone."""
    old = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", request.param)
    yield
    spark.conf.set("spark.sql.session.timeZone", old)


@pytest.mark.parametrize("n", [5, 0])
def test_reads_equal_the_eager_frame(spark, session_tz, n):
    lf, eager = _pair(spark, _table(n))
    assert isinstance(lf, LocalFrame) and not lf.materialized
    assert lf.collect() == eager.collect()
    assert lf.toArrow().equals(eager.toArrow())
    assert lf.toPandas().equals(eager.toPandas())
    assert lf.count() == eager.count() == n
    assert lf.schema == eager.schema
    assert lf.columns == eager.columns
    lf.unpersist()
    assert not lf.materialized  # every read came from the driver


def test_dict_data_and_ddl_schema(spark):
    lf = local_frame(spark, {"term": ["a", "b"], "w": [1.0, 2.5]},
                     "term string, w double")
    eager = spark.createDataFrame(lf.table, lf.schema)
    assert lf.collect() == eager.collect()
    assert lf.schema == eager.schema


def test_local_frame_sets_every_field_of_an_eager_frame(spark):
    """LocalFrame.__init__ stands in for the classic one: a field a
    pyspark upgrade adds there must show up here, not as a missing
    attribute deep in a JVM operation. (The reference frame comes from
    the classic constructor itself: ``createDataFrame`` also stores a
    ``_schema`` that nothing in classic pyspark reads.)"""
    lf = local_frame(spark, _table(), SCHEMA)
    eager = DataFrame(spark.range(1)._jdf, spark)
    missing = [k for k in vars(eager)
               if k not in vars(lf) and k not in vars(LocalFrame)]
    assert missing == []


def test_build_errors_are_not_read_as_column_attributes(spark,
                                                        monkeypatch):
    class BrokenHits:
        def table(self, rows):
            raise AttributeError("no postings")

    lf = LocalFrame(spark, SCHEMA, hits=BrokenHits(), rows=[0])
    with pytest.raises(RuntimeError, match="no postings") as err:
        lf.collect()
    assert isinstance(err.value.__cause__, AttributeError)

    def broken(*args, **kwargs):
        raise AttributeError("no relation")

    lf = local_frame(spark, _table(), SCHEMA)
    monkeypatch.setattr(spark, "createDataFrame", broken)
    with pytest.raises(RuntimeError, match="no relation") as err:
        lf.select("s")
    assert isinstance(err.value.__cause__, AttributeError)


def test_jvm_operations_equal_the_eager_frame(spark, session_tz):
    lf, eager = _pair(spark, _table())
    other = spark.range(-3, 3).select(F.col("id").cast("int").alias("i"),
                                      (F.col("id") * 10).alias("x"))

    def answers(df):
        order = [F.col("i").asc_nulls_first(), F.col("s").asc_nulls_first()]
        return [
            df.select("s", (F.col("l") + 1).alias("l1")).collect(),
            sorted(df.join(other, "i").collect(), key=str),
            sorted(other.join(F.broadcast(df), "i").collect(), key=str),
            df.orderBy(*order).limit(3).collect(),
        ]

    assert answers(lf) == answers(eager)
    assert lf.materialized
    plan = lf._jdf.queryExecution()
    assert "LocalRelation" in plan.optimizedPlan().toString()
    lf.persist()
    assert lf.is_cached and lf.storageLevel.useMemory
    assert lf.collect() == eager.collect()
    assert lf.count() == eager.count()
    lf.unpersist()
    assert not lf.is_cached and not lf.storageLevel.useMemory


def test_concurrent_first_jvm_access_builds_one_relation(spark,
                                                         monkeypatch):
    lf = local_frame(spark, _table(), SCHEMA)
    builds = []
    real = spark.createDataFrame

    def counting(*args, **kwargs):
        builds.append(1)
        return real(*args, **kwargs)

    monkeypatch.setattr(spark, "createDataFrame", counting)
    n = 8  # more threads than the session's 4 cores
    start = threading.Barrier(n)
    seen = []

    def touch():
        start.wait()
        seen.append(lf._jdf)

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=touch) for _ in range(n)]
        for th in threads:
            th.start()
        for th in threads:
            th.join(timeout=120)
    finally:
        sys.setswitchinterval(interval)
    assert not any(th.is_alive() for th in threads)
    assert len(builds) == 1
    assert len(seen) == n and all(j is seen[0] for j in seen)
    assert lf.collect() == real(_table(), SCHEMA).collect()


# --------------------------------------------------- zero round trips --

KEYS = ["conv_id", "turn_idx"]


def _terms_by_df(toracle):
    post = toracle.postings["text"]
    return sorted((t for t in post if t.isalpha() and t.isascii()),
                  key=lambda t: (-len(post[t]), t))


@pytest.fixture(scope="module")
def store(spark, transcripts, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("lfstore") / "idx")
    build_segments(transcripts, KEYS, {"text": "standard"}, root,
                   n_segments=2)
    return SegmentStore(spark, root)


class _Py4jCounter:
    """Counts the commands the driver sends the JVM gateway."""

    def __init__(self, spark):
        self.client = spark.sparkContext._gateway._gateway_client
        self.commands: list[str] = []

    def __enter__(self):
        real = self.client.send_command

        def counting(command, *args, **kwargs):
            self.commands.append(command.split("\n")[:3])
            return real(command, *args, **kwargs)

        self.client.send_command = counting
        return self

    def __exit__(self, *exc):
        del self.client.send_command


def test_resident_call_sequence_sends_no_py4j_command(spark, tindex, store,
                                                      toracle):
    by_df = _terms_by_df(toracle)
    a, b, c = by_df[0], by_df[3], by_df[-1]
    requests = [
        {"field": "text", "term": a},
        {"field": "text", "term": c},
        {"field": "text", "match": f"{a} {b}"},
        {"field": "text", "match": f"{a} {b}", "operator": "and"},
        {"field": "text", "terms": [a, b]},
        {"must": {"conjuncts": [{"field": "text", "term": a}]},
         "must_not": {"disjuncts": [{"field": "text", "term": b}]}},
        {"field": "text", "prefix": b[:2]},
        {"field": "text", "term": b + "x", "fuzziness": 1},
    ]

    def run():
        frames, rows = [], []
        for r in requests:  # the benchmark's sequence
            parsed = parse_query(r)
            scored = compile_query(tindex, parsed)
            page = search_df(tindex, parsed, size=10, precompiled=scored)
            frames += [scored, page]
            rows.append(page.collect())
            rows.append(search(tindex, r, size=10)["hits"])
        top = pruned_disjunction_topk(store, tindex.stats, KEYS, "text",
                                      [a, b, c], k=10)
        frames.append(top)
        rows.append(top.collect())
        return frames, rows

    want = run()[1]  # warm-up: snapshots, dictionary
    with _Py4jCounter(spark) as sent:
        frames, rows = run()
    assert sent.commands == []
    assert rows == want
    assert all(hits_of(f) is not None for f in frames)
    assert not any(f.materialized for f in frames)
    # a frame that has become a JVM relation still reads from the driver
    page = frames[1]
    page._jdf
    with _Py4jCounter(spark) as sent:
        again = (page.collect(), page.count())
    assert sent.commands == []
    assert again == (rows[0], len(rows[0]))
    # the answers are real: a term query finds its postings
    assert len(rows[0]) == min(10, len(toracle.postings["text"][a]))
    assert all(not math.isnan(r["score"]) for r in rows[0])
