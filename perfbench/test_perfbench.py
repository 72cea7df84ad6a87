"""Unit tests of the benchmark's own rules; no Spark session needed.

    python3 -m pytest perfbench -q
"""

import numpy as np
import pytest

from bleve_spark import corpus as engine_corpus
from perfbench import corpus, querylog
from perfbench.checks import AnswerChecker, build_oracle, check_postings
from perfbench.stats import (
    MIN_BEYOND,
    percentile,
    samples_beyond,
    tail_percentile,
)
from perfbench.tracing import Span, self_times
from perfbench.workloads import MIN_QUERIES, TAIL_PCT, failed_queries


# ---------------------------------------------------------- percentiles --

def test_nearest_rank_percentile():
    vals = list(range(1, 101))
    assert percentile(vals, 50) == 50
    assert percentile(vals, 90) == 90
    assert percentile(vals, 100) == 100
    assert percentile([7.0], 90) == 7.0
    assert percentile([3, 1, 2], 50) == 2


def test_tail_needs_ten_samples_beyond():
    assert samples_beyond(100, 90) == 10
    assert samples_beyond(99, 90) == 9
    assert tail_percentile(list(range(100)), 90) == 89
    with pytest.raises(ValueError):
        tail_percentile(list(range(99)), 90)
    with pytest.raises(ValueError):
        tail_percentile(list(range(49)), 80)


def test_every_run_carries_enough_queries_for_its_tail():
    assert samples_beyond(MIN_QUERIES, TAIL_PCT) >= MIN_BEYOND
    tail_percentile([float(i) for i in range(MIN_QUERIES)], TAIL_PCT)


# ------------------------------------------------------ seeded corpora --

def test_seed_ranges_are_disjoint():
    a = corpus.conv_range(0, corpus.SEED_SPAN)
    b = corpus.conv_range(1, corpus.SEED_SPAN)
    assert a[-1] < b[0]
    assert len(np.intersect1d(corpus.conv_range(3, 50),
                              corpus.conv_range(4, 50))) == 0
    with pytest.raises(ValueError):
        corpus.conv_range(0, corpus.SEED_SPAN + 1)


def test_same_seed_same_corpus_other_seed_other_corpus():
    a1 = corpus.turns(5, 90)
    a2 = corpus.turns(5, 90)
    b = corpus.turns(6, 90)
    assert len(a1) == len(b) == 90
    assert a1.equals(a2)
    assert set(a1["conv_id"]).isdisjoint(set(b["conv_id"]))
    # the engine's own row function generated it: a prefix of the
    # seed's conversation block
    convs = sorted({int(c[4:]) for c in a1["conv_id"]})
    assert convs[0] == 5 * corpus.SEED_SPAN
    expect = engine_corpus._gen_conv_rows(corpus.conv_range(5, len(convs)))
    assert a1.equals(expect.iloc[:90].reset_index(drop=True))


def test_batches_split_at_conversation_boundaries(tmp_path):
    import pandas as pd

    pdf = corpus.turns(2, 200)
    paths = corpus.write_batches(pdf, 4, str(tmp_path))
    parts = [pd.read_parquet(p) for p in paths]
    assert sum(len(p) for p in parts) == len(pdf)
    seen = set()
    for p in parts:
        convs = set(p["conv_id"])
        assert convs.isdisjoint(seen)
        seen |= convs
    back = pd.concat(parts, ignore_index=True)
    assert back[["conv_id", "turn_idx", "text"]].equals(
        pdf[["conv_id", "turn_idx", "text"]].reset_index(drop=True))


# ------------------------------------------------------ answer checks --

@pytest.fixture(scope="module")
def small():
    pdf = corpus.turns(9, 160)
    oracle = build_oracle(pdf)
    return oracle, querylog.make_pools(oracle, 9)


def test_query_log_is_seeded_and_mixes_classes_in_fixed_shares(small):
    oracle, pools = small
    log = querylog.make_log(pools, 9, 3 * querylog.BLOCK)
    again = querylog.make_log(querylog.make_pools(oracle, 9), 9,
                              3 * querylog.BLOCK)
    assert [q.key for q in log] == [q.key for q in again]
    for cls, k in querylog.QUOTA.items():
        assert sum(q.cls == cls for q in log) == 3 * k
    # Zipf weights: some query repeats within three blocks
    assert len({q.key for q in log}) < len(log)


def test_planted_wrong_answer_counts_as_failure(small):
    oracle, pools = small
    checker = AnswerChecker(oracle)
    q = pools["term_head"][0]
    right = checker.expected(q)
    assert len(right) >= 2
    swapped = [right[1], right[0], *right[2:]]
    off = [(right[0][0], right[0][1] * 1.001), *right[1:]]
    done = [
        (q, 1, right, None, 0.1),
        (q, 2, swapped, None, 0.1),
        (q, 3, off, None, 0.1),
        (q, 4, right[:-1], None, 0.1),
        (q, None, None, "RuntimeError: boom", 0.1),
    ]
    failures = failed_queries(done, checker)
    assert len(failures) == 4
    assert "boom" in failures[-1]


def test_planted_postings_loss_is_reported(small):
    oracle, _ = small
    post = oracle.postings["text"]
    meta = {t: (1, len(d)) for t, d in post.items()}
    assert check_postings(meta, oracle.doc_count, oracle) == []
    term = next(iter(meta))
    meta[term] = (1, meta[term][1] + 1)
    assert check_postings(meta, oracle.doc_count, oracle)
    assert check_postings({}, oracle.doc_count - 1, oracle)


# ------------------------------------------------------------ tracing --

def test_self_time_subtracts_children():
    spans = [
        Span(1, 1, "bench.query", None, 0.0, 10.0),
        Span(2, 1, "searcher.compile_query", 1, 1.0, 3.0),
        Span(3, 1, "searcher.search_df", 1, 2.0, 6.0),
        Span(4, 1, "query.parse_query", 3, 2.5, 3.0),
    ]
    st = self_times(spans)
    assert st["bench"] == pytest.approx(10.0 - 5.0)
    assert st["searcher"] == pytest.approx(2.0 + 3.5)
    assert st["query"] == pytest.approx(0.5)
