"""Prefix expansion from the code-point-sorted resident dictionary
(IndexedTable.prefix_terms) equals a linear ``startswith`` scan: the
empty prefix, non-ASCII and astral code points, prefixes ending in
U+10FFFF and prefixes past the last term. The compiled prefix query
expands the same terms without building a Spark Column, so no Spark
session is needed."""

from hypothesis import given, settings, strategies as st

from bleve_spark.index.build import IndexedTable
from bleve_spark.search import query as Q
from bleve_spark.search.searcher import Compiler, SDisj, SNone

MAX = "\U0010ffff"
# code points around the interesting boundaries: ASCII, Latin-1, the
# code points either side of the surrogates, astral, and the maximum
WORDS = st.text(alphabet=st.sampled_from(
    ["a", "b", "z", "\xe9", "\ud7ff", "\ue000", "\U0001f600", MAX]),
    max_size=6)
VOCABS = st.dictionaries(WORDS, st.integers(1, 50), max_size=60)


def _scan(vocab: dict, prefix: str) -> list:
    return sorted((t, n) for t, n in vocab.items() if t.startswith(prefix))


def _index(vocab: dict) -> IndexedTable:
    """An index whose dictionary is already driver-resident."""
    return IndexedTable(source=None, postings=None, key_cols=["k"],
                        field_analyzers={"text": "standard"}, stats=None,
                        _dict_map={"text": vocab})


@settings(max_examples=400, deadline=None)
@given(vocab=VOCABS, prefix=WORDS, data=st.data())
def test_prefix_terms_equal_linear_scan(vocab, prefix, data):
    idx = _index(vocab)
    cases = [prefix, "", prefix + MAX, MAX * 7]
    if vocab:
        term = data.draw(st.sampled_from(sorted(vocab)))
        cut = data.draw(st.integers(0, len(term)))
        cases += [term[:cut], term, term + "a", max(vocab) + "a"]
    for p in cases:
        assert idx.prefix_terms("text", p) == _scan(vocab, p), p


@settings(max_examples=200, deadline=None)
@given(vocab=VOCABS, prefix=WORDS)
def test_prefix_query_expands_the_scanned_terms(vocab, prefix):
    node = Compiler(_index(vocab)).resolve(
        Q.PrefixQuery(prefix=prefix, field="text", boost=1.5))
    want = _scan(vocab, prefix)
    if not want:
        assert type(node) is SNone
        return
    assert type(node) is SDisj and node.min == 0
    assert [(c.term, c.doc_freq, c.boost, c.boost_multiplier)
            for c in node.children] == [(t, n, 1.5, 1.0) for t, n in want]


def test_prefix_terms_follow_the_dictionary():
    idx = _index({"cat": 1, "cart": 3, "dog": 2})
    assert idx.prefix_terms("text", "ca") == [("cart", 3), ("cat", 1)]
    assert idx.prefix_terms("text", "") == [("cart", 3), ("cat", 1),
                                            ("dog", 2)]
    assert idx.prefix_terms("text", "e") == []
    assert idx.prefix_terms("role", "ca") == []
    idx._dict_map = {"text": {"cap": 2}}  # the dictionary was rebuilt
    assert idx.prefix_terms("text", "ca") == [("cap", 2)]
    idx._dict_map = False  # too big to keep on the driver
    assert idx.prefix_terms("text", "ca") is None
