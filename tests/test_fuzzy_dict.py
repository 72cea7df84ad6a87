"""Fuzzy expansion from length buckets of the resident dictionary
(index.fuzzy) equals a scan of the dictionary with
searcher._levenshtein: every term, non-ASCII ones included, with
prefix lengths, "auto" fuzziness and phrase slots. No Spark session
needed."""

from hypothesis import given, settings, strategies as st

from bleve_spark.index.build import IndexedTable
from bleve_spark.index.fuzzy import FuzzyDict
from bleve_spark.search.searcher import (
    Compiler,
    SDisj,
    SNone,
    STerm,
    _auto_fuzziness,
    _levenshtein,
)

# few letters, so random terms often fall within edit distance 2;
# multi-byte and astral code points count as one character each
WORDS = st.text(alphabet=st.sampled_from(list("abcéß日😀")), max_size=7)
VOCABS = st.dictionaries(WORDS, st.integers(1, 50), max_size=60)


def _scan(vocab: dict, term: str, d: int, prefix: str = "") -> list:
    return sorted(
        (t, n, _levenshtein(term, t)) for t, n in vocab.items()
        if t.startswith(prefix) and _levenshtein(term, t) <= d
    )


def _index(vocab: dict) -> IndexedTable:
    """An index whose dictionary is already driver-resident."""
    return IndexedTable(source=None, postings=None, key_cols=["k"],
                        field_analyzers={"text": "standard"}, stats=None,
                        _dict_map={"text": vocab})


@settings(max_examples=300, deadline=None)
@given(vocab=VOCABS, term=WORDS, d=st.integers(0, 2),
       plen=st.integers(0, 3))
def test_match_equals_levenshtein_scan(vocab, term, d, plen):
    got = FuzzyDict(vocab).match(term, d, term[:plen])
    assert got == _scan(vocab, term, d, term[:plen])


@settings(max_examples=200, deadline=None)
@given(vocab=VOCABS, term=WORDS, fuzz=st.sampled_from([1, 2, "auto"]),
       plen=st.integers(0, 3))
def test_fuzzy_query_and_phrase_slot_expansions(vocab, term, fuzz, plen):
    comp = Compiler(_index(vocab))
    d = _auto_fuzziness(term) if fuzz == "auto" else fuzz
    node = comp._fuzzy_node("text", term, fuzz, plen, 2.0)
    slot = comp._phrase_alts("text", term, fuzz, 2.0)
    if d == 0:
        assert type(node) is STerm and node.term == term
        assert [s.term for s in slot] == [term]
        return
    want = [(t, n, 1.0 / (dd + 1.0))
            for t, n, dd in _scan(vocab, term, d, term[:plen])]
    if want:
        assert type(node) is SDisj and node.min == 0
        assert [(c.term, c.doc_freq, c.boost_multiplier)
                for c in node.children] == want
        assert all(c.boost == 2.0 for c in node.children)
    else:
        assert type(node) is SNone
    # phrase slots expand with prefix length 0 (search_phrase.go:69)
    assert [(s.term, s.doc_freq, s.boost_multiplier) for s in slot] == [
        (t, n, 1.0 / (dd + 1.0)) for t, n, dd in _scan(vocab, term, d)]


def test_buckets_follow_the_dictionary():
    idx = _index({"cat": 1, "cart": 3})
    assert idx.fuzzy_terms("text", "cap", 1) == [("cat", 1, 1)]
    assert idx.fuzzy_terms("text", "cap", 2) == [("cart", 3, 2),
                                                 ("cat", 1, 1)]
    assert idx.fuzzy_terms("text", "cap", 1, prefix="cb") == []
    assert idx.fuzzy_terms("role", "cap", 1) == []
    idx._dict_map = {"text": {"cap": 2}}  # the dictionary was rebuilt
    assert idx.fuzzy_terms("text", "cap", 1) == [("cap", 2, 0)]
    idx._dict_map = False  # too big to keep on the driver
    assert idx.fuzzy_terms("text", "cap", 1) is None
