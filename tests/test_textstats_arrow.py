"""The Arrow-stage text_profile must be bit-identical to the Column
spec (text_profile_columns) — the r7 optimization moved the profile
into one mapInPandas stage; this pins the semantics."""

import pytest
from pyspark.sql import functions as F

from bleve_spark.functions.textstats import (
    text_profile,
    text_profile_columns,
)

EDGE_DOCS = [
    (0, "the quick brown fox and the lazy dog"),
    (1, ""),
    (2, "   "),
    (3, "  leading and trailing  "),
    (4, "a  b\tc\nd"),
    (5, "don't stop-the presses!!! 42 times..."),
    (6, "el que la de los las"),          # es markers
    (7, "le la les des est"),             # fr markers
    (8, "de que la"),                     # es/fr tie -> first wins
    (9, "der die das und ist nicht"),
    (10, "zzz yyy xxx zzz yyy"),          # no markers -> und
    (11, "word " * 3000),                 # long doc (len_score < 1)
    (12, "!!!???;;;"),                    # all punctuation
    (13, "x"),
    (14, "the " * 10),                    # high stopword ratio
    (15, "ab AB Ab aB"),                  # case folding collapse
    (16, None),                           # null text: null stats
]


def _rows(df):
    return [tuple(r) for r in df.orderBy("key").collect()]


@pytest.mark.parametrize("docs", [EDGE_DOCS])
def test_arrow_matches_column_spec_edge_cases(spark, docs):
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = _rows(text_profile(df, "text", "doc_id"))
    want = _rows(text_profile_columns(df, "text", "doc_id"))
    assert got == want


def test_arrow_matches_column_spec_corpus(spark):
    df = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    got = _rows(text_profile(df, "text", "doc_id"))
    want = _rows(text_profile_columns(df, "text", "doc_id"))
    assert got == want
