"""Hot-bucket bounds for the LSH dedup pair generators — the 100 TB
scale guards: an exact-dup clique must never reach the band self-join
(collapse_identical), and near-identical floods above max_bucket_df
are dropped like ngram_jaccard_pairs' max_shingle_df boilerplate
guard."""

import pytest
from pyspark.sql import functions as F

BASE = ("the quick brown fox jumps over the lazy dog while rain "
        "falls on the quiet town square tonight")
NEAR = ("the quick brown fox jumps over the lazy dog while rain "
        "falls on the quiet town square today")
OTHER_A = ("distributed systems require careful attention to "
           "partitioning shuffle and skew at every stage of the job")
OTHER_B = ("distributed systems require careful attention to "
           "partitioning shuffle and skew at every stage of the run")
FILLER = [
    "completely unrelated text about gardening tips and tomato plants",
    "a second unrelated document describing mountain hiking trails",
    "third filler row mentioning orchestral music and violin concerts",
]


def _docs(spark, clique=2000):
    rows = [(i, BASE) for i in range(clique)]
    rows.append((5000, NEAR))
    rows += [(6000, OTHER_A), (6001, OTHER_B)]
    rows += [(7000 + i, t) for i, t in enumerate(FILLER)]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_minhash_collapse_bounds_clique(spark):
    """A planted 2000-doc duplicate clique collapses to ONE band-join
    node (its min key); the pair set over representatives is still
    complete — the rep pairs with the clique's near-dup, and
    exact_dedup recovers the clique membership."""
    from bleve_spark.functions.dedup import exact_dedup, minhash_lsh_pairs

    df = _docs(spark)
    pairs = minhash_lsh_pairs(
        df, "text", "doc_id", jaccard_threshold=0.5,
    ).collect()
    got = {(r["key_a"], r["key_b"]) for r in pairs}
    # no intra-clique pair ever emitted — m²/2 is structurally
    # impossible, the clique entered banding as a single node
    assert not any(a < 2000 and b < 2000 for a, b in got)
    # completeness via representatives: rep 0 ↔ its near-dup
    assert (0, 5000) in got
    assert (6000, 6001) in got
    # exact_dedup recovers the clique the collapse folded away
    groups = {r["keep_id"]: r["dup_count"]
              for r in exact_dedup(df, "text", "doc_id").collect()}
    assert groups[0] == 2000


def test_minhash_max_bucket_df_drops_flood(spark):
    """With collapse OFF, a 10-doc identical clique exceeds
    max_bucket_df=5 and its buckets are dropped — no clique pairs —
    while the small-bucket near-dup pair survives."""
    from bleve_spark.functions.dedup import minhash_lsh_pairs

    df = _docs(spark, clique=10)
    got = {
        (r["key_a"], r["key_b"])
        for r in minhash_lsh_pairs(
            df, "text", "doc_id", jaccard_threshold=0.5,
            collapse_identical=False, max_bucket_df=5,
        ).collect()
    }
    assert not any(a < 10 and b < 10 for a, b in got)
    assert (6000, 6001) in got
    # clique↔near-dup pairs also gone: those buckets were hot too
    assert not any(b == 5000 for _, b in got)


def test_simhash_collapse_and_cap(spark):
    from bleve_spark.functions.dedup import simhash, simhash_pairs

    df = _docs(spark, clique=50)
    sh = {r["key"]: r["simhash"]
          for r in simhash(df, "text", "doc_id").collect()}
    ham = bin(sh[6000] ^ sh[6001]).count("1")
    got = {
        (r["key_a"], r["key_b"])
        for r in simhash_pairs(df, "text", "doc_id",
                               max_hamming=3).collect()
    }
    # hamming-0 clique collapsed: no intra-clique pairs
    assert not any(a < 50 and b < 50 for a, b in got)
    # self-consistency for the distinct-text near pair
    assert ((6000, 6001) in got) == (ham <= 3)
    # cap path: collapse off, clique of 50 over cap 5 → dropped
    got_cap = {
        (r["key_a"], r["key_b"])
        for r in simhash_pairs(
            df, "text", "doc_id", max_hamming=3,
            collapse_identical=False, max_bucket_df=5,
        ).collect()
    }
    assert not any(a < 50 and b < 50 for a, b in got_cap)


def test_embedding_collapse_and_cap(spark):
    from bleve_spark.functions.dedup import embedding_cosine_pairs

    base = [1.0, 0.5] * 32
    near = list(base)
    near[0] = 1.001  # tiny perturbation: same signs, cosine ≈ 1
    rows = [(i, base) for i in range(40)]
    rows.append((100, near))
    rows.append((200, [(-1.0) ** j * (j + 1.0) for j in range(64)]))
    df = spark.createDataFrame(rows, "vec_id long, v array<float>")
    got = {
        (r["key_a"], r["key_b"])
        for r in embedding_cosine_pairs(
            df, "v", "vec_id", threshold=0.95, planes=8,
        ).collect()
    }
    assert not any(a < 40 and b < 40 for a, b in got)
    assert (0, 100) in got
    got_cap = {
        (r["key_a"], r["key_b"])
        for r in embedding_cosine_pairs(
            df, "v", "vec_id", threshold=0.95, planes=8,
            collapse_identical=False, max_bucket_df=5,
        ).collect()
    }
    assert not got_cap  # the only bucket with pairs was hot


def test_connected_components_raises_on_nonconvergence(spark):
    from bleve_spark.functions.dedup import connected_components

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(12)], "key_a long, key_b long"
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(chain, max_iter=2)
    ok = connected_components(chain, max_iter=25)
    assert ok.select(F.countDistinct("component")).first()[0] == 1


@pytest.mark.parametrize("cap", [None, 5])
def test_bucket_pairs_equal_brute_force(spark, cap):
    """_bucket_pairs emits exactly the a<b member pairs of every bucket
    within the cap, for buckets of 0, 1, 2, 5 and 60 members; the
    payload is a struct led by the key, as in simhash_pairs."""
    import itertools

    from bleve_spark.functions.dedup import _bucket_pairs

    sizes = {"b1": 1, "b2": 2, "b5": 5, "b60": 60}
    rows = [(b, (i * 37 + len(b)) % 101, i)
            for b, m in sizes.items() for i in range(m)]
    schema = "bucket string, key long, tag long"
    for data in (rows, []):
        df = spark.createDataFrame(data, schema)
        got = _bucket_pairs(df, ["bucket"], F.struct("key", "tag"), cap)
        got = sorted((r["_a"]["key"], r["_a"]["tag"],
                      r["_b"]["key"], r["_b"]["tag"])
                     for r in got.collect())
        want = []
        for b, m in sizes.items():
            members = sorted((k, t) for bb, k, t in data if bb == b)
            if cap is None or len(members) <= cap:
                want += [a + c for a, c in
                         itertools.combinations(members, 2)]
        assert got == sorted(want)
