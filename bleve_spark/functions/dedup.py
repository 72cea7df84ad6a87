"""Deduplication operators for large-scale training-data pipelines.

All operators are pure DataFrame plans (no driver-side loops, no
collect): exact dedup is one hash-groupBy; MinHash/SimHash candidate
generation is explode → agg → band-bucket self-join, the standard
shuffle-bounded LSH shape. At 100 TB the band join is the only shuffle
that matters and it is keyed by (band_id, signature) — high cardinality,
naturally well-distributed; exact verification happens only within
buckets.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, functions as F

from bleve_spark import config as _cfg

# 2^31-1: keeps a·x + b < 2^62, safe under ANSI long arithmetic
_MERSENNE = (1 << 31) - 1

# SimHash width: 60 bits = 15 hex chars of md5 (fits a signed long
# with headroom; 4 banded chunks of 15 bits keep the pigeonhole
# argument for hamming ≤ 3)
SIMHASH_BITS = 60


def ensure_parallelism(df: DataFrame) -> DataFrame:
    """Heavy per-row ops (shingling, hashing, 64 minhash passes) are
    compute-bound BEFORE any shuffle, so a source that arrives as a
    single parquet row group (one scan task) serializes the whole
    pipeline on one core.  If the plan has fewer partitions than the
    cluster's default parallelism, round-robin repartition first —
    a cheap narrow-ish shuffle of raw rows versus single-threading
    the hash work.  At real scale inputs have thousands of splits and
    this is a no-op.

    The probe uses ``df.inputFiles()`` (pure plan inspection) rather
    than ``df.rdd.getNumPartitions()`` — the RDD conversion forces a
    full physical planning pass outside AQE per call. A non-file-backed
    DataFrame (in-memory, post-shuffle, cached) reports zero files;
    for those fall back to the partition-count probe instead of
    unconditionally shuffling an input that may already be wide."""
    target = df.sparkSession.sparkContext.defaultParallelism
    try:
        n = len(df.inputFiles())
    except Exception:
        n = 0
    if n == 0:
        try:
            n = df.rdd.getNumPartitions()
        except Exception:
            n = 0
    if n < target:
        return df.repartition(target)
    return df


def _seeded_params(num: int, seed: int = 42):
    rng = np.random.RandomState(seed)
    a = rng.randint(1, _MERSENNE - 1, size=num, dtype=np.int64)
    b = rng.randint(0, _MERSENNE - 1, size=num, dtype=np.int64)
    return a, b


def md5_hash60(col) -> F.Column:
    """Deterministic 60-bit hash: first 15 hex chars of md5, parsed as
    an integer. Chosen over xxhash64 so every hash-dependent operator
    here has an exact ANSI-SQL twin (DuckDB:
    ('0x' || substr(md5(x),1,15))::BIGINT) — the correctness gate can
    hash-compare minhash/simhash instead of rows-only checks."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def exact_dedup(df: DataFrame, text_col: str, key_col: str) -> DataFrame:
    """Hash-groupBy exact dedup: one row per distinct text with the
    smallest key as the keeper. Map-side partial agg; single shuffle."""
    return (
        df.groupBy(F.md5(F.col(text_col)).alias("text_hash"))
        .agg(
            F.min(key_col).alias("keep_id"),
            F.count(F.lit(1)).alias("dup_count"),
        )
    )


def word_shingles(df: DataFrame, text_col: str, key_col: str,
                  n: int = 3) -> DataFrame:
    """(key, shingle) rows of word n-grams (lowercased whitespace
    tokens). Native: split + transform + explode."""
    words = F.split(F.lower(F.col(text_col)), r"\s+")
    idx = F.sequence(F.lit(0), F.greatest(F.size(words) - n, F.lit(0)))
    sh = F.transform(
        idx,
        lambda i: F.concat_ws(" ", F.slice(words, i + 1, n)),
    )
    return df.select(
        F.col(key_col).alias("key"),
        F.explode(F.array_distinct(sh)).alias("shingle"),
    ).where(F.length("shingle") > 0)


def minhash_signatures(
    shingled: DataFrame,
    num_hashes: int = 64,
    seed: int = 42,
) -> DataFrame:
    """(key, sig array<long>) MinHash signatures.

    h_i(x) = (a_i·x + b_i) mod M over a 60-bit base hash of the
    shingle (md5_hash60 — SQL-twin-able); computed as ``num_hashes``
    parallel min-aggregations — map-side combinable, one shuffle, no
    UDF."""
    a, b = _seeded_params(num_hashes, seed)
    base = md5_hash60(F.col("shingle")) % F.lit(_MERSENNE)
    aggs = [
        F.min(
            (F.lit(int(a[i])) * base + F.lit(int(b[i]))) % F.lit(_MERSENNE)
        ).alias(f"h{i}")
        for i in range(num_hashes)
    ]
    sigs = shingled.groupBy("key").agg(*aggs)
    return sigs.select(
        "key", F.array(*[f"h{i}" for i in range(num_hashes)]).alias("sig")
    )


def minhash_signatures_local(
    df: DataFrame,
    text_col: str,
    key_col: str,
    shingle_n: int = 3,
    num_hashes: int = 64,
    seed: int = 42,
) -> DataFrame:
    """(key, sig) MinHash signatures with ZERO shuffle.

    A document's signature depends only on its own shingles, so the
    whole computation is row-local: shingle → base-hash ONCE per
    shingle (array<long>), then ``num_hashes`` cheap
    array_min(transform(...)) passes. Identical values to
    :func:`minhash_signatures` (same hash family, same distinct-
    shingle set) — but the explode + groupBy shuffle of |shingles|
    rows is gone entirely; at 100 TB the only shuffle left in LSH
    dedup is the band-bucket join itself."""
    a, b = _seeded_params(num_hashes, seed)
    # The whole per-doc computation — split/lower, shingle
    # construction, the 60-bit md5 base hash, and the 64-way min fold
    # — runs in ONE Arrow batch stage (guide §4.2): every candidate
    # Catalyst statement of the shingle+md5 step is a higher-order
    # function, which NEVER enters whole-stage codegen
    # (CodegenFallback) — measured 4.4s of interpreted evaluation at
    # sf0.1 vs ~0.2s for the same work through hashlib/str C paths
    # per task. Hash values are bit-identical to the SQL twin:
    # md5(utf-8) is md5, the first-15-hex-chars parse is the top 60
    # bits of the digest, and the split/shingle semantics mirror the
    # Java-regex defaults (re.ASCII \s+, truncating slice, concat_ws
    # keeping empties — pinned by tests/test_dedup_bounds.py and the
    # dedup_* oracle gates). The min fold stays
    # np.minimum.reduceat; still row-local, still zero shuffle.
    out_schema = "key long, sig array<long>"

    def _fold(batches):
        import hashlib
        import re

        import pandas as pd  # worker-side import

        ws = re.compile(r"\s+", re.ASCII)
        n = shingle_n
        md5 = hashlib.md5

        def base_hashes(text):
            words = ws.split((text or "").lower())
            hi = max(len(words) - n, 0)
            seen = set()
            for i in range(hi + 1):
                s = " ".join(words[i:i + n])
                if s:
                    seen.add(s)
            # top 60 bits of the digest == int(hexdigest[:15], 16)
            return [
                (int.from_bytes(
                    md5(s.encode("utf-8")).digest()[:8], "big"
                ) >> 4) % _MERSENNE
                for s in seen
            ]

        for pdf in batches:
            keys = []
            arrs = []
            for key, text in zip(pdf["key"], pdf["text"]):
                h = base_hashes(text)
                if h:
                    keys.append(key)
                    arrs.append(h)
            if not arrs:
                yield pd.DataFrame({"key": [], "sig": []})
                continue
            lens = np.fromiter(
                (len(x) for x in arrs), dtype=np.int64, count=len(arrs)
            )
            flat = np.concatenate(
                [np.asarray(x, dtype=np.int64) for x in arrs]
            )
            # (total_shingles, num_hashes): a·x + b mod M.
            # a,x < 2^31 so a·x < 2^62 — no int64 overflow.
            hm = (flat[:, None] * a[None, :] + b[None, :]) % _MERSENNE
            offs = np.zeros(len(arrs), dtype=np.int64)
            np.cumsum(lens[:-1], out=offs[1:])
            sigs = np.minimum.reduceat(hm, offs, axis=0)
            yield pd.DataFrame({"key": keys, "sig": list(sigs)})

    hashed = df.select(
        F.col(key_col).alias("key"),
        F.col(text_col).cast("string").alias("text"),
    )
    return hashed.mapInPandas(_fold, schema=out_schema)


def _cap_hot_buckets(
    rows: DataFrame, bucket_cols: list[str], max_bucket_df: int
) -> DataFrame:
    """Drop every (bucket) whose member count exceeds
    ``max_bucket_df`` — the hot-bucket guard that bounds the LSH
    self-join's worst key group. Without it, m near-identical docs in
    one bucket emit m²/2 candidate pairs into a single reducer — at
    100 TB a 1M-doc boilerplate cluster is 5·10¹¹ pairs and a dead
    executor. Same template as ``ngram_jaccard_pairs``'s
    ``max_shingle_df`` anti-join."""
    hot = (
        rows.groupBy(*bucket_cols)
        .agg(F.count(F.lit(1)).alias("_df"))
        .where(F.col("_df") > int(max_bucket_df))
        .select(*bucket_cols)
    )
    return rows.join(hot, bucket_cols, "left_anti")


def _bucket_pairs(rows: DataFrame, bucket_cols: list[str],
                  payload: F.Column, max_bucket_df: int | None
                  ) -> DataFrame:
    """(_a, _b) candidate pairs from within-bucket membership in ONE
    aggregation: collect each bucket's (bounded) member list, drop
    buckets above ``max_bucket_df`` (same count semantics as
    :func:`_cap_hot_buckets` — the size of the collected list IS the
    bucket's row count), and explode the a<b member combinations in
    two levels: ``posexplode`` the sorted list into one row per member,
    then each member row explodes only the ``slice`` of later members.
    A row holds O(m) values, never the m²/2 pairs of a hot bucket as
    one array (Spark caps a single value at 2 GB). Replaces the
    {hot-count aggregate + anti-join + bucket self-join} plan: one
    exchange of the banded rows instead of four, and each banded row
    crosses the shuffle once instead of twice (both self-join sides).

    ``payload`` is a struct column (first field the ordering key);
    struct-array sort_array orders by it, so ``_a < _b`` holds
    fieldwise for the leading key. Output columns: ``_a``, ``_b``
    (structs)."""
    grouped = rows.groupBy(*bucket_cols).agg(
        F.sort_array(F.collect_list(payload)).alias("_ks")
    )
    if max_bucket_df is not None:
        grouped = grouped.where(F.size("_ks") <= int(max_bucket_df))
    members = grouped.where(F.size("_ks") >= 2).select(
        "_ks", F.posexplode("_ks").alias("_i", "_a"))
    later = F.slice("_ks", F.col("_i") + 2,
                    F.size("_ks") - F.col("_i") - 1)
    return members.select("_a", F.explode(later).alias("_b"))


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str,
    key_col: str,
    shingle_n: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
    jaccard_threshold: float = 0.5,
    seed: int = 42,
    collapse_identical: bool = True,
    max_bucket_df: int | None = None,
) -> DataFrame:
    """Near-duplicate candidate pairs via MinHash + banded LSH.

    → (key_a, key_b, est_jaccard) with key_a < key_b and estimated
    jaccard (fraction of agreeing minhashes) ≥ threshold. Band-bucket
    join keeps the self-join linear in bucket sizes.

    Scale guards (both on by default or caller-tunable — an exact-dup
    clique must never reach the band self-join, where m identical
    docs are m²/2 pairs in one reducer):

    * ``collapse_identical`` — docs with IDENTICAL signatures (exact
      dups and permutation-equal shingle sets) collapse to their
      min-key representative BEFORE banding; emitted pairs are over
      representatives. Combine with :func:`exact_dedup` to recover
      the full pair set (rep ↔ clique members) when needed — the
      clique itself is redundant for dedup decisions.
    * ``max_bucket_df`` — (band, bucket) groups larger than this are
      dropped entirely (near-identical floods the collapse can't
      catch); recall within a dropped bucket is sacrificed
      deliberately, exactly like ``ngram_jaccard_pairs``'s
      ``max_shingle_df`` boilerplate guard."""
    rows_per_band = num_hashes // bands
    sigs = minhash_signatures_local(
        ensure_parallelism(df), text_col, key_col, shingle_n,
        num_hashes, seed
    )
    if collapse_identical:
        sigs = sigs.groupBy("sig").agg(F.min("key").alias("key")) \
            .select("key", "sig")
    sigs = sigs.persist()

    band_rows = sigs.select(
        "key",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("band"),
                        F.xxhash64(
                            F.concat_ws(
                                ",",
                                *[
                                    F.element_at("sig", j + 1).cast("string")
                                    for j in range(
                                        i * rows_per_band,
                                        (i + 1) * rows_per_band,
                                    )
                                ],
                            )
                        ).alias("bucket"),
                    )
                    for i in range(bands)
                ]
            )
        ).alias("bb"),
    ).select("key", "bb.band", "bb.bucket")
    if max_bucket_df is None:
        # deployment default (config.DEDUP_MAX_BUCKET_DF /
        # BLEVE_SPARK_DEDUP_MAX_BUCKET_DF): ships as None
        # (uncapped); production corpora set a cap so one hot
        # bucket can never become an m^2/2-pair reducer
        max_bucket_df = _cfg.DEDUP_MAX_BUCKET_DF
    # within-bucket a<b pairs in ONE aggregation (cap applied on the
    # collected size — identical drop set to the old hot-count
    # aggregate + anti-join + self-join plan, with the banded rows
    # crossing the shuffle once instead of twice)
    cand = _bucket_pairs(
        band_rows, ["band", "bucket"], F.col("key"), max_bucket_df
    ).select(
        F.col("_a").alias("key_a"), F.col("_b").alias("key_b")
    ).distinct()

    sa = sigs.select(F.col("key").alias("key_a"), F.col("sig").alias("sig_a"))
    sb = sigs.select(F.col("key").alias("key_b"), F.col("sig").alias("sig_b"))
    est = (
        F.size(
            F.filter(
                F.zip_with("sig_a", "sig_b", lambda x, y: x == y),
                lambda v: v,
            )
        ).cast("double")
        / F.lit(float(num_hashes))
    )
    return (
        cand.join(sa, "key_a")
        .join(sb, "key_b")
        .select("key_a", "key_b", est.alias("est_jaccard"))
        .where(F.col("est_jaccard") >= jaccard_threshold)
    )


def simhash(df: DataFrame, text_col: str, key_col: str,
            bits: int = SIMHASH_BITS) -> DataFrame:
    """(key, simhash long) ``bits``-wide SimHash over whitespace
    tokens (60-bit md5-derived token hash — SQL-twin-able).

    Per-bit weighted sums as native aggregations (explode → ``bits``
    SUMs, map-side combinable)."""
    toks = df.select(
        F.col(key_col).alias("key"),
        F.explode(F.split(F.lower(F.col(text_col)), r"\s+")).alias("tok"),
    ).where(F.length("tok") > 0)
    h = md5_hash60(F.col("tok"))
    aggs = [
        F.sum(
            F.when(F.shiftright(h, i).bitwiseAND(F.lit(1)) == 1, 1)
            .otherwise(-1)
        ).alias(f"b{i}")
        for i in range(bits)
    ]
    per_doc = toks.groupBy("key").agg(*aggs)
    acc = F.lit(0).cast("long")
    for i in range(bits):
        acc = acc + F.when(
            F.col(f"b{i}") > 0,
            F.shiftleft(F.lit(1).cast("long"), i),
        ).otherwise(F.lit(0).cast("long"))
    return per_doc.select("key", acc.alias("simhash"))


def simhash_pairs(
    df: DataFrame,
    text_col: str,
    key_col: str,
    max_hamming: int = 3,
    collapse_identical: bool = True,
    max_bucket_df: int | None = None,
) -> DataFrame:
    """Near-dup pairs with hamming(simhash) ≤ max_hamming, candidates
    via 4×15-bit chunk banding (a pair within hamming ≤3 must agree on
    ≥1 of 4 chunks — pigeonhole over the 60-bit hash).

    ``collapse_identical`` collapses hamming-0 cliques (identical
    simhash — exact dups and token-multiset-equal docs) to their
    min-key representative before the chunk join; ``max_bucket_df``
    drops (chunk, val) groups above the bound — see
    :func:`minhash_lsh_pairs` for why both matter at 100 TB."""
    sh = simhash(ensure_parallelism(df), text_col, key_col)
    if collapse_identical:
        sh = sh.groupBy("simhash").agg(F.min("key").alias("key")) \
            .select("key", "simhash")
    sh = sh.persist()
    chunks = sh.select(
        "key",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("chunk"),
                        F.shiftrightunsigned("simhash", i * 15)
                        .bitwiseAND(F.lit(0x7FFF))
                        .alias("val"),
                    )
                    for i in range(4)
                ]
            )
        ).alias("c"),
    ).select("key", "simhash", "c.chunk", "c.val")
    if max_bucket_df is None:
        # deployment default (config.DEDUP_MAX_BUCKET_DF /
        # BLEVE_SPARK_DEDUP_MAX_BUCKET_DF): ships as None
        # (uncapped); production corpora set a cap so one hot
        # bucket can never become an m^2/2-pair reducer
        max_bucket_df = _cfg.DEDUP_MAX_BUCKET_DF
    # within-chunk a<b pairs in ONE aggregation (see minhash_lsh_pairs)
    # — the struct payload carries the simhash alongside the key, so
    # no join back is needed for the hamming check
    cand = _bucket_pairs(
        chunks, ["chunk", "val"],
        F.struct(F.col("key"), F.col("simhash")), max_bucket_df,
    ).select(
        F.col("_a.key").alias("key_a"),
        F.col("_b.key").alias("key_b"),
        F.col("_a.simhash").alias("sh_a"),
        F.col("_b.simhash").alias("sh_b"),
    ).distinct()
    ham = F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
    return cand.select(
        "key_a", "key_b", ham.alias("hamming")
    ).where(F.col("hamming") <= max_hamming)


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str,
    key_col: str,
    n: int = 3,
    threshold: float = 0.8,
    max_shingle_df: int | None = None,
) -> DataFrame:
    """EXACT n-gram Jaccard pairs ≥ threshold (the verification-grade
    dedup; quadratic only within shared-shingle groups).

    ``max_shingle_df`` is the hot-shingle guard for scale: shingles
    appearing in more than that many docs (boilerplate) are dropped
    from BOTH the intersection join and the set sizes, bounding any
    single join key's group — without it, one shingle shared by 1M
    docs is 10¹² pairs in a single reducer. Jaccard is then computed
    over the df-capped shingle sets (a well-defined, oracle-checkable
    semantics; standard practice for boilerplate suppression)."""
    sh = word_shingles(ensure_parallelism(df), text_col, key_col, n)
    if max_shingle_df is not None:
        hot = (
            sh.groupBy("shingle")
            .agg(F.count(F.lit(1)).alias("_df"))
            .where(F.col("_df") > int(max_shingle_df))
            .select("shingle")
        )
        sh = sh.join(hot, "shingle", "left_anti")
    sizes = sh.groupBy("key").agg(F.count(F.lit(1)).alias("n_sh"))
    inter = (
        sh.alias("l")
        .join(
            sh.alias("r"),
            (F.col("l.shingle") == F.col("r.shingle"))
            & (F.col("l.key") < F.col("r.key")),
        )
        .groupBy(
            F.col("l.key").alias("key_a"), F.col("r.key").alias("key_b")
        )
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    ja = (
        inter.join(
            sizes.select(
                F.col("key").alias("key_a"), F.col("n_sh").alias("na")
            ),
            "key_a",
        )
        .join(
            sizes.select(
                F.col("key").alias("key_b"), F.col("n_sh").alias("nb")
            ),
            "key_b",
        )
        .select(
            "key_a",
            "key_b",
            (
                F.col("inter").cast("double")
                / (F.col("na") + F.col("nb") - F.col("inter")).cast("double")
            ).alias("jaccard"),
        )
    )
    return ja.where(F.col("jaccard") >= threshold)


def embedding_cosine_pairs(
    df: DataFrame,
    vec_col: str,
    key_col: str,
    threshold: float = 0.95,
    planes: int = 16,
    seed: int = 7,
    collapse_identical: bool = True,
    max_bucket_df: int | None = None,
) -> DataFrame:
    """Embedding near-dup pairs: random-hyperplane LSH buckets →
    exact cosine within buckets. Deterministic planes (seeded).

    ``collapse_identical`` collapses IDENTICAL vectors to their
    min-key representative before the bucket join; ``max_bucket_df``
    drops buckets above the bound — see :func:`minhash_lsh_pairs`."""
    from bleve_spark.functions.similarity import (
        add_hyperplane_bucket,
        cosine_expr,
    )

    b = add_hyperplane_bucket(df, vec_col, planes, seed).select(
        F.col(key_col).alias("key"), F.col(vec_col).alias("vec"), "bucket"
    )
    if collapse_identical:
        b = b.groupBy("vec", "bucket").agg(
            F.min("key").alias("key")
        ).select("key", "vec", "bucket")
    if max_bucket_df is None:
        # deployment default (config.DEDUP_MAX_BUCKET_DF /
        # BLEVE_SPARK_DEDUP_MAX_BUCKET_DF): ships as None
        # (uncapped); production corpora set a cap so one hot
        # bucket can never become an m^2/2-pair reducer
        max_bucket_df = _cfg.DEDUP_MAX_BUCKET_DF
    if max_bucket_df is not None:
        b = _cap_hot_buckets(b, ["bucket"], max_bucket_df)
    cand = (
        b.alias("l")
        .join(
            b.alias("r"),
            (F.col("l.bucket") == F.col("r.bucket"))
            & (F.col("l.key") < F.col("r.key")),
        )
        .select(
            F.col("l.key").alias("key_a"),
            F.col("r.key").alias("key_b"),
            cosine_expr(F.col("l.vec"), F.col("r.vec")).alias("cosine"),
        )
    )
    return cand.where(F.col("cosine") >= threshold)


def connected_components(
    pairs: DataFrame,
    a: str = "key_a",
    b: str = "key_b",
    max_iter: int = 25,
) -> DataFrame:
    """(node, component) for every node in the candidate-pair graph,
    component = MIN node id of its connected component — the step a
    real dedup pipeline needs between LSH candidate PAIRS and "keep
    one doc per cluster".

    Min-label propagation with a lineage cut per round: each round is
    one join + groupBy(min), converging in O(graph diameter) rounds.
    Near-dup clusters from LSH banding are near-cliques (every member
    collides with most others), so the diameter is tiny — 2-4 rounds
    in practice — which makes propagation the right scale choice over
    the log-n star algorithms and their extra shuffles per round. The
    localCheckpoint keeps Catalyst from re-analyzing an O(rounds)-deep
    plan (and bounds recovery lineage); convergence is detected with a
    changed-label count, one tiny aggregate per round. If ``max_iter``
    rounds elapse without convergence (possible when the candidate
    graph has diameter > max_iter — e.g. a long chain of pairwise
    near-dups) the labels are PARTIAL, so this raises instead of
    silently returning wrong components."""
    edges = pairs.select(F.col(a).alias("src"), F.col(b).alias("dst"))
    edges = (
        edges.union(
            edges.select(
                F.col("dst").alias("src"), F.col("src").alias("dst")
            )
        )
        .distinct()
        .localCheckpoint(eager=True)
    )
    labels = (
        edges.select(F.col("src").alias("node"))
        .distinct()
        .withColumn("component", F.col("node"))
        .localCheckpoint(eager=True)
    )
    converged = False
    for _ in range(max_iter):
        prop = edges.join(
            labels, edges["src"] == labels["node"]
        ).select(F.col("dst").alias("node"), F.col("component"))
        new = (
            labels.select("node", "component")
            .union(prop)
            .groupBy("node")
            .agg(F.min("component").alias("component"))
            .localCheckpoint(eager=True)
        )
        changed = (
            new.alias("n")
            .join(labels.alias("o"), "node")
            .where(F.col("n.component") != F.col("o.component"))
            .count()
        )
        labels = new
        if changed == 0:
            converged = True
            break
    if not converged:
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} "
            "rounds — candidate graph diameter exceeds max_iter; "
            "labels would be partial. Raise max_iter."
        )
    return labels
