"""Inverted-index build: source DataFrame → postings relation + stats.

The postings relation is the Spark-native statement of the reference's
TermFrequencyRow (/root/reference/index/upsidedown/row.go:258 — key
(field, term, doc), value (freq, norm, term vectors)) and of a scorch
segment's postings (/root/reference/index/scorch/README.md:48-97):

    postings(field string, term string, <key cols...>,
             tf int, positions array<int>, norm float)

Design notes for 100 TB scale:
* analysis is one vectorized Arrow UDF per text field — data-parallel,
  no driver involvement (reference's analysis worker queue,
  /root/reference/index/scorch/scorch.go:538-568);
* tf/positions come from explode + groupBy on (doc, term) with map-side
  partial aggregation; no global sort is required to SERVE queries —
  the sorted, compressed at-rest layout lives in
  :mod:`bleve_spark.index.segments`;
* ``norm`` is stored as FloatType — the float32 roundtrip bleve bakes
  into scores (norm = float32(1/sqrt(fieldLength)),
  /root/reference/index/upsidedown/upsidedown.go:609; fieldLength is the
  post-analysis token count, /root/reference/document/field_text.go:82-106);
* global stats follow bleve's quirks exactly: avg_doc_len =
  ceil(field_cardinality / doc_count)
  (/root/reference/search/searcher/search_term.go:112), cardinality = Σ
  per-segment unique-term counts
  (/root/reference/index/scorch/snapshot_index.go:151-161). We build
  offline like bleve's Builder, which merges down to a SINGLE segment
  (/root/reference/index/scorch/builder.go:169-236), so cardinality =
  global distinct terms per field.

An input small enough to collect is the other size class: it is
analysed once on the driver and served from there
(:func:`_index_on_driver`), with the same postings, dictionary and
stats as the plan.
"""

from __future__ import annotations

import math
import os
from bisect import bisect_left
from dataclasses import dataclass, field as dc_field
from typing import NamedTuple

import numpy as np
from pyspark.sql import DataFrame, functions as F

BM25_K1 = 1.2  # /root/reference/search/util.go:275
BM25_B = 0.75  # /root/reference/search/util.go:276


# array-element position stride: positions of array-field tokens are
# apos*STRIDE + element-local pos (see _array_text_postings)
ARRAY_POSITION_STRIDE = 1 << 20


def qcol(name: str) -> F.Column:
    """Column ref that treats ``name`` as one literal column name even
    when it contains dots — mapped nested paths flatten to dotted
    field names (mapping/document.go pathSeparator '.')."""
    if "." in name:
        return F.col("`" + name + "`")
    return F.col(name)


@dataclass
class IndexStats:
    doc_count: int
    field_cardinality: dict[str, int]
    avg_doc_len: dict[str, float]  # ceil(card/count), bm25 only
    scoring: str = "bm25"  # "bm25" | "tfidf"

    def avg_len(self, field_name: str) -> float:
        return self.avg_doc_len.get(field_name, 0.0)


@dataclass
class IndexedTable:
    """A queryable index: source rows + postings + broadcastable stats.

    ``key_cols`` provide stable doc identity AND the tie-break order
    (reference HitNumber semantics, /root/reference/search/sort.go:269-275):
    ascending key order == index natural order.
    """

    source: DataFrame
    postings: DataFrame
    key_cols: list[str]
    field_analyzers: dict[str, str]
    stats: IndexStats
    dictionary: DataFrame = None  # (field, term, doc_freq, max_tf, min_norm)
    # field → term → [synonyms]: the reference's FieldTermSynonymMap
    # (/root/reference/search/util.go:252); query-time term expansion
    # (/root/reference/search/searcher/search_term.go:154-196)
    synonyms: dict = None
    # index-time thesaurus: DataFrame (collection, term, synonym) that
    # distributes with the index (document/field_synonym.go,
    # snapshot_index_thes.go); fields opt in via synonym_collections
    thesaurus: DataFrame = None
    synonym_collections: dict = None  # field → collection name
    # nested sub-documents (index_with_mapping): field → tuple of
    # nested ancestor paths; root_key_cols = key_cols minus the
    # _nested_ctx component. None/absent on flat indexes.
    nested_chains: dict = None
    root_key_cols: list = None
    # composite field membership (`_all` → member fields): needed by
    # locations/highlight retrieval — a composite has no source column
    composite_fields: dict = None
    _persisted: list = dc_field(default_factory=list)
    # driver-side dictionary cache: None = not tried, False = too big
    _dict_map: object = dc_field(default=None, repr=False)
    # (the _dict_map they were built from, (kind, field) -> per-field
    # lookup structure: FuzzyDict or sorted (term, doc_freq) items)
    _dict_views: tuple | None = dc_field(default=None, repr=False)
    # per-(field, term) memo of bounded thesaurus lookups
    _syn_cache: dict | None = dc_field(default=None, repr=False)
    # per-index override of DICT_CACHE_MAX (0 forces every dictionary
    # expansion onto the fully distributed join path)
    dict_cache_max: int | None = None
    # at-rest pruned-read hook (r5): callable(pred) -> postings
    # DataFrame with the (field/term) predicate pushed BELOW the
    # chunk decode into the parquet scan. Without it, a filter over
    # `postings` lands ABOVE the decode UDF (Catalyst cannot push
    # through mapInPandas), so every query pays a full-store decode —
    # fine on a persisted index, a scale-killer on a cold 100 TB
    # store. Searcher paths route through prune_postings().
    postings_factory: object = dc_field(default=None, repr=False)
    # doc_num-level scoring hooks (r5, stores with posting_lens):
    # postings_doc_factory(pred) -> (field, term, doc_num, tf, norm)
    # with no doc-table join; doc_keys_df() -> (doc_num, keys...) for
    # post-aggregation key resolution over matched docs only
    postings_doc_factory: object = dc_field(default=None, repr=False)
    doc_keys_df: object = dc_field(default=None, repr=False)

    def prune_postings(self, pred, positions: bool = True,
                       spread: bool = False):
        """Postings rows matching ``pred`` (a Column over field/term):
        via the pushed-down factory when present, else a plain
        filter over the decoded relation.

        ``positions=False`` lets an at-rest factory skip reading and
        decoding the pos_blob column entirely (the largest blob) —
        the right call for scoring-only reads (term/boolean/
        disjunction joins). On the in-memory relation it's a no-op:
        the positions column rides along, already materialized.

        ``spread=True`` asks an at-rest factory to rebalance the
        pruned chunk rows across the cluster before decoding —
        term-sorted files colocate a hot term into one or two scan
        tasks, so a high-df decode would otherwise run
        near-single-threaded. Callers set it from known doc_freq."""
        if self.postings_factory is not None:
            try:
                return self.postings_factory(
                    pred, positions=positions, spread=spread
                )
            except TypeError:
                try:
                    return self.postings_factory(
                        pred, positions=positions
                    )
                except TypeError:
                    return self.postings_factory(pred)
        return self.postings.where(pred)

    @property
    def spark(self):
        return self.source.sparkSession

    def doc_id_col(self) -> F.Column:
        """External _id: key cols joined by ':' (docID = conv_id:turn_idx).
        On nested indexes the root rows carry an EMPTY `_nested_ctx`
        segment, skipped here so root ids match the flat form."""
        parts = []
        for k in self.key_cols:
            c = F.col(k).cast("string")
            if k == "_nested_ctx":
                c = F.when(c != "", c)
            parts.append(c)
        return F.concat_ws(":", *parts)

    # dictionaries up to this many terms are cached driver-side (one
    # collect, then every compile is a dict lookup — no per-query job);
    # beyond it, lookups stay distributed dictionary scans. Override
    # per-index via ``dict_cache_max`` or globally via the
    # BLEVE_SPARK_DICT_CACHE_MAX env var (0 = always distributed).
    DICT_CACHE_MAX = 200_000

    def _cache_max(self) -> int:
        if self.dict_cache_max is not None:
            return int(self.dict_cache_max)
        env = os.environ.get("BLEVE_SPARK_DICT_CACHE_MAX")
        return int(env) if env else self.DICT_CACHE_MAX

    def _cached_dict(self):
        cmax = self._cache_max()
        if cmax <= 0:  # also over a dictionary the build filled in
            self._dict_map = False
            return None
        if self._dict_map is None:
            rows = (
                self.dictionary.select("field", "term", "doc_freq")
                .limit(cmax + 1)
                .collect()
            )
            if len(rows) > cmax:
                self._dict_map = False
            else:
                d: dict = {}
                for r in rows:
                    d.setdefault(r["field"], {})[r["term"]] = int(
                        r["doc_freq"]
                    )
                self._dict_map = d
        return self._dict_map or None

    def synonyms_for(self, field_name: str, term: str) -> list[str]:
        """Synonyms for ``term`` on ``field_name`` — from the indexed
        thesaurus when the field is wired to a synonym collection
        (snapshot_index_thes.go TermFieldReader semantics), else from
        the legacy query-time map.  Thesaurus pulls are bounded
        ``limit(cap)`` lookups memoized per (field, term); the full
        mapping is never collected."""
        legacy = (self.synonyms or {}).get(field_name, {}).get(term)
        if legacy:
            return list(legacy)
        coll = (self.synonym_collections or {}).get(field_name)
        if coll is None or self.thesaurus is None:
            return []
        if self._syn_cache is None:
            self._syn_cache = {}
        key = (field_name, term)
        if key not in self._syn_cache:
            from bleve_spark.index.thesaurus import SYNONYM_CACHE_MAX

            rows = (
                self.thesaurus
                .where(
                    (F.col("collection") == coll)
                    & (F.col("term") == term)
                )
                .select("synonym")
                .limit(SYNONYM_CACHE_MAX)
                .collect()
            )
            self._syn_cache[key] = sorted(r["synonym"] for r in rows)
        return self._syn_cache[key]

    def doc_freq(self, field_name: str, terms: list[str]) -> dict[str, int]:
        """Dictionary lookup: #docs containing each term (bleve
        TermFieldReader.Count, /root/reference/search/searcher/
        search_term.go:146). Served from the driver-side dictionary
        cache when the dictionary is small; otherwise a term-pruned
        distributed scan (the FST dictionary probe)."""
        if not terms:
            return {}
        cache = self._cached_dict()
        if cache is not None:
            fm = cache.get(field_name, {})
            return {t: int(fm.get(t, 0)) for t in terms}
        rows = (
            self.dictionary.where(
                (F.col("field") == field_name) & F.col("term").isin(terms)
            )
            .select("term", "doc_freq")
            .collect()
        )
        out = {t: 0 for t in terms}
        out.update({r["term"]: int(r["doc_freq"]) for r in rows})
        return out

    def expand_terms(
        self,
        field_name: str,
        predicate,
        with_freq: bool = False,
        py_pred=None,
    ) -> list | None:
        """Driver-side dictionary expansion for prefix/wildcard/
        term-range — the analogue of bleve's FST automaton intersection
        (/root/reference/index/scorch/snapshot_index.go:242-246), served
        from the resident dictionary cache (no job). Returns ``None``
        when the cache is not resident (dictionary too big, or cache
        disabled): callers MUST then stay on the fully distributed
        :meth:`expand_terms_df` path — a 100 TB dictionary is never
        collected to the driver. ``py_pred`` is the Python equivalent
        of the Column ``predicate``; without it (JVM-only predicates
        like user regexps) the cached path is skipped too."""
        if py_pred is None:
            return None
        cache = self._cached_dict()
        if cache is None:
            return None
        items = sorted(
            (t, df) for t, df in cache.get(field_name, {}).items()
            if py_pred(t)
        )
        if with_freq:
            return items
        return [t for t, _ in items]

    def _dict_view(self, kind: str, field_name: str, build):
        """``build(term → doc_freq)`` of one field of the resident
        dictionary, memoized until the dictionary object changes;
        ``None`` when the dictionary is not resident."""
        cache = self._cached_dict()
        if cache is None:
            return None
        if self._dict_views is None or self._dict_views[0] is not cache:
            self._dict_views = (cache, {})
        views = self._dict_views[1]
        if (kind, field_name) not in views:
            views[kind, field_name] = build(cache.get(field_name, {}))
        return views[kind, field_name]

    def fuzzy_terms(self, field_name: str, term: str, d: int,
                    prefix: str = "") -> list | None:
        """(term, doc_freq, edit distance) of every dictionary term of
        ``field_name`` within Levenshtein distance ``d`` of ``term``
        that starts with ``prefix``, sorted by term — from length
        buckets of the resident dictionary, rebuilt whenever it is.
        ``None`` when the dictionary is not resident (callers then
        take the distributed :meth:`expand_terms_df` path)."""
        from bleve_spark.index.fuzzy import FuzzyDict

        fd = self._dict_view("fuzzy", field_name, FuzzyDict)
        return None if fd is None else fd.match(term, d, prefix)

    def prefix_terms(self, field_name: str, prefix: str) -> list | None:
        """(term, doc_freq) of every dictionary term of ``field_name``
        that starts with ``prefix``, sorted by term — a binary-search
        range of the field's code-point-sorted resident terms, rebuilt
        whenever the dictionary is. ``None`` when the dictionary is not
        resident (callers then take :meth:`expand_terms_df`)."""
        view = self._dict_view("sorted", field_name, _sorted_terms)
        if view is None:
            return None
        terms, items = view
        lo = bisect_left(terms, prefix)
        # the least string above every extension of the prefix: drop
        # trailing U+10FFFF, then bump the last code point
        end = prefix.rstrip("\U0010ffff")
        hi = (bisect_left(terms, end[:-1] + chr(ord(end[-1]) + 1), lo)
              if end else len(terms))
        return items[lo:hi]

    def expand_terms_df(self, field_name: str, predicate) -> DataFrame:
        """Distributed dictionary expansion: (term, doc_freq) rows whose
        term matches ``predicate`` — stays a DataFrame end-to-end so a
        broad prefix/regexp over a 100 TB dictionary never leaves the
        cluster; the scoring join consumes it directly
        (searcher.SDictDisj)."""
        return self.dictionary.where(
            (F.col("field") == field_name) & predicate
        ).select("term", "doc_freq")

    def persist(self):
        self.postings = self.postings.persist()
        self.dictionary = self.dictionary.persist()
        self._persisted = [self.postings, self.dictionary]
        return self

    def unpersist(self):
        for df in self._persisted:
            df.unpersist()
        self._persisted = []


def _sorted_terms(doc_freq: dict[str, int]) -> tuple[list, list]:
    """(terms, (term, doc_freq) items), both in code-point order."""
    items = sorted(doc_freq.items())
    return [t for t, _ in items], items


class TokenGroups(NamedTuple):
    """(term, doc) posting groups, term-major and doc-ascending: group
    ``i`` holds the ``tf[i]`` ascending positions
    ``pos[offsets[i]:offsets[i + 1]]``."""

    term: np.ndarray     # term code per group
    doc: np.ndarray      # doc per group
    tf: np.ndarray       # int64
    offsets: np.ndarray  # int64, one more than the groups
    pos: np.ndarray      # positions, group by group


def group_tokens(codes: np.ndarray, doc: np.ndarray,
                 pos: np.ndarray) -> TokenGroups:
    """Group a flat token stream (term code, doc, position per token)
    into (term, doc) postings: one lexsort, then group boundaries where
    the term or the doc changes. The one grouping kernel of the
    segment encoder and of the driver build."""
    order = np.lexsort((pos, doc, codes))
    c, d, p = codes[order], doc[order], pos[order]
    n = len(c)
    new = np.ones(n, dtype=bool)
    new[1:] = (c[1:] != c[:-1]) | (d[1:] != d[:-1])
    starts = np.flatnonzero(new)
    offsets = np.append(starts, n)
    return TokenGroups(c[starts], d[starts],
                       np.diff(offsets).astype(np.int64), offsets, p)


def _field_postings(
    df: DataFrame, keys: list[str], field_name: str, analyzer: str,
    with_len: bool = False, src_col: str | None = None,
) -> DataFrame:
    """(field, term, keys..., tf, positions, norm) for one field.

    Tokenization runs as a mapInArrow stage over the vectorized batch
    analyzer: flat (keys..., field_len, term, pos) token rows come
    straight out of Arrow arrays (pc.take on the dictionary-encoded
    token stream) — no nested array<struct> construction, no Generate,
    no per-row Python. tf/positions then come from one groupBy with
    map-side partial aggregation."""
    from bleve_spark.analysis.analyzers import get_analyzer

    analyzer_obj = get_analyzer(analyzer)
    src = df.select(
        *keys, qcol(src_col or field_name).cast("string").alias("_text")
    )
    key_fields = ", ".join(
        f"{f.name} {f.dataType.simpleString()}"
        for f in src.schema.fields[:-1]
    )
    out_schema = (
        f"{key_fields}, _field_len int, term string, pos int"
    )
    kc = list(keys)

    def tokenize(batches):
        import numpy as np
        import pyarrow as pa
        import pyarrow.compute as pc

        pa.set_cpu_count(1)
        for b in batches:
            if not b.num_rows:
                continue
            texts = b.column("_text").to_pylist()
            flens, doc_idx, codes, vocab, pos = (
                analyzer_obj.analyze_batch(texts)
            )
            if len(codes) == 0:
                continue
            idx_arr = pa.array(doc_idx)
            arrays = [
                pc.take(b.column(k), idx_arr) for k in kc
            ]
            arrays.append(
                pa.array(flens[doc_idx].astype(np.int32))
            )
            arrays.append(
                pc.take(pa.array(vocab, type=pa.string()),
                        pa.array(codes))
            )
            arrays.append(pa.array(pos))
            yield pa.RecordBatch.from_arrays(
                arrays, names=[*kc, "_field_len", "term", "pos"]
            )

    exploded = src.mapInArrow(tokenize, schema=out_schema)
    extra = [F.col("_field_len").alias("_flen")] if with_len else []
    return (
        exploded.groupBy(*keys, "_field_len", "term")
        .agg(
            F.count(F.lit(1)).cast("int").alias("tf"),
            F.sort_array(F.collect_list(F.col("pos"))).alias("positions"),
        )
        .select(
            F.lit(field_name).alias("field"),
            F.col("term"),
            *keys,
            "tf",
            "positions",
            # float32 roundtrip is intentional and observable in scores
            (F.lit(1.0) / F.sqrt(F.col("_field_len")))
            .cast("float")
            .alias("norm"),
            *extra,
        )
    )


def _dynamic_map_postings(
    df: DataFrame, keys: list[str], map_path: str, analyzer: str,
) -> DataFrame:
    """Postings for a DYNAMIC MapType column: bleve's dynamic mapping
    indexes unseen JSON object keys at index time
    (mapping/document.go:425 walkDocument reflection); Spark CAN
    enumerate runtime map keys — explode(map) yields (key, value)
    rows, so the postings' `field` column (which is data, not schema)
    carries "<path>.<key>" names no static column planning ever saw.
    Each entry is its own field instance with its own length/norm.
    Term and match queries against any runtime key then resolve purely
    through the postings/dictionary; no flat column is required."""
    ex = df.select(
        *keys, F.explode(qcol(map_path)).alias("_mk", "_mv")
    ).select(
        *keys,
        F.concat(F.lit(map_path + "."), F.col("_mk")).alias("_field"),
        F.col("_mv").cast("string").alias("_text"),
    )
    p = _field_postings(ex, [*keys, "_field"], "__dyn__", analyzer,
                        src_col="_text")
    return p.drop("field").withColumnRenamed("_field", "field").select(
        "field", "term", *keys, "tf", "positions", "norm"
    )


def _typed_member_postings(
    df: DataFrame, keys: list[str], member: str, kind: str,
) -> DataFrame:
    """Postings for a NUMERIC / DATETIME / BOOLEAN composite member.

    The reference analyzes these field types into terms too: numerics
    and datetimes become 16 prefix-coded trie terms (full precision +
    shifts 4..60, document/field_numeric.go:94-116,
    field_datetime.go), booleans a single "T"/"F" token
    (field_boolean.go:130-138). They matter inside the composite
    ``_all``: 16 extra tokens per numeric value change the field
    LENGTH (norm) bleve bakes into every ``_all`` score. Range queries
    still compile to native column predicates — these terms exist for
    norm/cardinality parity and term-level lookups.

    ARRAY members (``*_array`` kinds, r5): the reference emits one
    field INSTANCE per element and Compose merges their
    TokenFrequencies — tf sums across elements, field length is
    Σ per-element lengths (16 per numeric/datetime element, 1 per
    boolean element). Here the array explodes row-locally (no
    shuffle) and the per-doc length rides along as a column."""
    import numpy as np

    is_array = kind.endswith("_array")
    base_kind = kind[:-6] if is_array else kind

    if base_kind == "boolean":
        if not is_array:
            src = df.select(
                *keys, qcol(member).cast("boolean").alias("_v")
            )
            return (
                src.where(F.col("_v").isNotNull())
                .select(
                    F.lit(member).alias("field"),
                    F.when(F.col("_v"), F.lit("T")).otherwise(F.lit("F"))
                    .alias("term"),
                    *keys,
                    F.lit(1).cast("int").alias("tf"),
                    F.array(F.lit(1)).alias("positions"),
                    F.lit(1.0).cast("float").alias("norm"),
                    F.lit(1).cast("int").alias("_flen"),
                )
            )
        arr = F.filter(
            qcol(member).cast("array<boolean>"), lambda x: x.isNotNull()
        )
        src = (
            df.select(*keys, arr.alias("_arr"))
            .where(F.col("_arr").isNotNull() & (F.size("_arr") > 0))
            .select(
                *keys,
                F.size("_arr").cast("int").alias("_field_len"),
                F.explode("_arr").alias("_v"),
            )
        )
        return (
            src.groupBy(
                *keys,
                "_field_len",
                F.when(F.col("_v"), F.lit("T")).otherwise(F.lit("F"))
                .alias("term"),
            )
            .agg(F.count(F.lit(1)).cast("int").alias("tf"))
            .select(
                F.lit(member).alias("field"),
                F.col("term"),
                *keys,
                "tf",
                # each instance carries the boolean token at pos 1;
                # Compose appends instance position lists
                F.array_repeat(F.lit(1), F.col("tf")).alias("positions"),
                (F.lit(1.0) / F.sqrt(F.col("_field_len")))
                .cast("float").alias("norm"),
                F.col("_field_len").alias("_flen"),
            )
        )

    if base_kind == "datetime":
        # bleve indexes time.UnixNano (field_datetime.go)
        if is_array:
            vals = F.transform(
                qcol(member).cast("array<timestamp>"),
                lambda x: F.unix_micros(x) * F.lit(1000),
            )
        else:
            vals = None
        to_sortable = None  # already an int64 payload
    elif base_kind == "numeric":
        vals = qcol(member).cast("array<double>") if is_array else None
        to_sortable = "float"
    else:
        raise ValueError(f"unsupported typed member kind: {kind!r}")

    if is_array:
        vals = F.filter(vals, lambda x: x.isNotNull())
        src = (
            df.select(*keys, vals.alias("_arr"))
            .where(F.col("_arr").isNotNull() & (F.size("_arr") > 0))
            .select(
                *keys,
                F.size("_arr").cast("int").alias("_nvals"),
                F.explode("_arr").alias("_v"),
            )
        )
    elif base_kind == "datetime":
        src = df.select(
            *keys,
            (F.unix_micros(qcol(member).cast("timestamp"))
             * F.lit(1000)).alias("_v"),
        )
    else:
        src = df.select(
            *keys, qcol(member).cast("double").alias("_v")
        )

    src = src.where(F.col("_v").isNotNull())
    key_fields = ", ".join(
        f"{f.name} {f.dataType.simpleString()}"
        for f in src.schema.fields
        if f.name not in ("_v", "_nvals")
    )
    out_schema = f"{key_fields}, _field_len int, term string, pos int"
    kc = list(keys)
    has_nvals = "_nvals" in src.columns

    def encode(batches):
        import pyarrow as pa
        import pyarrow.compute as pc

        from bleve_spark.index.numeric_terms import (
            SHIFTS, doubles_to_sortable, trie_terms_batch,
        )

        pa.set_cpu_count(1)
        n_terms = len(SHIFTS)
        for b in batches:
            if not b.num_rows:
                continue
            vals = b.column("_v").to_numpy(zero_copy_only=False)
            if to_sortable == "float":
                iv = doubles_to_sortable(vals.astype(np.float64))
            else:
                iv = vals.astype(np.int64)
            row_idx, terms = trie_terms_batch(iv)
            idx_arr = pa.array(row_idx)
            arrays = [pc.take(b.column(k), idx_arr) for k in kc]
            if has_nvals:
                # array member: per-doc field length = 16 terms per
                # element × element count (riding on every row)
                nv = b.column("_nvals").to_numpy(zero_copy_only=False)
                arrays.append(
                    pa.array(
                        (nv[row_idx] * n_terms).astype(np.int32)
                    )
                )
            else:
                arrays.append(
                    pa.array(
                        np.full(len(row_idx), n_terms, dtype=np.int32)
                    )
                )
            arrays.append(pa.array(terms, type=pa.string()))
            arrays.append(
                pa.array(np.ones(len(row_idx), dtype=np.int32))
            )
            yield pa.RecordBatch.from_arrays(
                arrays, names=[*kc, "_field_len", "term", "pos"]
            )

    exploded = src.mapInArrow(encode, schema=out_schema)
    return (
        exploded.groupBy(*keys, "_field_len", "term")
        .agg(
            F.count(F.lit(1)).cast("int").alias("tf"),
            F.sort_array(F.collect_list(F.col("pos"))).alias("positions"),
        )
        .select(
            F.lit(member).alias("field"),
            F.col("term"),
            *keys,
            "tf",
            "positions",
            (F.lit(1.0) / F.sqrt(F.col("_field_len")))
            .cast("float")
            .alias("norm"),
            F.col("_field_len").alias("_flen"),
        )
    )


def _member_kind(df: DataFrame, member: str) -> str:
    """text | numeric | datetime | boolean (each with an ``_array``
    variant for ArrayType columns), from dtype."""
    from pyspark.sql import types as T

    dt = df.schema[member].dataType
    if isinstance(dt, (T.TimestampType, T.TimestampNTZType, T.DateType)):
        return "datetime"
    if isinstance(dt, T.BooleanType):
        return "boolean"
    if isinstance(dt, T.NumericType):
        return "numeric"
    if isinstance(dt, T.ArrayType):
        el = dt.elementType
        if isinstance(el, (T.TimestampType, T.TimestampNTZType,
                           T.DateType)):
            return "datetime_array"
        if isinstance(el, T.BooleanType):
            return "boolean_array"
        if isinstance(el, T.NumericType):
            return "numeric_array"
        return "text_array"
    return "text"


def _array_text_postings(
    df: DataFrame, keys: list[str], field_name: str, analyzer: str,
    with_len: bool = False,
) -> DataFrame:
    """Postings for an ``array<string>`` field: bleve indexes each
    array element as a separate same-name field instance
    (document/document.go:35,173-181 ArrayPositions) whose term freqs
    merge and whose lengths ACCUMULATE into one norm (scorch interim
    analysis sums same-name instance lengths). So: term freqs sum
    across elements, positions stay element-LOCAL (restart per element
    — phrases never span elements, same as composite members), norm =
    float32(1/√Σ element lengths)."""
    elem = df.select(
        *keys,
        F.posexplode(qcol(field_name)).alias("_apos", "_elem"),
    )
    per = _field_postings(
        elem, [*keys, "_apos"], field_name, analyzer,
        with_len=True, src_col="_elem",
    )
    # encode the array element into the position: bleve's phrase
    # adjacency requires EQUAL ArrayPositions
    # (/root/reference/search/search.go:108-114), so "bad call" +
    # "defenseless receiver" must NOT match the phrase "bad receiver".
    # pos' = apos*STRIDE + pos keeps within-element offsets (phrase +
    # slop arithmetic unchanged) while cross-element terms are never
    # within any realistic slop. Bounds: ≤2047 elements × ≤1M tokens
    # per element in int32.
    per = per.withColumn(
        "positions",
        F.transform(
            "positions",
            lambda p: p + F.col("_apos") * F.lit(ARRAY_POSITION_STRIDE),
        ),
    )
    lens = (
        per.select(*keys, "_apos", "_flen").distinct()
        .groupBy(*keys).agg(F.sum("_flen").alias("_total_len"))
    )
    extra = (
        [F.col("_total_len").cast("int").alias("_flen")]
        if with_len else []
    )
    return (
        per.groupBy(*keys, "term")
        .agg(
            F.sum("tf").cast("int").alias("tf"),
            F.sort_array(
                F.flatten(F.collect_list("positions"))
            ).alias("positions"),
        )
        .join(lens, keys)
        .select(
            F.lit(field_name).alias("field"),
            F.col("term"),
            *keys,
            "tf",
            "positions",
            (F.lit(1.0) / F.sqrt(F.col("_total_len")))
            .cast("float")
            .alias("norm"),
            *extra,
        )
    )


def _composite_postings(
    df: DataFrame,
    keys: list[str],
    cname: str,
    members: list[str],
    analyzers: dict[str, str],
) -> DataFrame:
    """The reference's composite field semantics
    (document/field_composite.go:33-41 + Compose: TokenFrequencies
    merged across members, totalLength = Σ member field lengths):
    each member is analyzed with its OWN analyzer, term freqs are
    summed, positions stay member-LOCAL (restart per member — phrase
    matches never span members), and norm = float32(1/√Σlen)."""
    parts = []
    for m in members:
        kind = _member_kind(df, m)
        if kind == "text":
            parts.append(
                _field_postings(
                    df, keys, m, analyzers.get(m, "standard"),
                    with_len=True,
                )
            )
        elif kind == "text_array":
            parts.append(
                _array_text_postings(
                    df, keys, m, analyzers.get(m, "standard"),
                    with_len=True,
                )
            )
        else:
            parts.append(_typed_member_postings(df, keys, m, kind))
    u = parts[0]
    for p in parts[1:]:
        u = u.unionByName(p)
    # per-doc total length: (keys, flen) is constant per member-doc
    lens = parts[0].select(*keys, "_flen").distinct()
    for p in parts[1:]:
        lens = lens.unionByName(p.select(*keys, "_flen").distinct())
    lens = lens.groupBy(*keys).agg(F.sum("_flen").alias("_total_len"))
    merged = (
        u.groupBy(*keys, "term")
        .agg(
            F.sum("tf").cast("int").alias("tf"),
            F.sort_array(
                F.flatten(F.collect_list("positions"))
            ).alias("positions"),
        )
        .join(lens, keys)
        .select(
            F.lit(cname).alias("field"),
            F.col("term"),
            *keys,
            "tf",
            "positions",
            (F.lit(1.0) / F.sqrt(F.col("_total_len")))
            .cast("float")
            .alias("norm"),
        )
    )
    return merged


# Postings per byte of the plan's size estimate that the driver build's
# gate assumes: the estimate of an input past
# resident.RESIDENT_MAX_POSTINGS / this (2 MB) sends it to the plan
# without a collect. Rounded up from the transcript corpus, where a
# parquet source (estimate = compressed file bytes, scaled to the
# selected columns) gave 0.39-0.41 postings per byte from 800 to
# 100,000 turns and a local relation (estimate = rows x default row
# width) 0.42. A generated frame (mapInPandas over spark.range) is
# estimated from its generator's input, far below its output, so it
# passes and the postings check after analysis, the backstop, decides.
POSTINGS_PER_ESTIMATED_BYTE = 0.5


def _index_on_driver(
    df: DataFrame, key_cols: list[str], fields: dict[str, str],
    scoring: str, synonyms: dict | None,
) -> IndexedTable | None:
    """The small size class of :func:`index_table`: the index built
    once on the driver, or None when ``df`` does not qualify.

    The key and field columns come back in one Arrow collect, the only
    Spark job. Each field is analysed with the batch analyzer and
    grouped by :func:`group_tokens` into the plan's postings rows
    (same norm arithmetic, float32 bit for bit). The postings and the
    dictionary are driver-held frames
    (:class:`~bleve_spark.session.LocalFrame`); the stats, the driver
    dictionary and the resident snapshot are filled from the same
    arrays — no shuffle, no cache, no re-collect on the first query.

    ``df`` qualifies when every field is a string column, the plan's
    size estimate of the selected columns predicts at most
    ``resident.RESIDENT_MAX_POSTINGS`` postings (at
    :data:`POSTINGS_PER_ESTIMATED_BYTE`; checked before the collect),
    the keys identify the rows (the plan makes same-key rows one doc)
    and the analysed postings do number at most that bound."""
    import pyarrow as pa
    from pyspark.sql import types as T

    from bleve_spark.analysis.analyzers import get_analyzer
    from bleve_spark.search import resident
    from bleve_spark.session import local_frame

    cols = list(dict.fromkeys([*key_cols, *fields]))
    types = {f.name: f for f in df.schema.fields}
    if not fields or any(c not in types for c in cols) or not all(
            isinstance(types[f].dataType, T.StringType) for f in fields):
        return None
    spark = df.sparkSession
    sel = df.select(*[qcol(c) for c in cols])
    size = sel._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
    if size * POSTINGS_PER_ESTIMATED_BYTE > resident.RESIDENT_MAX_POSTINGS:
        return None

    t = sel.toArrow()
    n = t.num_rows
    kt = t.select(key_cols)
    if kt.group_by(key_cols).aggregate([]).num_rows != n:
        return None
    # dense doc numbers in ascending key order: the tie-break order
    order = resident.key_order(kt)
    keys = kt.take(order)
    doc_of_row = np.empty(n, dtype=np.int64)
    doc_of_row[order] = np.arange(n)

    posting_parts, dict_parts, docs = [], [], []
    dict_map: dict = {}
    total = 0
    for f, a in fields.items():
        flens, rows, codes, vocab, pos = get_analyzer(a).analyze_batch(
            t.column(f).to_pylist())
        g = group_tokens(codes, doc_of_row[rows], pos)
        G = len(g.tf)
        if total + G > resident.RESIDENT_MAX_POSTINGS:
            return None
        flen = np.empty(n, dtype=np.int64)
        flen[doc_of_row] = flens
        # float32(1/√len), the plan's double arithmetic then cast
        norm = (1.0 / np.sqrt(flen[g.doc])).astype(np.float32)
        first = np.flatnonzero(np.diff(g.term, prepend=-1))  # per term
        terms = pa.array(vocab, pa.string())
        fcol = pa.array([f], pa.string())
        at = keys.take(pa.array(g.doc))
        posting_parts.append(pa.table({
            "field": fcol.take(np.zeros(G, dtype=np.int32)),
            "term": terms.take(pa.array(g.term)),
            **{k: at.column(k) for k in key_cols},
            "tf": pa.array(g.tf.astype(np.int32)),
            "positions": pa.ListArray.from_arrays(
                pa.array(g.offsets.astype(np.int32)),
                pa.array(g.pos.astype(np.int32))),
            "norm": pa.array(norm),
        }))
        doc_freq = np.diff(np.append(first, G))
        dict_parts.append(pa.table({
            "field": fcol.take(np.zeros(len(first), dtype=np.int32)),
            "term": terms.take(pa.array(g.term[first])),
            "doc_freq": pa.array(doc_freq.astype(np.int64)),
            "max_tf": pa.array(
                np.maximum.reduceat(g.tf, first).astype(np.int32)),
            "min_norm": pa.array(np.minimum.reduceat(norm, first)),
        }))
        if G:
            dict_map[f] = dict(zip(vocab[g.term[first]].tolist(),
                                   doc_freq.tolist()))
        docs.append(g.doc)
        total += G

    key_fields = [types[k] for k in key_cols]
    table = pa.concat_tables(posting_parts)
    postings = local_frame(
        spark, table, T.StructType([
            T.StructField("field", T.StringType()),
            T.StructField("term", T.StringType()),
            *key_fields,
            T.StructField("tf", T.IntegerType()),
            T.StructField("positions", T.ArrayType(T.IntegerType())),
            T.StructField("norm", T.FloatType()),
        ]))
    dictionary = local_frame(
        spark, pa.concat_tables(dict_parts),
        "field string, term string, doc_freq bigint, max_tf int, "
        "min_norm float")
    card = {f: len(terms) for f, terms in dict_map.items()}
    idx = IndexedTable(
        source=df,
        postings=postings,
        key_cols=list(key_cols),
        field_analyzers=dict(fields),
        stats=IndexStats(
            doc_count=n,
            field_cardinality=card,
            avg_doc_len={f: math.ceil(c / n) for f, c in card.items()},
            scoring=scoring,
        ),
        dictionary=dictionary,
        synonyms=synonyms,
        composite_fields={},
        _persisted=[postings, dictionary],
    )
    if sum(card.values()) <= idx._cache_max():
        idx._dict_map = dict_map
    resident.register_snapshot(postings, resident.assemble(
        table, np.concatenate(docs), keys, T.StructType(
            key_fields + [T.StructField("score", T.DoubleType())])))
    return idx


def index_table(
    df: DataFrame,
    key_cols: list[str],
    fields: dict[str, str],
    scoring: str = "bm25",
    persist: bool = True,
    synonyms: dict | None = None,
    composite_fields: dict[str, list[str]] | None = None,
    thesaurus: DataFrame | None = None,
    synonym_collections: dict | None = None,
    extra_postings: list | None = None,
) -> IndexedTable:
    """Build the index for ``df``. ``extra_postings``: pre-built
    postings DataFrames (same schema) unioned in before
    persist/dictionary/stats — the dynamic-MapType path.

    ``fields`` maps column name → analyzer name (e.g. ``{"text":
    "standard", "role": "keyword"}``). Numeric / timestamp / boolean
    columns need no postings — range queries compile to native predicates
    on ``df`` (Parquet min/max pruning replaces the reference's numeric
    trie, /root/reference/search/searcher/search_numeric_range.go:194).

    A persisted index of a small input with only plain string fields —
    no composite fields, thesaurus, synonym collections, extra
    postings or nested documents (whose keys end in ``_nested_ctx``) —
    is built on the driver (:func:`_index_on_driver`); every other
    input runs the Spark plan (:func:`_index_on_plan`).
    """
    if (persist and not (composite_fields or thesaurus
                         or synonym_collections or extra_postings)
            and "_nested_ctx" not in key_cols):
        idx = _index_on_driver(df, key_cols, fields, scoring, synonyms)
        if idx is not None:
            return idx
    return _index_on_plan(
        df, key_cols, fields, scoring, persist, synonyms,
        composite_fields, thesaurus, synonym_collections, extra_postings)


def _index_on_plan(
    df: DataFrame,
    key_cols: list[str],
    fields: dict[str, str],
    scoring: str = "bm25",
    persist: bool = True,
    synonyms: dict | None = None,
    composite_fields: dict[str, list[str]] | None = None,
    thesaurus: DataFrame | None = None,
    synonym_collections: dict | None = None,
    extra_postings: list | None = None,
) -> IndexedTable:
    """The Spark plan of :func:`index_table`, for every input outside
    the driver size class (same arguments)."""
    # composite fields (the reference's `_all`): per-member analysis
    # with each member's own analyzer, merged term freqs, member-LOCAL
    # positions (restart per member — phrases never span members),
    # totalLength = Σ member lengths — field_composite.go semantics
    df2 = df
    fields_all = dict(fields)
    parts = [
        (_array_text_postings if _member_kind(df2, f) == "text_array"
         else _field_postings)(df2, key_cols, f, a)
        for f, a in fields_all.items()
    ]
    for cname, members in (composite_fields or {}).items():
        parts.append(
            _composite_postings(df2, key_cols, cname, members, fields)
        )
        fields_all[cname] = fields_all.get(cname, "standard")
    for ep in (extra_postings or []):
        parts.append(ep)
    postings = parts[0]
    for p in parts[1:]:
        postings = postings.unionByName(p)

    idx = IndexedTable(
        source=df2,
        postings=postings,
        key_cols=list(key_cols),
        field_analyzers=fields_all,
        stats=None,
        dictionary=None,
        synonyms=synonyms,
        thesaurus=thesaurus,
        synonym_collections=synonym_collections,
        composite_fields=dict(composite_fields or {}),
    )
    if persist:
        idx.postings = idx.postings.persist()
        idx._persisted.append(idx.postings)

    idx.dictionary = (
        idx.postings.groupBy("field", "term")
        .agg(
            F.count(F.lit(1)).alias("doc_freq"),
            F.max("tf").alias("max_tf"),
            F.min("norm").alias("min_norm"),
        )
    )
    if persist:
        idx.dictionary = idx.dictionary.persist()
        idx._persisted.append(idx.dictionary)

    # ---- global stats (bleve PreSearchData analogue: one tiny agg job,
    # result broadcast driver-side — /root/reference/pre_search.go:96-110)
    doc_count = df.count()
    card_rows = (
        idx.dictionary.groupBy("field")
        .agg(F.count(F.lit(1)).alias("card"))
        .collect()
    )
    field_card = {r["field"]: int(r["card"]) for r in card_rows}
    avg_doc_len = {
        f: (math.ceil(c / doc_count) if doc_count else 0.0)
        for f, c in field_card.items()
    }
    idx.stats = IndexStats(
        doc_count=doc_count,
        field_cardinality=field_card,
        avg_doc_len=avg_doc_len,
        scoring=scoring,
    )
    return idx
