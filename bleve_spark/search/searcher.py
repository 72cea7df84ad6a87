"""Query compiler: Query AST → DataFrame plan over the postings relation.

The reference compiles a Query tree into a Searcher tree of sorted
doc-iterators with Next/Advance merge-join machinery
(/root/reference/index/scorch/README.md:231-256). Here a Searcher tree
IS a DataFrame: each node compiles to ``(key cols..., score)``;
``Advance`` is a shuffle join; conjunction/disjunction are one
union+groupBy (a single shuffle for N-ary composites instead of N-1
binary joins); the collector is ORDER BY score LIMIT k
(Catalyst TakeOrderedAndProject).

Scoring constants (idf, queryNorm, per-leaf queryWeight) are computed
driver-side from tiny dictionary lookups — the exact analogue of the
reference's global-stats pre-search (/root/reference/pre_search.go:85-110)
— then baked into whole-stage-codegen column expressions.

queryNorm semantics (verified against the reference): every composite
searcher computes ``queryNorm = 1/sqrt(Σ child Weight())`` at
construction and pushes it down, parents overwriting children
(search_conjunction.go:90-102, search_boolean.go:92-110,
search_disjunction_slice.go:104). Net effect: every scoring leaf uses the
queryNorm of the OUTERMOST composite; a leaf at the root keeps
queryWeight=1.
"""

from __future__ import annotations

import math
import re
from dataclasses import dataclass, field as dc_field
from datetime import datetime, timezone

import pandas as pd  # module-level so pandas_udf type hints resolve
from pyspark.sql import Column, DataFrame, functions as F

from bleve_spark.analysis.analyzers import get_analyzer
from bleve_spark.index.build import IndexedTable
from bleve_spark.search import query as Q
from bleve_spark.search.scorer import idf_value, term_score_col, term_weight
from bleve_spark.session import local_frame

# Tuning constants live in bleve_spark.config (env-overridable +
# config.configure()) with their scaling rationale; usage sites read
# the module attribute so runtime reconfiguration takes effect. The
# names below remain importable for back-compat but are snapshots.
from bleve_spark import config as _cfg

BULK_DISJUNCTION_THRESHOLD = _cfg.BULK_DISJUNCTION_THRESHOLD
SPREAD_MIN_DF = _cfg.SPREAD_MIN_DF

MAX_FUZZINESS = 2  # search/searcher/search_fuzzy.go:27

# the reference's DisjunctionMaxClauseCount
# (search/searcher/search_disjunction.go:25-28): 0 = unlimited; when
# set, any dictionary expansion / disjunction exceeding it errors
# instead of executing (tooManyClauses, search_disjunction.go:127-137).
DisjunctionMaxClauseCount = 0


class TooManyClausesError(Exception):
    """search_disjunction.go:134-137."""

    def __init__(self, field: str, count: int):
        super().__init__(
            f"TooManyClauses over field: `{field}` "
            f"[{count} > maxClauseCount, configured at "
            f"{DisjunctionMaxClauseCount}]"
        )


def qcol(name: str) -> Column:
    """Exact source-column reference: backtick-quoted so dotted flat
    names from the mapping layer ('company.departments.budget') don't
    resolve as nested struct paths when the original struct column is
    also present."""
    return F.col("`" + name.replace("`", "") + "`")


def _check_clauses(field: str, count: int) -> None:
    if 0 < DisjunctionMaxClauseCount < count:
        raise TooManyClausesError(field, count)


@dataclass
class _Ctx:
    idx: IndexedTable
    qn: float = 1.0

    @property
    def keys(self):
        return self.idx.key_cols

    @property
    def scoring(self):
        return self.idx.stats.scoring

    def empty(self) -> DataFrame:
        return (
            self.idx.source.select(*self.keys)
            .where(F.lit(False))
            .withColumn("score", F.lit(0.0))
        )

    # -- nested sub-documents (index_with_mapping nested:true) --
    @property
    def nested(self) -> dict | None:
        return getattr(self.idx, "nested_chains", None) or None

    @property
    def root_keys(self) -> list:
        return getattr(self.idx, "root_key_cols", None) or self.keys

    def chain_of(self, field: str) -> tuple:
        nc = self.nested
        return nc.get(field, ()) if nc else ()


# ---------------------------------------------------------------- nodes --


class SNode:
    def weight(self, ctx: _Ctx) -> float:
        raise NotImplementedError

    def compile(self, ctx: _Ctx) -> DataFrame:
        """→ DataFrame(keys..., score) with unique key rows."""
        raise NotImplementedError

    def docs(self, ctx: _Ctx) -> DataFrame:
        """Unscored doc-key set (for must_not / filter clauses)."""
        return self.compile(ctx).select(*ctx.keys)

    def fields_used(self) -> set:
        """Field names this subtree matches against — drives the
        nested-conjunction join depth (the reference computes
        NestedDepth over the query's FieldSet)."""
        return set()


@dataclass
class STerm(SNode):
    field: str
    term: str
    boost: float
    doc_freq: int
    boost_multiplier: float = 1.0  # fuzzy edit-distance 1/(1+d)

    def fields_used(self) -> set:
        return {self.field}

    def _idf(self, ctx: _Ctx) -> float:
        avg = (
            ctx.idx.stats.avg_len(self.field)
            if ctx.scoring == "bm25"
            else 0.0
        )
        return idf_value(
            ctx.scoring, ctx.idx.stats.doc_count, self.doc_freq, avg
        )

    def _boost(self) -> float:
        return self.boost * self.boost_multiplier

    def weight(self, ctx: _Ctx) -> float:
        return term_weight(self._boost(), self._idf(ctx))

    def _rows(self, ctx: _Ctx, positions: bool = False) -> DataFrame:
        # prune_postings pushes (field, term) below an at-rest
        # store's chunk decode into the parquet scan (r5); scoring
        # reads skip the pos_blob column entirely, and a high-df
        # term's decode is spread across the cluster
        return ctx.idx.prune_postings(
            (F.col("field") == self.field) & (F.col("term") == self.term),
            positions=positions,
            spread=self.doc_freq >= _cfg.SPREAD_MIN_DF,
        )

    def score_col(self, ctx: _Ctx) -> Column:
        idf = self._idf(ctx)
        qw = (
            self._boost() * idf * ctx.qn if ctx.qn != 1.0 else 1.0
        )
        avg = (
            ctx.idx.stats.avg_len(self.field)
            if ctx.scoring == "bm25"
            else 0.0
        )
        return term_score_col(ctx.scoring, idf, avg, qw)

    def compile(self, ctx: _Ctx) -> DataFrame:
        return self._rows(ctx).select(
            *ctx.keys, self.score_col(ctx).alias("score")
        )

    def compile_with_positions(self, ctx: _Ctx) -> DataFrame:
        return self._rows(ctx, positions=True).select(
            *ctx.keys,
            self.score_col(ctx).alias("score"),
            F.col("positions"),
        )

    def docs(self, ctx: _Ctx) -> DataFrame:
        return self._rows(ctx).select(*ctx.keys)


@dataclass
class SConst(SNode):
    """Constant scorer (scorer_constant.go:53): match_all / ids / ranges.
    ``df_fn(ctx)`` yields the matching doc keys. ``field`` (when the
    predicate targets one) feeds nested-conjunction depth."""

    df_fn: object
    boost: float
    field: str | None = None

    def fields_used(self) -> set:
        return {self.field} if self.field else set()

    def weight(self, ctx: _Ctx) -> float:
        return self.boost * self.boost

    def compile(self, ctx: _Ctx) -> DataFrame:
        score = self.boost * ctx.qn if ctx.qn != 1.0 else self.boost
        return self.df_fn(ctx).select(
            *ctx.keys, F.lit(float(score)).alias("score")
        )

    def docs(self, ctx: _Ctx) -> DataFrame:
        return self.df_fn(ctx).select(*ctx.keys)


@dataclass
class SNone(SNode):
    def weight(self, ctx):
        return 0.0

    def compile(self, ctx):
        return ctx.empty()


def _union_children(ctx: _Ctx, dfs: list[DataFrame]) -> DataFrame:
    out = dfs[0]
    for d in dfs[1:]:
        out = out.unionByName(d)
    return out


@dataclass
class SConj(SNode):
    """AND; score = Σ child scores (scorer_conjunction.go:45-71).
    Compiled as union + groupBy HAVING count = n — one shuffle."""

    children: list[SNode]

    def weight(self, ctx):
        return sum(c.weight(ctx) for c in self.children)

    def fields_used(self) -> set:
        out: set = set()
        for c in self.children:
            out |= c.fields_used()
        return out

    def _join_depth(self, ctx) -> int:
        """Nested join depth = length of the common prefix of the
        nested chains of every field this conjunction touches — the
        reference's NestedDepth(FieldSet) common value feeding
        NewNestedConjunctionSearcher's joinIdx."""
        chains = [ctx.chain_of(f) for f in self.fields_used()]
        if not chains:
            return 0
        d = 0
        for level in zip(*chains):
            if len(set(level)) != 1:
                break
            d += 1
        return d

    @staticmethod
    def _trunc_ctx(d: int):
        """Truncate a `_nested_ctx` string to its first ``d``
        segments (the ancestor at the join depth); '' at d=0."""
        if d == 0:
            return F.lit("")
        return F.when(
            F.col("_nested_ctx") == "", F.lit("")
        ).otherwise(
            F.concat_ws(
                "/", F.slice(F.split("_nested_ctx", "/"), 1, d)
            )
        )

    def _compile_nested(self, ctx, scored: bool):
        """Conjunction over a nested index: legs match CHILD docs;
        they join on the ancestor context at the common nested depth
        (search_conjunction_nested.go merge-join on ancestorFromRoot
        (joinIdx)). A leg may match several children of one ancestor,
        so the gate is count(DISTINCT leg) = n, and the score is the
        sum of every contributing child score (the collector later
        folds ancestors into the root the same way)."""
        d = self._join_depth(ctx)
        rk = ctx.root_keys
        parts = []
        for i, c in enumerate(self.children):
            df = c.compile(ctx) if scored else (
                c.docs(ctx).withColumn("score", F.lit(0.0))
            )
            parts.append(df.withColumn("_leg", F.lit(i)))
        u = parts[0]
        for p in parts[1:]:
            u = u.unionByName(p)
        n = len(self.children)
        out = (
            u.select(
                *rk, self._trunc_ctx(d).alias("_nested_ctx"),
                "score", "_leg",
            )
            .groupBy(*rk, "_nested_ctx")
            .agg(
                F.sum("score").alias("score"),
                F.count_distinct(F.col("_leg")).alias("_cnt"),
            )
            .where(F.col("_cnt") == n)
            .drop("_cnt")
        )
        cols = [*ctx.keys, "score"] if scored else list(ctx.keys)
        return out.select(*cols)

    def _bulk_terms(self, ctx) -> list | None:
        """All-STerm same-field DISTINCT-term conjunctions compile to
        one term-pruned postings join + one doc groupBy — the same
        scale path as SDisj._compile_bulk. An AND of n terms IS the
        min=n disjunction: every kept doc matched all n legs, so
        coord = n/n = 1 and the score is exactly Σ child scores
        (scorer_conjunction.go:45-71 sums with no coord).

        Distinctness matters: the union plan counts each duplicate
        leg separately, the bulk join would collapse them into one
        postings row. Engaged on at-rest stores with postings-resident
        norms (any n — it removes per-term corpus-sized doc joins) or
        past the bulk threshold elsewhere."""
        min_n = (
            2 if getattr(ctx.idx, "postings_doc_factory", None)
            is not None else _cfg.BULK_DISJUNCTION_THRESHOLD
        )
        if len(self.children) < min_n:
            return None
        terms, fields = [], set()
        for c in self.children:
            if type(c) is not STerm:
                return None
            fields.add(c.field)
            terms.append(c)
        if len(fields) != 1:
            return None
        if len({t.term for t in terms}) != len(terms):
            return None
        return terms

    def compile(self, ctx):
        if not self.children:
            return ctx.empty()
        if any(isinstance(c, SNone) for c in self.children):
            return ctx.empty()
        if len(self.children) == 1:
            return self.children[0].compile(ctx)
        if ctx.nested:
            return self._compile_nested(ctx, scored=True)
        bulk = self._bulk_terms(ctx)
        if bulk is not None:
            n = len(bulk)
            return SDisj(children=list(bulk), min=n)._compile_bulk(
                ctx, bulk, n, n
            )
        u = _union_children(ctx, [c.compile(ctx) for c in self.children])
        n = len(self.children)
        return (
            u.groupBy(*ctx.keys)
            .agg(
                F.sum("score").alias("score"),
                F.count(F.lit(1)).alias("_cnt"),
            )
            .where(F.col("_cnt") == n)
            .drop("_cnt")
        )

    def docs(self, ctx):
        if not self.children or any(
            isinstance(c, SNone) for c in self.children
        ):
            return ctx.empty().select(*ctx.keys)
        if len(self.children) == 1:
            return self.children[0].docs(ctx)
        if ctx.nested:
            return self._compile_nested(ctx, scored=False)
        bulk = self._bulk_terms(ctx)
        if bulk is not None:
            return _bulk_join_docs(
                ctx, bulk[0].field, [t.term for t in bulk], len(bulk),
                sum_df=sum(t.doc_freq for t in bulk),
            )
        u = _union_children(ctx, [c.docs(ctx) for c in self.children])
        n = len(self.children)
        return (
            u.groupBy(*ctx.keys)
            .agg(F.count(F.lit(1)).alias("_cnt"))
            .where(F.col("_cnt") == n)
            .drop("_cnt")
        )


@dataclass
class SDisj(SNode):
    """OR with ``min`` and coord = matched/total
    (scorer_disjunction.go:46-83). min=0 behaves as ≥1 (an emitted doc
    matched something)."""

    children: list[SNode]
    min: int = 0

    def weight(self, ctx):
        return sum(c.weight(ctx) for c in self.children)

    def fields_used(self) -> set:
        out: set = set()
        for c in self.children:
            out |= c.fields_used()
        return out

    def _bulk_terms(self, min_n: int | None = None
                    ) -> list[STerm] | None:
        """All-STerm same-field disjunctions compile to one broadcast
        join — the scale path for big dictionary expansions."""
        if min_n is None:
            min_n = _cfg.BULK_DISJUNCTION_THRESHOLD
        if len(self.children) < min_n:
            return None
        terms = []
        fields = set()
        for c in self.children:
            if not isinstance(c, STerm):
                return None
            fields.add(c.field)
            terms.append(c)
        return terms if len(fields) == 1 else None

    def compile(self, ctx):
        kids = [c for c in self.children if not isinstance(c, SNone)]
        if not kids:
            return ctx.empty()
        total = len(self.children)
        min_req = max(int(self.min), 1)
        if min_req > total:
            return ctx.empty()

        # on an at-rest store with postings-resident norms, even a
        # 2-term OR wins from the bulk plan: one term-pruned decode +
        # one doc_num groupBy, keys joined after aggregation —
        # instead of per-term corpus joins unioned then re-grouped
        min_bulk = (
            2 if getattr(ctx.idx, "postings_doc_factory", None)
            is not None else _cfg.BULK_DISJUNCTION_THRESHOLD
        )
        bulk = self._bulk_terms(min_bulk)
        if bulk is not None:
            return self._compile_bulk(ctx, bulk, total, min_req)

        u = _union_children(ctx, [c.compile(ctx) for c in kids])
        agg = u.groupBy(*ctx.keys).agg(
            F.sum("score").alias("_sum"),
            F.count(F.lit(1)).alias("_cnt"),
        )
        if min_req > 1:
            agg = agg.where(F.col("_cnt") >= min_req)
        return agg.select(
            *ctx.keys,
            (
                F.col("_sum") * F.col("_cnt").cast("double") / F.lit(float(total))
            ).alias("score"),
        )

    def _compile_bulk(self, ctx, terms: list[STerm], total, min_req):
        fld = terms[0].field
        meta: dict = {"term": [], "_idf": [], "_qw": []}
        for t in terms:
            idf = t._idf(ctx)
            qw = t._boost() * idf * ctx.qn if ctx.qn != 1.0 else 1.0
            meta["term"].append(t.term)
            meta["_idf"].append(float(idf))
            meta["_qw"].append(float(qw))
        mdf = F.broadcast(local_frame(
            ctx.idx.spark, meta, "term string, _idf double, _qw double"
        ))
        # the term set is driver-known here: pass it through so the
        # at-rest pruned read pushes term IN (...) into the chunk
        # scan (field-only pruning decodes the whole field)
        return _bulk_join_score(
            ctx, fld, mdf, total, min_req,
            terms=meta["term"],
            sum_df=sum(t.doc_freq for t in terms),
        )

    def docs(self, ctx, dedup: bool = True):
        """``dedup=False`` may return duplicate key rows — valid (and
        one exchange cheaper) when the consumer is a semi/anti join
        (SBool must_not / filter), which is multiset-insensitive."""
        kids = [c for c in self.children if not isinstance(c, SNone)]
        if not kids:
            return ctx.empty().select(*ctx.keys)
        min_req = max(int(self.min), 1)
        # unscored all-term OR (must_not / filter clauses): one
        # term-pruned postings read + one distinct/groupBy instead of
        # per-term reads each joining the doc table. With min>1 the
        # union plan counts duplicate-term legs separately, so the
        # bulk collapse is only safe on distinct terms.
        min_bulk = (
            2 if getattr(ctx.idx, "postings_doc_factory", None)
            is not None else _cfg.BULK_DISJUNCTION_THRESHOLD
        )
        bulk = self._bulk_terms(min_bulk)
        if bulk is not None and (
            min_req <= 1
            or len({t.term for t in bulk}) == len(bulk)
        ):
            return _bulk_join_docs(
                ctx, bulk[0].field, [t.term for t in bulk], min_req,
                sum_df=sum(t.doc_freq for t in bulk),
                dedup=dedup,
            )
        u = _union_children(ctx, [c.docs(ctx) for c in kids])
        if min_req <= 1:
            return u.distinct() if dedup else u
        return (
            u.groupBy(*ctx.keys)
            .agg(F.count(F.lit(1)).alias("_cnt"))
            .where(F.col("_cnt") >= min_req)
            .drop("_cnt")
        )


def _bulk_join_score(ctx, fld: str, mdf, total, min_req,
                     terms: list | None = None,
                     sum_df: int = 0) -> DataFrame:
    """Score a whole term set in ONE postings join + ONE groupBy: the
    scale path shared by big in-memory disjunctions (_compile_bulk) and
    distributed dictionary expansions (SDictDisj). ``mdf`` carries
    (term, _idf double, _qw double); per-posting math is the exact
    term_score_col formula with idf/queryWeight as columns. Pass
    ``terms`` when the set is known driver-side so an at-rest store
    prunes its chunk scan on term IN (...) — a distributed expansion
    (SDictDisj) leaves it None and prunes on field only."""
    avg = ctx.idx.stats.avg_len(fld) if ctx.scoring == "bm25" else 0.0
    pred = F.col("field") == fld
    if terms:
        pred = pred & F.col("term").isin(list(terms))
    # at-rest stores with postings-resident norms (len_blob) score and
    # aggregate on doc_num alone; the doc table enters AFTER the
    # per-doc aggregation as a doc_num → keys join over MATCHED docs
    # only (its inner join against the live doc table also drops
    # deleted docs) — never a corpus-sized per-posting join
    spread = sum_df >= _cfg.SPREAD_MIN_DF
    doc_fac = getattr(ctx.idx, "postings_doc_factory", None)
    if doc_fac is not None:
        try:
            rows = doc_fac(pred, spread=spread)
        except TypeError:
            rows = doc_fac(pred)
        rows = rows.join(mdf, "term")
    else:
        rows = ctx.idx.prune_postings(
            pred, positions=False, spread=spread
        ).join(mdf, "term")
    if ctx.scoring == "bm25" and avg > 0:
        per = F.col("_idf") * (
            F.sqrt(F.col("tf").cast("double")) * F.lit(1.2)
        ) / (
            F.sqrt(F.col("tf").cast("double"))
            + F.lit(1.2)
            * (
                F.lit(0.25)
                + (
                    F.lit(0.75)
                    * (
                        F.lit(1.0)
                        / (
                            F.col("norm").cast("double")
                            * F.col("norm").cast("double")
                        )
                    )
                )
                / F.lit(avg)
            )
        )
    else:
        per = (
            F.sqrt(F.col("tf").cast("double"))
            * F.col("norm").cast("double")
            * F.col("_idf")
        )
    per = F.when(F.col("_qw") != 1.0, per * F.col("_qw")).otherwise(per)
    group = ["doc_num"] if doc_fac is not None else list(ctx.keys)
    rows = rows.select(*group, per.alias("score"))
    agg = rows.groupBy(*group).agg(
        F.sum("score").alias("_sum"),
        F.count(F.lit(1)).alias("_cnt"),
    )
    if min_req > 1:
        agg = agg.where(F.col("_cnt") >= min_req)
    out = agg.select(
        *group,
        (
            F.col("_sum") * F.col("_cnt").cast("double")
            / F.lit(float(total))
        ).alias("score"),
    )
    if doc_fac is not None:
        out = out.join(ctx.idx.doc_keys_df(), "doc_num").select(
            *ctx.keys, "score"
        )
    return out


def _bulk_join_docs(ctx, fld: str, terms: list[str],
                    min_req: int, sum_df: int = 0,
                    dedup: bool = True) -> DataFrame:
    """Unscored doc-key set of an all-term conjunction/disjunction in
    ONE term-pruned postings read + ONE groupBy (must_not / filter
    clauses). On stores with postings-resident scoring reads, the
    groupBy runs on doc_num and keys join after aggregation over
    matched docs only. ``dedup=False`` (only meaningful at
    min_req ≤ 1) skips the groupBy and returns the raw matched rows —
    a multiset, fine for semi/anti-join consumers."""
    pred = (F.col("field") == fld) & F.col("term").isin(list(terms))
    spread = sum_df >= _cfg.SPREAD_MIN_DF
    doc_fac = getattr(ctx.idx, "postings_doc_factory", None)
    if doc_fac is not None:
        try:
            rows = doc_fac(pred, spread=spread)
        except TypeError:
            rows = doc_fac(pred)
        if min_req <= 1 and not dedup:
            return rows.join(ctx.idx.doc_keys_df(), "doc_num").select(
                *ctx.keys
            )
        agg = rows.groupBy("doc_num").agg(
            F.count(F.lit(1)).alias("_cnt")
        )
        if min_req > 1:
            agg = agg.where(F.col("_cnt") >= min_req)
        return agg.join(ctx.idx.doc_keys_df(), "doc_num").select(
            *ctx.keys
        )
    rows = ctx.idx.prune_postings(pred, positions=False, spread=spread)
    if min_req <= 1 and not dedup:
        return rows.select(*ctx.keys)
    agg = rows.groupBy(*ctx.keys).agg(
        F.count(F.lit(1)).alias("_cnt")
    )
    if min_req > 1:
        agg = agg.where(F.col("_cnt") >= min_req)
    return agg.select(*ctx.keys)


def _idf_col(ctx, field: str, df_col: Column) -> Column:
    """idf as a column over dictionary doc_freq — the distributed twin
    of scorer.idf_value (computeIDF, scorer_term.go:65-77)."""
    n = float(ctx.idx.stats.doc_count)
    d = df_col.cast("double")
    avg = ctx.idx.stats.avg_len(field) if ctx.scoring == "bm25" else 0.0
    if ctx.scoring == "bm25" and avg > 0:
        return F.log(
            F.lit(1.0) + (F.lit(n) - d + F.lit(0.5)) / (d + F.lit(0.5))
        )
    return F.lit(1.0) + F.log(F.lit(n) / (d + F.lit(1.0)))


@dataclass
class SDictDisj(SNode):
    """Disjunction over a DISTRIBUTED dictionary expansion — the scale
    path for prefix/regexp/wildcard/fuzzy/term-range when the term
    dictionary is too big to cache driver-side. The expansion stays a
    DataFrame end-to-end (bleve's FST automaton walk,
    snapshot_index.go:242-246, never leaves the cluster): per-term idf
    and queryWeight are computed as columns, the scoring is one
    postings join + one groupBy (shared with _compile_bulk), and the
    only driver-side value is a 1-row aggregate (clause count + weight
    sum — the same tiny pre-search stats job every query already runs).

    ``expansion``: (term, doc_freq, mult) — mult is the per-term boost
    multiplier (fuzzy's 1/(1+distance), search_fuzzy.go:45-48; 1.0
    otherwise). Coord and min semantics are SDisj's exactly.
    """

    field: str
    expansion: DataFrame
    boost: float = 1.0
    _stats: object = dc_field(default=None, repr=False)

    def fields_used(self) -> set:
        return {self.field}

    def _agg(self, ctx) -> tuple[int, float]:
        if self._stats is None:
            w = (
                F.lit(float(self.boost))
                * F.col("mult")
                * _idf_col(ctx, self.field, F.col("doc_freq"))
            )
            row = self.expansion.agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(w * w).alias("wsum"),
            ).collect()[0]
            n = int(row["n"])
            _check_clauses(self.field, n)
            self._stats = (n, float(row["wsum"] or 0.0))
        return self._stats

    def weight(self, ctx):
        return self._agg(ctx)[1]

    def compile(self, ctx):
        n, _ = self._agg(ctx)
        if n == 0:
            return ctx.empty()
        idf = _idf_col(ctx, self.field, F.col("doc_freq"))
        if ctx.qn != 1.0:
            qw = F.lit(float(self.boost)) * F.col("mult") * idf * F.lit(
                float(ctx.qn)
            )
        else:
            qw = F.lit(1.0)
        mdf = self.expansion.select(
            "term", idf.alias("_idf"), qw.alias("_qw")
        )
        return _bulk_join_score(ctx, self.field, mdf, total=n, min_req=1)

    def docs(self, ctx, dedup: bool = True):
        rows = ctx.idx.prune_postings(
            F.col("field") == self.field, positions=False
        ).join(self.expansion.select("term"), "term", "left_semi")
        out = rows.select(*ctx.keys)
        return out.distinct() if dedup else out


def _docs_multiset(node: SNode, ctx: _Ctx) -> DataFrame:
    """Doc keys for a semi/anti-join consumer: those joins are
    multiset-insensitive, so disjunction nodes may skip their final
    distinct/groupBy exchange. Other node types keep their (already
    unique or cheap) docs() contract."""
    if isinstance(node, (SDisj, SDictDisj)):
        return node.docs(ctx, dedup=False)
    return node.docs(ctx)


@dataclass
class SBool(SNode):
    """must/should/must_not/filter (search_boolean.go:209-330):
    must=inner, should adds score (left join when its min is 0, inner
    when >0), must_not=anti join, filter=semi join (unscored)."""

    must: SNode | None = None
    should: SDisj | None = None
    must_not: SNode | None = None
    filter: SNode | None = None

    def fields_used(self) -> set:
        out: set = set()
        for c in (self.must, self.should, self.must_not, self.filter):
            if c is not None:
                out |= c.fields_used()
        return out

    def weight(self, ctx):
        w = 0.0
        if self.must is not None:
            w += self.must.weight(ctx)
        if self.should is not None:
            w += self.should.weight(ctx)
        return w

    def compile(self, ctx):
        keys = ctx.keys
        result = None
        if self.must is not None and self.should is not None:
            m = self.must.compile(ctx)
            s = self.should.compile(ctx).withColumnRenamed(
                "score", "_should_score"
            )
            if int(self.should.min) > 0:
                j = m.join(s, keys, "inner")
                result = j.select(
                    *keys,
                    (F.col("score") + F.col("_should_score")).alias("score"),
                )
            else:
                j = m.join(s, keys, "left")
                result = j.select(
                    *keys,
                    (
                        F.col("score")
                        + F.coalesce(F.col("_should_score"), F.lit(0.0))
                    ).alias("score"),
                )
        elif self.must is not None:
            result = self.must.compile(ctx)
        elif self.should is not None:
            result = self.should.compile(ctx)
        else:
            result = ctx.empty()

        if self.must_not is not None and not isinstance(self.must_not, SNone):
            result = result.join(
                _docs_multiset(self.must_not, ctx), keys, "left_anti"
            )
        if self.filter is not None:
            result = result.join(
                _docs_multiset(self.filter, ctx), keys, "left_semi"
            )
        return result


@dataclass
class SPhrase(SNode):
    """Positional phrase. ``slots`` are (relative position, [STerm
    alternatives]) pairs; stop-filtered query tokens leave gaps that
    widen the required offset (match_phrase.go:76 keeps token positions).

    slop=0 compiles to pure native array ops: chained
    array_intersect(transform(prev, x→x+gap), next) — no Python.
    slop>0 compiles to NESTED NATIVE `exists` over the position arrays
    — the exact statement of the reference's position-path DFS
    (search_phrase.go:439 findPhrasePaths): ∃ p₀…p_{n-1}, pᵢ > pᵢ₋₁
    and Σᵢ |pᵢ − (pᵢ₋₁+gapᵢ)| ≤ slop, with the cumulative-cost bound
    checked at every level (same pruning as the DFS budget). All JVM,
    whole-stage codegen. Phrases with more than _SLOP_NATIVE_MAX_SLOTS
    slots fall back to an Arrow-batched pandas UDF running the same
    DFS (codegen expression-depth guard, not a semantics change).
    """

    slots: list[tuple[int, list[STerm]]] = dc_field(default_factory=list)
    slop: int = 0

    def fields_used(self) -> set:
        return {t.field for _, alts in self.slots for t in alts}

    def weight(self, ctx):
        return sum(
            t.weight(ctx) for _, alts in self.slots for t in alts
        )

    def compile(self, ctx):
        if not self.slots:
            return ctx.empty()
        keys = ctx.keys

        # per-slot doc rows: positions + score (alternatives unioned;
        # disjunction coord within a slot — multi_phrase.go:77 semantics)
        slot_dfs = []
        for _, alts in self.slots:
            if len(alts) == 1:
                d = alts[0].compile_with_positions(ctx)
            else:
                parts = [t.compile_with_positions(ctx) for t in alts]
                u = _union_children(ctx, parts)
                total = len(alts)
                d = (
                    u.groupBy(*keys)
                    .agg(
                        F.sum("score").alias("_s"),
                        F.count(F.lit(1)).alias("_c"),
                        F.sort_array(
                            F.flatten(F.collect_list("positions"))
                        ).alias("positions"),
                    )
                    .select(
                        *keys,
                        (
                            F.col("_s")
                            * F.col("_c").cast("double")
                            / F.lit(float(total))
                        ).alias("score"),
                        "positions",
                    )
                )
            slot_dfs.append(d)

        # conjunction join, threading positions through
        base = slot_dfs[0].select(
            *keys,
            F.col("score").alias("_score0"),
            F.col("positions").alias("_chain"),
            F.col("positions").alias("_pos0"),
        )
        joined = base
        score_cols = [F.col("_score0")]
        pos_cols = [F.col("_pos0")]
        for i in range(1, len(slot_dfs)):
            gap = self.slots[i][0] - self.slots[i - 1][0]
            nxt = slot_dfs[i].select(
                *keys,
                F.col("score").alias(f"_score{i}"),
                F.col("positions").alias(f"_pos{i}"),
            )
            joined = joined.join(nxt, keys, "inner")
            if self.slop == 0:
                joined = joined.withColumn(
                    "_chain",
                    F.array_intersect(
                        _shift_positions("_chain", gap),
                        F.col(f"_pos{i}"),
                    ),
                )
            score_cols.append(F.col(f"_score{i}"))
            pos_cols.append(F.col(f"_pos{i}"))

        total_score = score_cols[0]
        for c in score_cols[1:]:
            total_score = total_score + c

        if self.slop == 0:
            return (
                joined.where(F.size("_chain") > 0)
                .select(*keys, total_score.alias("score"))
            )

        # slop path over the conjunction-filtered candidates only
        gaps = [
            self.slots[i][0] - self.slots[i - 1][0]
            for i in range(1, len(self.slots))
        ]
        slop = self.slop
        n = len(slot_dfs)
        if n <= _SLOP_NATIVE_MAX_SLOTS:
            pred = _slop_exists_pred(
                [f"_pos{i}" for i in range(n)], gaps, slop
            )
        else:
            pred = _slop_pandas_pred(
                [F.col(f"_pos{i}") for i in range(n)], gaps, slop
            )
        return joined.where(pred).select(
            *keys, total_score.alias("score")
        )


def _shift_positions(col, gap: int):
    """positions + gap (single-arg lambda keeps F.transform unary)."""
    return F.transform(col, lambda x: x + F.lit(int(gap)))


# above this many phrase slots the nested-exists codegen expression gets
# deep; fall back to the Arrow-batched DFS (same semantics)
_SLOP_NATIVE_MAX_SLOTS = 8


def _slop_exists_pred(pos_cols: list[str], gaps: list[int],
                      slop: int) -> Column:
    """Nested native `exists` statement of findPhrasePaths
    (search_phrase.go:439): each level binds the next slot's position,
    requires strict increase, and carries the cumulative slop cost
    forward — identical acceptance set to the recursive DFS because
    costs are non-negative (prefix bound ⇔ final bound + pruning)."""
    n = len(pos_cols)

    def level(i: int, prev: Column, cost: Column) -> Column:
        gap = int(gaps[i - 1])

        def make_inner(i, prev, cost, gap):
            # unary lambda: Spark passes the element INDEX as a 2nd
            # param to multi-arg functions (see skill gotchas)
            def inner(p):
                c = cost + F.abs(p - (prev + F.lit(gap)))
                ok = (p > prev) & (c <= F.lit(int(slop)))
                if i == n - 1:
                    return ok
                return ok & level(i + 1, p, c)

            return inner

        return F.exists(F.col(pos_cols[i]), make_inner(i, prev, cost, gap))

    if n == 1:
        return F.size(F.col(pos_cols[0])) > 0
    return F.exists(
        F.col(pos_cols[0]), lambda p: level(1, p, F.lit(0))
    )


def _slop_pandas_pred(pos_cols: list[Column], gaps: list[int],
                      slop: int) -> Column:
    """Arrow-batched DFS fallback for very long slop phrases: the slot
    position arrays are packed into one array<array<int>> column so the
    UDF stays unary."""
    from pyspark.sql.types import BooleanType

    @F.pandas_udf(BooleanType())
    def _ok(col: pd.Series) -> pd.Series:
        return col.apply(
            lambda arrays: _find_phrase_path(
                [list(a) for a in arrays], gaps, slop
            )
        )

    return _ok(F.array(*pos_cols))


def _find_phrase_path(pos_arrays, gaps, slop) -> bool:
    """DFS over slot positions with a shared slop budget
    (reference findPhrasePaths, search_phrase.go:439)."""

    def rec(slot_i, prev_pos, budget):
        if slot_i == len(pos_arrays):
            return True
        gap = gaps[slot_i - 1] if slot_i > 0 else 0
        for p in pos_arrays[slot_i]:
            if slot_i == 0:
                if rec(1, p, budget):
                    return True
            else:
                want = prev_pos + gap
                cost = abs(p - want)
                if p > prev_pos and cost <= budget:
                    if rec(slot_i + 1, p, budget - cost):
                        return True
        return False

    return rec(0, None, slop)


# ------------------------------------------------------------- resolve --


def _default_field(idx: IndexedTable) -> str:
    # bleve's default search field IS the composite _all
    # (mapping/index.go defaultField); fall back to the first
    # indexed field when no composite exists
    if "_all" in idx.field_analyzers:
        return "_all"
    return next(iter(idx.field_analyzers))


def _auto_fuzziness(term: str) -> int:
    # search/searcher/search_fuzzy.go:26-39
    if len(term) <= 2:
        return 0
    if len(term) <= 5:
        return MAX_FUZZINESS - 1
    return MAX_FUZZINESS


def _wildcard_to_regexp(w: str) -> str:
    out = []
    for ch in w:
        if ch == "*":
            out.append(".*")
        elif ch == "?":
            out.append(".")
        else:
            out.append(re.escape(ch))
    return "".join(out)


def _parse_dt(s: str) -> datetime:
    """Layout-cascading parse (reference analysis/datetime/*):
    ISO/RFC layouts, 'Z', and unix s/ms/µs/ns timestamps."""
    from bleve_spark.analysis.datetimes import parse_datetime

    if s is None:
        return None
    dt = parse_datetime(s)
    if dt is None:
        raise ValueError(f"unparseable datetime: {s!r}")
    return dt


class Compiler:
    def __init__(self, idx: IndexedTable):
        self.idx = idx

    # -- resolution: AST → SNode (dictionary expansions + doc freqs) --

    def resolve(self, q: Q.Query) -> SNode:
        idx = self.idx
        m = getattr(self, "_r_" + type(q).__name__, None)
        if m is None:
            raise NotImplementedError(type(q).__name__)
        return m(q)

    def _field(self, q: Q.Query) -> str:
        return q.field or _default_field(self.idx)

    def _terms(self, field: str, terms: list[str],
               boost: float) -> list[STerm]:
        freqs = self.idx.doc_freq(field, list(dict.fromkeys(terms)))
        return [STerm(field, t, boost, freqs.get(t, 0)) for t in terms]

    def _term_node(self, field: str, term: str, boost: float) -> SNode:
        """Single term, with query-time synonym expansion: term@boost +
        each synonym@boost/2 as a disjunction (the reference's
        NewSynonymSearcher, search_term.go:154-196, keyed from
        FieldTermSynonymMap, search/util.go:252)."""
        syns = self.idx.synonyms_for(field, term)
        if not syns:
            return self._terms(field, [term], boost)[0]
        nodes = self._terms(field, [term, *syns], boost)
        for s in nodes[1:]:
            s.boost = boost / 2.0
        return SDisj(nodes, min=0)

    def _r_TermQuery(self, q: Q.TermQuery) -> SNode:
        f = self._field(q)
        return self._term_node(f, q.term, q.boost)

    def _r_MatchQuery(self, q: Q.MatchQuery) -> SNode:
        f = self._field(q)
        analyzer = get_analyzer(
            q.analyzer or self.idx.field_analyzers.get(f, "standard")
        )
        tokens = [t for t, _ in analyzer.analyze_terms(q.match)]
        if not tokens:
            return SNone()
        if q.fuzziness:
            subs: list[SNode] = [
                self._fuzzy_node(f, t, q.fuzziness, q.prefix_length, q.boost)
                for t in tokens
            ]
        else:
            subs = [self._term_node(f, t, q.boost) for t in tokens]
        if q.operator == "and":
            return SConj(subs)
        return SDisj(subs, min=1)

    def _phrase_alts(self, field: str, term: str, fuzziness,
                     boost: float) -> list[STerm]:
        """Fuzzy alternatives for ONE phrase position: the Levenshtein
        neighbourhood of ``term`` as STerm children carrying the
        1/(1+d) edit-distance boost — the reference builds a
        NewFuzzySearcher per slot with prefix length hardcoded to 0
        (search_phrase.go:69,100-102) and remembers the matched terms
        in its fuzzyTermMatches map; here the matches materialize
        driver-side (bounded by the tooManyClauses guard, like every
        phrase-shaped expansion must — the position machinery needs
        concrete slot terms)."""
        d = (
            _auto_fuzziness(term)
            if fuzziness in ("auto", "Auto", "AUTO")
            else int(fuzziness)
        )
        if d > MAX_FUZZINESS:
            raise ValueError(f"fuzziness {d} > max {MAX_FUZZINESS}")
        if d == 0:
            return self._terms(field, [term], boost)
        matches = self.idx.fuzzy_terms(field, term, d)
        if matches is None:
            pred = F.levenshtein(F.col("term"), F.lit(term)) <= d
            matches = sorted(
                (r["term"], int(r["doc_freq"]),
                 _levenshtein(term, r["term"]))
                for r in self.idx.expand_terms_df(field, pred).collect()
            )
        _check_clauses(field, len(matches))
        return [
            STerm(field, t, boost, n, boost_multiplier=1.0 / (dist + 1.0))
            for t, n, dist in matches
        ]

    def _r_MatchPhraseQuery(self, q: Q.MatchPhraseQuery) -> SNode:
        f = self._field(q)
        analyzer = get_analyzer(
            q.analyzer or self.idx.field_analyzers.get(f, "standard")
        )
        pairs = analyzer.analyze_terms(q.match_phrase)
        if not pairs:
            return SNone()
        if q.fuzziness:
            slots = []
            for t, p in pairs:
                alts = self._phrase_alts(f, t, q.fuzziness, q.boost)
                if not alts:
                    return SNone()  # a slot with no matches kills the phrase
                slots.append((p, alts))
            return SPhrase(slots, slop=q.slop)
        terms = [t for t, _ in pairs]
        sterm = {
            s.term: s for s in self._terms(f, terms, q.boost)
        }
        slots = [(p, [sterm[t]]) for t, p in pairs]
        return SPhrase(slots, slop=q.slop)

    def _r_PhraseQuery(self, q: Q.PhraseQuery) -> SNode:
        f = self._field(q)
        if not q.terms:
            return SNone()
        if q.fuzziness:
            slots = []
            for i, t in enumerate(q.terms):
                alts = self._phrase_alts(f, t, q.fuzziness, q.boost)
                if not alts:
                    return SNone()
                slots.append((i + 1, alts))
            return SPhrase(slots, slop=q.slop)
        sterms = self._terms(f, q.terms, q.boost)
        slots = [(i + 1, [s]) for i, s in enumerate(sterms)]
        return SPhrase(slots, slop=q.slop)

    def _r_MultiPhraseQuery(self, q: Q.MultiPhraseQuery) -> SNode:
        f = self._field(q)
        if q.fuzziness:
            slots = []
            for i, alts_in in enumerate(q.terms):
                # overlapping Levenshtein neighbourhoods of different
                # alternatives (e.g. 'cat' and 'cab' at fuzziness 1)
                # must collapse to ONE STerm per term — duplicates
                # would union the term's postings twice, inflating the
                # slot's score sum and coord denominator. Keep the
                # smallest edit distance (largest 1/(1+d) boost),
                # matching single-expansion scoring.
                best: dict[str, STerm] = {}
                for t in alts_in:
                    for s in self._phrase_alts(f, t, q.fuzziness,
                                               q.boost):
                        prev = best.get(s.term)
                        if (prev is None
                                or s.boost_multiplier
                                > prev.boost_multiplier):
                            best[s.term] = s
                if not best:
                    return SNone()
                slots.append((i + 1, list(best.values())))
            return SPhrase(slots, slop=q.slop)
        flat = [t for alts in q.terms for t in alts]
        freqs = self.idx.doc_freq(f, list(dict.fromkeys(flat)))
        slots = []
        for i, alts in enumerate(q.terms):
            slots.append(
                (
                    i + 1,
                    [STerm(f, t, q.boost, freqs.get(t, 0)) for t in alts],
                )
            )
        return SPhrase(slots, slop=q.slop)

    def _expansion_node(
        self,
        field: str,
        pred,
        py_pred,
        boost: float,
        mult_col=None,
        matches=None,
    ) -> SNode:
        """Dictionary-expansion disjunction with two physical paths:

        * cached dictionary resident → driver-side expansion to STerm
          children (zero extra jobs; the r01-verified plan) — by
          ``py_pred``, or the caller's resident ``matches``
          ((term, doc_freq, mult) triples);
        * otherwise → :class:`SDictDisj`, a fully distributed
          dictionary→postings join with the tooManyClauses guard on a
          1-row count (never collects the expansion).
        Both paths produce identical scores (min=0 disjunction, coord,
        per-term mult)."""
        if matches is None:
            tf = self.idx.expand_terms(
                field, pred, with_freq=True, py_pred=py_pred
            )
            if tf is not None:
                matches = [(t, n, 1.0) for t, n in tf]
        if matches is not None:
            _check_clauses(field, len(matches))
            if not matches:
                return SNone()
            children = [
                STerm(field, t, boost, n, boost_multiplier=mult)
                for t, n, mult in matches
            ]
            return SDisj(children, min=0)
        exp = self.idx.expand_terms_df(field, pred).withColumn(
            "mult",
            mult_col if mult_col is not None else F.lit(1.0),
        )
        return SDictDisj(field, exp, boost)

    def _fuzzy_node(self, field: str, term: str, fuzziness,
                    prefix_len: int, boost: float) -> SNode:
        d = (
            _auto_fuzziness(term)
            if fuzziness in ("auto", "Auto", "AUTO")
            else int(fuzziness)
        )
        if d > MAX_FUZZINESS:
            raise ValueError(f"fuzziness {d} > max {MAX_FUZZINESS}")
        if d == 0:
            return self._terms(field, [term], boost)[0]
        # edit-distance boost 1/(1+d) (search_fuzzy.go:45-48)
        matches = self.idx.fuzzy_terms(field, term, d, term[:prefix_len])
        if matches is not None:
            return self._expansion_node(
                field, None, None, boost, matches=[
                    (t, n, 1.0 / (dist + 1.0)) for t, n, dist in matches])
        pred = F.levenshtein(F.col("term"), F.lit(term)) <= d
        if prefix_len > 0:
            pred = pred & F.col("term").startswith(term[:prefix_len])
        return self._expansion_node(
            field, pred, None, boost,
            mult_col=F.lit(1.0)
            / (F.levenshtein(F.col("term"), F.lit(term)).cast("double")
               + F.lit(1.0)),
        )

    def _r_FuzzyQuery(self, q: Q.FuzzyQuery) -> SNode:
        return self._fuzzy_node(
            self._field(q), q.term, q.fuzziness, q.prefix_length, q.boost
        )

    def _r_PrefixQuery(self, q: Q.PrefixQuery) -> SNode:
        f = self._field(q)
        matches = self.idx.prefix_terms(f, q.prefix)
        if matches is not None:
            return self._expansion_node(f, None, None, q.boost, matches=[
                (t, n, 1.0) for t, n in matches])
        return self._expansion_node(
            f, F.col("term").startswith(q.prefix), None, q.boost)

    def _r_RegexpQuery(self, q: Q.RegexpQuery) -> SNode:
        f = self._field(q)
        # dictionary automaton matches the WHOLE term — anchor it.
        # No py_pred: user regexps are Java-dialect, so this always
        # stays on the JVM rlike path (distributed when uncached).
        return self._expansion_node(
            f, F.col("term").rlike(f"^(?:{q.regexp})$"), None, q.boost
        )

    def _r_WildcardQuery(self, q: Q.WildcardQuery) -> SNode:
        f = self._field(q)
        rx = _wildcard_to_regexp(q.wildcard)
        # wildcard-translated patterns use only `.`/`.*`/escaped
        # literals — identical in Java and Python regex dialects, so
        # the cached-dictionary path is safe (user regexps are NOT:
        # they stay on the JVM rlike path)
        crx = re.compile(rx)
        return self._expansion_node(
            f, F.col("term").rlike(f"^(?:{rx})$"),
            lambda t, crx=crx: crx.fullmatch(t) is not None, q.boost,
        )

    def _r_TermRangeQuery(self, q: Q.TermRangeQuery) -> SNode:
        f = self._field(q)
        pred = F.lit(True)
        if q.min is not None:
            pred = pred & (
                F.col("term") >= q.min
                if q.inclusive_min
                else F.col("term") > q.min
            )
        if q.max is not None:
            pred = pred & (
                F.col("term") <= q.max
                if q.inclusive_max
                else F.col("term") < q.max
            )

        def py_pred(t, q=q):
            if q.min is not None:
                if t < q.min if q.inclusive_min else t <= q.min:
                    return False
            if q.max is not None:
                if t > q.max if q.inclusive_max else t >= q.max:
                    return False
            return True

        return self._expansion_node(f, pred, py_pred, q.boost)

    def _r_NumericRangeQuery(self, q: Q.NumericRangeQuery) -> SNode:
        f = self._field(q)

        def df_fn(ctx, q=q, f=f):
            from pyspark.sql import types as T

            src = ctx.idx.source

            def elem_pred(c):
                pred = F.lit(True)
                if q.min is not None:
                    pred = pred & (
                        c >= q.min if q.inclusive_min else c > q.min
                    )
                if q.max is not None:
                    pred = pred & (
                        c <= q.max if q.inclusive_max else c < q.max
                    )
                return pred

            if f not in src.columns:
                # numeric range over a DYNAMIC MapType value (r5):
                # "attrs.price" resolves to try_element_at(attrs,
                # 'price') — a native, pushable expression; the
                # reference treats dynamic numerics as first-class
                # trie fields (mapping/document.go:425 walk →
                # processFloat64). try_* keeps ANSI mode from
                # throwing on absent keys / non-numeric values.
                dmf = getattr(ctx.idx, "dynamic_map_fields",
                              None) or {}
                for path in dmf:
                    if f.startswith(path + "."):
                        c = F.try_element_at(
                            qcol(path), F.lit(f[len(path) + 1:])
                        ).try_cast("double")
                        return src.where(elem_pred(c))
            try:
                is_arr = isinstance(
                    src.schema[f].dataType, T.ArrayType
                )
            except KeyError:
                is_arr = False
            if is_arr:
                # numeric ARRAY field: bleve emits one numeric field
                # instance per element — a range matches if ANY
                # element satisfies it. Native EXISTS, codegen-able.
                return src.where(F.exists(qcol(f), elem_pred))
            return src.where(elem_pred(qcol(f)))

        return SConst(df_fn, q.boost, self._field(q))

    def _geo_cols(self, q) -> tuple[str, str]:
        f = self._field(q)
        return (q.lat_col or f"{f}_lat", q.lon_col or f"{f}_lon")

    def _r_GeoDistanceQuery(self, q: Q.GeoDistanceQuery) -> SNode:
        from bleve_spark.search.geo import distance_pred, parse_distance

        lat_c, lon_c = self._geo_cols(q)
        meters = parse_distance(q.distance)

        def df_fn(ctx, q=q, lat_c=lat_c, lon_c=lon_c, meters=meters):
            return ctx.idx.source.where(
                distance_pred(
                    F.col(lat_c), F.col(lon_c), q.lat, q.lon, meters
                )
            )

        return SConst(df_fn, q.boost, self._field(q))

    def _r_GeoBoundingBoxQuery(self, q: Q.GeoBoundingBoxQuery) -> SNode:
        from bleve_spark.search.geo import bbox_pred

        lat_c, lon_c = self._geo_cols(q)

        def df_fn(ctx, q=q, lat_c=lat_c, lon_c=lon_c):
            return ctx.idx.source.where(
                bbox_pred(
                    F.col(lat_c), F.col(lon_c),
                    q.top_left_lon, q.top_left_lat,
                    q.bottom_right_lon, q.bottom_right_lat,
                )
            )

        return SConst(df_fn, q.boost, self._field(q))

    def _r_GeoPolygonQuery(self, q: Q.GeoPolygonQuery) -> SNode:
        from bleve_spark.search.geo import polygon_pred

        lat_c, lon_c = self._geo_cols(q)

        def df_fn(ctx, q=q, lat_c=lat_c, lon_c=lon_c):
            return ctx.idx.source.where(
                polygon_pred(F.col(lat_c), F.col(lon_c), q.points)
            )

        return SConst(df_fn, q.boost, self._field(q))

    def _r_GeoShapeQuery(self, q: Q.GeoShapeQuery) -> SNode:
        from bleve_spark.search.geo import shape_relation_pred

        f = self._field(q)
        kind_c = q.kind_col or f"{f}_kind"
        coords_c = q.coords_col or f"{f}_coords"

        def df_fn(ctx, q=q, f=f, kind_c=kind_c, coords_c=coords_c):
            from bleve_spark.search.geobbox import (
                flat_bbox_cols_if_present,
                parts_bbox_cols_if_present,
            )

            src = ctx.idx.source
            parts_c = f"{f}_parts"
            if (
                parts_c not in src.columns
                and f"{f}_kind" not in src.columns
            ):
                # field resolves to a composite (bleve's default _all)
                # or names no geoshape column: bleve's _all carries
                # the s2 cell terms of every include_in_all geoshape
                # member (document/field_geoshape.go +
                # field_composite.go), so the relation matches if ANY
                # member field matches — member-wise OR here
                from bleve_spark.search.geoshape import (
                    parts_relation_pred,
                )

                planned = getattr(ctx.idx, "planned_fields", None)
                pred = None
                for c in src.columns:
                    if not c.endswith("_parts"):
                        continue
                    base = c[: -len("_parts")]
                    if (
                        planned is not None
                        and base in planned
                        and not planned[base].include_in_all
                    ):
                        continue
                    one = parts_relation_pred(
                        F.col(c), q.shape, q.relation,
                        bbox_cols=parts_bbox_cols_if_present(src, c),
                    )
                    pred = one if pred is None else (pred | one)
                if pred is not None:
                    return src.where(pred)
            if parts_c in src.columns:
                # PARTS-model field (the mapping layer's geoshape
                # type): full GeoJSON kinds incl. circle/multi*/
                # collections, with the materialized parts bbox
                # pre-filter
                from bleve_spark.search.geoshape import (
                    parts_relation_pred,
                )

                return src.where(
                    parts_relation_pred(
                        F.col(parts_c), q.shape, q.relation,
                        bbox_cols=parts_bbox_cols_if_present(
                            src, parts_c
                        ),
                    )
                )
            # materialized <field>_bbox_* columns (written at index
            # time) give parquet row-group pruning; otherwise the bbox
            # pre-filter is computed inline (still short-circuits the
            # exact geometry per row). (r7 measured: widening the
            # bbox survivors before the Arrow kernel does NOT pay —
            # the kernel is cheap per row, and the nondeterministic
            # marking the rebalance needs blocks TakeOrderedAndProject,
            # forcing a global sort. Deliberately left single-pred.)
            bbox = flat_bbox_cols_if_present(src, f)
            return src.where(
                shape_relation_pred(
                    F.col(kind_c), F.col(coords_c), q.shape, q.relation,
                    bbox_cols=bbox,
                )
            )

        return SConst(df_fn, q.boost, self._field(q))

    def _r_CustomScoreQuery(self, q: Q.CustomScoreQuery) -> SNode:
        sub = self.resolve(q.sub)
        fn = q.score_fn

        class SCustom(SNode):
            def weight(self, ctx):
                return sub.weight(ctx)

            def fields_used(self):
                return sub.fields_used()

            def compile(self, ctx):
                df = sub.compile(ctx)
                return df.withColumn("score", fn(F.col("score")))

            def docs(self, ctx):
                return sub.docs(ctx)

        return SCustom()

    def _r_IpRangeQuery(self, q: Q.IpRangeQuery) -> SNode:
        """CIDR containment (search/query/ip_range.go:57, search/
        searcher/search_ip_range.go:43): the reference expands the CIDR
        over byte terms; with a native column the containment is just
        an integer range predicate (constant-scored). IPv4 stays
        all-native arithmetic; IPv6 (128-bit) normalizes doc IPs to a
        fixed 32-hex string via an Arrow-batched pandas UDF and
        compares lexicographically against the network bounds —
        matching net.Contains over the full 16-byte space."""
        import ipaddress

        f = self._field(q)
        net = ipaddress.ip_network(q.cidr, strict=False)
        lo, hi = int(net.network_address), int(net.broadcast_address)

        if net.version == 6:
            lo_hex = f"{lo:032x}"
            hi_hex = f"{hi:032x}"

            from pyspark.sql.functions import pandas_udf

            @pandas_udf("string")
            def ip6_hex(col: pd.Series) -> pd.Series:
                def norm(s):
                    try:
                        ip = ipaddress.ip_address(s)
                    except (ValueError, TypeError):
                        return None
                    if ip.version == 4:
                        # the reference stores every IP as its 16-byte
                        # form (ip.To16()): v4 docs live at
                        # ::ffff:a.b.c.d and can match a v6 CIDR
                        ip = ipaddress.IPv6Address(
                            "::ffff:" + str(ip)
                        )
                    return f"{int(ip):032x}"

                return col.map(norm)

            def df_fn6(ctx, f=f, lo_hex=lo_hex, hi_hex=hi_hex):
                h = ip6_hex(F.col(f))
                return ctx.idx.source.where(
                    h.isNotNull() & h.between(lo_hex, hi_hex)
                )

            return SConst(df_fn6, q.boost, self._field(q))

        def df_fn(ctx, f=f, lo=lo, hi=hi):
            o = F.split(F.col(f), r"\.")
            as_int = (
                o.getItem(0).cast("long") * 16777216
                + o.getItem(1).cast("long") * 65536
                + o.getItem(2).cast("long") * 256
                + o.getItem(3).cast("long")
            )
            return ctx.idx.source.where(as_int.between(lo, hi))

        return SConst(df_fn, q.boost, self._field(q))

    def _r_DateRangeQuery(self, q: Q.DateRangeQuery) -> SNode:
        f = self._field(q)
        start = _parse_dt(q.start)
        end = _parse_dt(q.end)

        def df_fn(ctx, q=q, f=f, start=start, end=end):
            from pyspark.sql import types as T

            src = ctx.idx.source

            def elem_pred(c):
                pred = F.lit(True)
                if start is not None:
                    pred = pred & (
                        c >= start if q.inclusive_start else c > start
                    )
                if end is not None:
                    pred = pred & (
                        c <= end if q.inclusive_end else c < end
                    )
                return pred

            try:
                is_arr = isinstance(
                    src.schema[f].dataType, T.ArrayType
                )
            except KeyError:
                is_arr = False
            if is_arr:
                # datetime ARRAY field: one instance per element
                return src.where(F.exists(qcol(f), elem_pred))
            return src.where(elem_pred(qcol(f)))

        return SConst(df_fn, q.boost, self._field(q))

    def _r_BoolFieldQuery(self, q: Q.BoolFieldQuery) -> SNode:
        f = self._field(q)
        from pyspark.sql import types as T

        try:
            dt = self.idx.source.schema[f].dataType
        except KeyError:
            dt = None
        if isinstance(dt, T.ArrayType):
            # boolean ARRAY: matches when any element equals the
            # queried value (one instance per element); constant-
            # scored native EXISTS — arrays carry no T/F postings
            want = bool(q.bool_value)

            def df_fn(ctx, f=f, want=want):
                return ctx.idx.source.where(
                    F.exists(qcol(f), lambda x: x == F.lit(want))
                )

            return SConst(df_fn, q.boost, f)
        term = "T" if q.bool_value else "F"
        return self._terms(f, [term], q.boost)[0]

    def _r_DocIDQuery(self, q: Q.DocIDQuery) -> SNode:
        ids = list(q.ids)

        def df_fn(ctx, ids=ids):
            return ctx.idx.source.where(
                ctx.idx.doc_id_col().isin(ids)
            )

        return SConst(df_fn, q.boost)

    def _r_MatchAllQuery(self, q: Q.MatchAllQuery) -> SNode:
        return SConst(lambda ctx: ctx.idx.source, q.boost)

    def _r_MatchNoneQuery(self, q: Q.MatchNoneQuery) -> SNode:
        return SNone()

    def _r_ConjunctionQuery(self, q: Q.ConjunctionQuery) -> SNode:
        return SConj([self.resolve(c) for c in q.conjuncts])

    def _r_DisjunctionQuery(self, q: Q.DisjunctionQuery) -> SNode:
        return SDisj(
            [self.resolve(c) for c in q.disjuncts], min=int(q.min)
        )

    def _r_BooleanQuery(self, q: Q.BooleanQuery) -> SNode:
        must = self.resolve(q.must) if q.must else None
        should = None
        if q.should is not None:
            sq = q.should
            if isinstance(sq, Q.DisjunctionQuery):
                mn = int(sq.min or q.min_should)
                should = SDisj(
                    [self.resolve(c) for c in sq.disjuncts], min=mn
                )
            else:
                should = SDisj([self.resolve(sq)], min=int(q.min_should))
        must_not = self.resolve(q.must_not) if q.must_not else None
        filt = self.resolve(q.filter) if q.filter else None
        # pruning mirrors boolean.go:222-256: filter-only and
        # mustNot-only queries start from a MatchAll must (the
        # reference wraps NewMatchAllSearcher in both cases)
        if must is None and should is None and (
            filt is not None or must_not is not None
        ):
            must = SConst(lambda ctx: ctx.idx.source, 1.0)
        if (
            must is None and should is None and must_not is None
            and filt is None
        ):
            return SNone()
        return SBool(must=must, should=should, must_not=must_not,
                     filter=filt)

    def _r_QueryStringQuery(self, q: Q.QueryStringQuery) -> SNode:
        from bleve_spark.search.query_string import parse_query_string

        return self.resolve(parse_query_string(q.query))


def _levenshtein(a: str, b: str) -> int:
    if a == b:
        return 0
    la, lb = len(a), len(b)
    if la == 0:
        return lb
    if lb == 0:
        return la
    prev = list(range(lb + 1))
    for i in range(1, la + 1):
        cur = [i] + [0] * lb
        ca = a[i - 1]
        for j in range(1, lb + 1):
            cur[j] = min(
                prev[j] + 1,
                cur[j - 1] + 1,
                prev[j - 1] + (ca != b[j - 1]),
            )
        prev = cur
    return prev[lb]


_COMPOSITE = (SConj, SDisj, SDictDisj, SBool, SPhrase)


def _resolve(idx: IndexedTable, q: Q.Query | dict) -> tuple[SNode, _Ctx]:
    """Query → resolved SNode tree plus its context, root queryNorm set."""
    if isinstance(q, dict):
        q = Q.parse_query(q)
    node = Compiler(idx).resolve(q)
    ctx = _Ctx(idx)
    if isinstance(node, _COMPOSITE):
        w = node.weight(ctx)
        ctx.qn = 1.0 / math.sqrt(w) if w > 0 else 1.0
    return node, ctx


def compile_query(idx: IndexedTable, q: Q.Query | dict) -> DataFrame:
    """Query → DataFrame(keys..., score). On a small persisted index
    the query is scored on the driver (search.resident) and the frame
    is a driver-local frame of every match (``session.LocalFrame``),
    built into a JVM relation only if a JVM operation needs it."""
    from bleve_spark.search import resident

    node, ctx = _resolve(idx, q)
    hits = resident.evaluate(idx, node, ctx)
    if hits is not None:
        return hits.frame(idx.spark)
    return _compile_resolved(node, ctx)


def _compile_resolved(node: SNode, ctx: _Ctx) -> DataFrame:
    out = node.compile(ctx)
    if ctx.nested:
        # fold child-doc matches into their ROOT document, summing
        # scores — the collector's descAdder (collector/topn.go:145:
        # parent.Score += child.Score); hits are always roots
        rk = ctx.root_keys
        out = (
            out.groupBy(*rk)
            .agg(F.sum("score").alias("score"))
            .select(
                *rk, F.lit("").alias("_nested_ctx"), "score"
            )
            .select(*ctx.keys, "score")
        )
    return out


def search_df(
    idx: IndexedTable,
    q: Q.Query | dict,
    size: int = 10,
    from_: int = 0,
    sort: list[str] | None = None,
    search_after: list | None = None,
    search_before: list | None = None,
    precompiled: DataFrame | None = None,
) -> DataFrame:
    """Top-k hits: ORDER BY ... LIMIT from+size — Catalyst's
    TakeOrderedAndProject is the reference's TopNCollector
    (/root/reference/search/collector/topn.go:95).

    ``sort`` entries mirror the reference's sort-order strings
    (/root/reference/search/sort.go:52-120): ``"field"``, ``"-field"``
    (descending), ``"_score"`` / ``"-_score"``, ``"_id"`` / ``"-_id"``.
    A dict entry ``{"by": "geo_distance", "field": f, "location":
    {"lon", "lat"}, "unit": "km", "desc": False}`` sorts by haversine
    distance from the location (SortGeoDistance, sort.go:625-700); the
    computed distance is exposed as a ``geo_distance`` output column.
    Default ["-_score"] with the implicit HitNumber tie-break =
    ascending key order (/root/reference/search/sort.go:269-275).
    Field sorts read native columns — Spark's columnar source IS the
    reference's docvalues, no uninverting needed.

    ``precompiled`` lets a caller that already compiled (and possibly
    persisted) the query's scored frame reuse it — e.g. to share one
    postings scan between the page and the true-total count.

    A score-sorted page of a query answered on the driver
    (search.resident) is cut there too: the result is a driver-local
    frame of ``from_ + size`` rows, and collecting it starts no Spark
    job and makes no py4j call."""
    from bleve_spark.search import resident

    if precompiled is not None:
        scored, hits = precompiled, resident.hits_of(precompiled)
    else:
        node, ctx = _resolve(idx, q)
        hits = resident.evaluate(idx, node, ctx)
        scored = None if hits is not None else _compile_resolved(node, ctx)
    if hits is not None:
        if (sort in (None, [], ["-_score"]) and search_after is None
                and search_before is None):
            return hits.frame(idx.spark, from_ + size)
        if scored is None:
            scored = hits.frame(idx.spark)
    sort = sort or ["-_score"]
    # normalize every entry to (kind, field, desc, missing, mode)
    # following the reference's sort-spec JSON (sort.go:52-120):
    # strings "field"/"-field"/"_score"/"_id", or dicts {"by":
    # field|id|score|geo_distance, "field", "desc", "missing":
    # first|last (default LAST — sort.go places missing values at the
    # end in both directions), "mode": min|max for array fields}
    norm_specs = []
    geo_cols: dict[int, Column] = {}
    need_fields: list[str] = []
    for i, s in enumerate(sort):
        if isinstance(s, dict):
            by = s.get("by", "field")
            if by == "geo_distance":
                from bleve_spark.search.geo import (
                    distance_unit_mult,
                    haversine_km_col,
                    parse_geopoint,
                )

                fld = s["field"]
                lat_c = s.get("lat_col") or f"{fld}_lat"
                lon_c = s.get("lon_col") or f"{fld}_lon"
                need_fields += [c for c in (lat_c, lon_c)
                                if c not in need_fields]
                mult = 1000.0 / distance_unit_mult(s.get("unit", "m"))
                s_lon, s_lat = parse_geopoint(s["location"])
                geo_cols[i] = haversine_km_col(
                    F.col(lat_c), F.col(lon_c), s_lat, s_lon
                ) * F.lit(mult)
                norm_specs.append(
                    ("geo", None, bool(s.get("desc", False)), "last",
                     None)
                )
                continue
            if by == "id":
                norm_specs.append(
                    ("id", None, bool(s.get("desc", False)), "last",
                     None)
                )
                continue
            if by == "score":
                norm_specs.append(
                    ("score", None, bool(s.get("desc", True)), "last",
                     None)
                )
                continue
            fld = s["field"]
            if fld not in idx.key_cols and fld not in need_fields:
                need_fields.append(fld)
            norm_specs.append(
                ("field", fld, bool(s.get("desc", False)),
                 s.get("missing", "last"), s.get("mode"))
            )
        else:
            desc = s.startswith("-")
            name = s.lstrip("-")
            if name == "_score":
                norm_specs.append(("score", None, desc, "last", None))
            elif name == "_id":
                norm_specs.append(("id", None, desc, "last", None))
            else:
                if name not in idx.key_cols and name not in need_fields:
                    need_fields.append(name)
                norm_specs.append(("field", name, desc, "last", None))
    if need_fields:
        dmf = getattr(idx, "dynamic_map_fields", None) or {}
        sel = []
        for nmf in need_fields:
            expr = None
            if nmf not in idx.source.columns:
                # sort over a DYNAMIC MapType value (r5):
                # "attrs.price" → try_element_at(attrs, 'price'),
                # native and null-safe for absent keys
                for path in dmf:
                    if nmf.startswith(path + "."):
                        expr = F.try_element_at(
                            qcol(path), F.lit(nmf[len(path) + 1:])
                        )
                        break
            sel.append(
                (qcol(nmf) if expr is None else expr).alias(nmf)
            )
        scored = scored.join(
            idx.source.select(*idx.key_cols, *sel),
            idx.key_cols,
            "inner",
        )
    order = []
    specs = []  # (Column, desc, missing) incl. implicit key tie-break
    for i, (kind, fld, desc, missing, mode) in enumerate(norm_specs):
        if kind == "geo":
            scored = scored.withColumn("geo_distance", geo_cols[i])
            col = F.col("geo_distance")
        elif kind == "score":
            col = F.col("score")
        elif kind == "id":
            col = idx.doc_id_col()
        else:
            col = qcol(fld)
            if mode == "min":
                col = F.array_min(col)
            elif mode == "max":
                col = F.array_max(col)
        if missing == "first":
            order.append(
                col.desc_nulls_first() if desc else col.asc_nulls_first()
            )
        else:
            order.append(
                col.desc_nulls_last() if desc else col.asc_nulls_last()
            )
        specs.append((col, desc, missing))
    for k in idx.key_cols:
        order.append(F.col(k).asc())
        specs.append((F.col(k), False, "last"))

    def _cursor_pred(cursor, flip: bool):
        # cursor semantics (topn.go:103-128): keep rows strictly AFTER
        # the cursor in sort order — lexicographic comparison over the
        # sort tuple; flip=True compares in the REVERSED order
        # (search_before). Missing (null) values rank per the spec's
        # `missing` placement: with missing-last, a null row is after
        # every non-null cursor; reversing the traversal also reverses
        # the null rank.
        n = min(len(cursor), len(specs))
        pred = F.lit(False)
        for i in range(n - 1, -1, -1):
            col, desc, missing = specs[i]
            nulls_last = missing != "first"
            if flip:
                desc = not desc
                nulls_last = not nulls_last
            cur = F.lit(cursor[i])
            strictly = col < cur if desc else col > cur
            if nulls_last:
                strictly = strictly | col.isNull()
            pred = strictly | ((col == cur) & pred)
        return pred

    if search_after is not None:
        scored = scored.where(_cursor_pred(search_after, False))
    elif search_before is not None:
        # the reference pages backwards by flipping sort + search_after
        # (index_alias_impl.go:721-724,1016-1020): take the size rows
        # preceding the cursor, then present them in the original order
        scored = scored.where(_cursor_pred(search_before, True))
        rev = []
        for c, d, missing in specs:
            # reversed traversal: flip direction AND null placement
            if missing != "first":  # missing-last → first when reversed
                rev.append(c.asc_nulls_first() if d
                           else c.desc_nulls_first())
            else:
                rev.append(c.asc_nulls_last() if d
                           else c.desc_nulls_last())
        page = scored.orderBy(*rev).limit(from_ + size)
        return page.orderBy(*order)

    return scored.orderBy(*order).limit(from_ + size)


def search(
    idx: IndexedTable,
    q: Q.Query | dict,
    size: int = 10,
    from_: int = 0,
    facets: dict | None = None,
    highlight_field: str | None = None,
    explain: bool = False,
    fields: list[str] | None = None,
    include_locations: bool = False,
    score: str | None = None,
) -> dict:
    """Full SearchResult: hits + total + max_score (+facets/highlights/
    explanations/stored fields/term locations), assembled like
    indexImpl.SearchInContext (/root/reference/index_impl.go:1039-1049).

    ``fields`` = stored source columns returned per hit ("*" for all,
    SearchRequest.Fields); ``include_locations`` attaches per-term
    {pos, start, end} occurrences for the query's terms
    (SearchRequest.IncludeLocations); ``score="none"`` skips scoring —
    hits come back in index natural order with score 0
    (search.go req.Score == "none")."""
    from bleve_spark.search.resident import hits_of

    scored = compile_query(idx, q)
    hits_r = hits_of(scored) if score != "none" else None
    if hits_r is None:
        scored = scored.persist()
    try:
        if hits_r is not None:
            # answered on the driver: total, max and the page need no job
            total = len(hits_r.score)
            max_score = float(hits_r.score.max()) if total else None
            rows = hits_r.frame(idx.spark, from_ + size).collect()
        else:
            agg = scored.agg(
                F.count(F.lit(1)).alias("total"),
                F.max("score").alias("max_score"),
            ).collect()[0]
            total, max_score = int(agg["total"]), agg["max_score"]
            if score == "none":
                max_score = 0.0
                order = [F.col(k).asc() for k in idx.key_cols]
            else:
                order = [F.col("score").desc()] + [
                    F.col(k).asc() for k in idx.key_cols
                ]
            rows = scored.orderBy(*order).limit(from_ + size).collect()
        rows = rows[from_:]
        hits = [
            {
                # root hits on nested indexes carry an EMPTY
                # _nested_ctx segment — skip it, like doc_id_col()
                "id": ":".join(
                    str(r[k]) for k in idx.key_cols
                    if not (k == "_nested_ctx" and not r[k])
                ),
                "score": 0.0 if score == "none" else float(r["score"]),
            }
            for r in rows
        ]
        if fields and rows:
            want = (
                [c for c in idx.source.columns]
                if fields == ["*"] or fields == "*"
                else [c for c in fields if c in idx.source.columns]
            )
            # honor per-field store flags: a field whose mapping says
            # store=false (or whose store was dropped by a live mapping
            # update) is not retrievable — the reference only returns
            # stored fields (index_impl.go LoadAndHighlightFields reads
            # the stored-document section; apply_index_update's
            # store-drop removes stored data)
            planned = getattr(idx, "planned_fields", None)
            if planned:
                want = [
                    c for c in want
                    if c not in planned or planned[c].store
                ]
            key_tuples = [
                tuple(r[k] for k in idx.key_cols) for r in rows
            ]
            pred = None
            for kt in key_tuples:
                one = F.lit(True)
                for kcol, kval in zip(idx.key_cols, kt):
                    one = one & (F.col(kcol) == F.lit(kval))
                pred = one if pred is None else (pred | one)
            fetched = {
                tuple(fr[k] for k in idx.key_cols): fr
                for fr in idx.source.where(pred)
                .select(*[qcol(c) for c in (*idx.key_cols, *want)])
                .collect()
            }
            for h, kt in zip(hits, key_tuples):
                fr = fetched.get(kt)
                h["fields"] = (
                    {c: fr[c] for c in want} if fr is not None else {}
                )
        if include_locations and rows:
            from bleve_spark.search.highlight import _query_terms

            qq = Q.parse_query(q) if isinstance(q, dict) else q
            qf = getattr(qq, "field", None) or _default_field(idx)
            # a COMPOSITE query field (`_all`) has no source column:
            # locations come from its member fields, each analyzed
            # with its own analyzer (the reference records locations
            # per underlying field — field_composite.go Compose keeps
            # member field names)
            comp = getattr(idx, "composite_fields", None) or {}
            if qf in idx.source.columns:
                loc_fields = [qf]
            else:
                loc_fields = [
                    f for f in comp.get(qf, [])
                    if f in idx.source.columns
                ]
            terms = _query_terms(idx, qq, qf)
            key_tuples = [
                tuple(r[k] for k in idx.key_cols) for r in rows
            ]
            if loc_fields and terms:
                pred = None
                for kt in key_tuples:
                    one = F.lit(True)
                    for kcol, kval in zip(idx.key_cols, kt):
                        one = one & (F.col(kcol) == F.lit(kval))
                    pred = one if pred is None else (pred | one)
                texts = {
                    tuple(tr[k] for k in idx.key_cols): tr
                    for tr in idx.source.where(pred)
                    .select(*[qcol(c) for c in
                              (*idx.key_cols, *loc_fields)])
                    .collect()
                }
            else:
                texts = {}
            for h, kt in zip(hits, key_tuples):
                by_field: dict = {}
                tr = texts.get(kt)
                if tr is not None:
                    for lf in loc_fields:
                        an = get_analyzer(
                            idx.field_analyzers.get(lf, "standard")
                        )
                        text = tr[lf]
                        if text is None:
                            continue
                        vals = (
                            text if isinstance(text, list) else [text]
                        )
                        locs: dict = {}
                        for v in vals:
                            for t in an.analyze(str(v)):
                                if t.term in terms:
                                    locs.setdefault(t.term, []).append(
                                        {"pos": t.pos,
                                         "start": t.start,
                                         "end": t.end}
                                    )
                        if locs:
                            by_field[lf] = locs
                h["locations"] = by_field
        if explain and rows:
            from bleve_spark.search.explain import explain_hits

            keys = [tuple(r[k] for k in idx.key_cols) for r in rows]
            for h, e in zip(hits, explain_hits(idx, q, keys)):
                h["explanation"] = e
        result = {
            "total_hits": total,
            "max_score": float(max_score) if max_score is not None else 0.0,
            "hits": hits,
        }
        if facets:
            from bleve_spark.search.facets import compute_facets

            result["facets"] = compute_facets(idx, scored, facets)
        if highlight_field and hits:
            # one field name or a list — SearchRequest.Highlight.Fields
            # highlights each requested field (search.go HighlightRequest)
            from bleve_spark.search.highlight import highlight_hits

            hl_fields = (
                [highlight_field] if isinstance(highlight_field, str)
                else list(highlight_field)
            )
            for hf in hl_fields:
                result["hits"] = highlight_hits(
                    idx, q, result["hits"], hf
                )
        return result
    finally:
        scored.unpersist()
