"""The index-then-serve pipeline every workload runs.

One run: start the session and generate the seeded corpus (set-up),
ingest it into at-rest segments, one per source batch, plus an
in-memory index (timed), check the segments against the oracle, then
serve a seeded query log from a closed loop of client threads (timed)
and check every answer. The traced run also merges the segments into
one and checks the merge. Workloads differ in corpus size and in how
many source batches the turns arrive in."""

from __future__ import annotations

import os
import statistics
import threading
import time
from dataclasses import dataclass

from perfbench import corpus, querylog
from perfbench.checks import (
    FIELDS,
    KEY_COLS,
    AnswerChecker,
    build_oracle,
    check_postings,
)
from perfbench.querylog import FIELD, TOP_K, Query
from perfbench.procstat import PeakRss, cpu_seconds, host_ticks
from perfbench.stats import percentile, tail_percentile
from perfbench.tracing import self_times

SETUP_REPS = 3
INGEST_REPS = 3
# timed queries per run at least: whole blocks of the query log, so
# every run serves the same class mix; the reported tail is the highest
# percentile with stats.MIN_BEYOND samples beyond it
MIN_BLOCKS = 3
MIN_QUERIES = MIN_BLOCKS * querylog.BLOCK
TAIL_PCT = 75
ANALYSIS_SAMPLE = 2000
LAYERS = ("bench", "session", "analysis", "segments", "mergeplan", "merge",
          "build", "query", "searcher", "blockmax")
SEARCH_CLASSES = [c for c in querylog.QUOTA if c != "wand_or"]


@dataclass(frozen=True)
class Workload:
    name: str
    n_turns: int      # transcript turns in the corpus
    n_files: int      # source batches = segments before the merge


def _warm_workers(spark, cpus: int) -> None:
    """Fork the Python workers and import the engine in them, so the
    first timed job does not pay for it."""

    def imp(batches):
        import bleve_spark.index.segments  # noqa: F401
        import bleve_spark.search.searcher  # noqa: F401

        yield from batches

    spark.range(cpus, numPartitions=cpus).mapInPandas(
        imp, schema="id long").count()


def _store_bytes(root: str) -> int:
    total = 0
    for d, _, files in os.walk(root):
        total += sum(os.path.getsize(os.path.join(d, f))
                     for f in files if not f.endswith(".crc"))
    return total


def _query_terms(node: dict) -> list[str]:
    if node["type"] == "term":
        return [node["term"]]
    if node["type"] == "phrase":
        return [t for _, alts in node["slots"] for t in alts]
    kids = node.get("children") or [
        node[k] for k in ("must", "should", "must_not") if node.get(k)]
    return [t for c in kids for t in _query_terms(c)]


def failed_queries(done, checker: AnswerChecker) -> list[str]:
    """One message per query that raised or whose answer differs from
    the oracle's; ``done`` holds (query, op, hits, error, latency)."""
    out = []
    for q, _, hits, err, _ in done:
        msg = f"{q.cls} {q.key}: {err}" if err else checker.check(q, hits)
        if msg:
            out.append(f"query {msg}")
    return out


class Run:
    def __init__(self, wl: Workload, seed: int, seconds: float, tracer,
                 work: str, cpus: int):
        self.wl, self.seed, self.seconds = wl, seed, seconds
        self.tracer, self.work, self.cpus = tracer, work, cpus
        self.failures: list[str] = []
        self.attempted = 0
        self._op = 0
        self._op_lock = threading.Lock()

    def next_op(self) -> int:
        with self._op_lock:
            self._op += 1
            return self._op

    # ---------------------------------------------------------- phases --
    def execute(self) -> tuple[dict, dict]:
        """Returns (end-to-end metrics, per-layer metrics)."""
        from bleve_spark.session import get_spark

        tr = self.tracer
        t0 = time.perf_counter()
        with tr.span("session.get_spark"):
            spark = get_spark(f"perfbench-{self.wl.name}",
                              master=f"local[{self.cpus}]")
        self.spark = spark
        spark.sparkContext.setLogLevel("ERROR")
        _warm_workers(spark, self.cpus)
        session_s = time.perf_counter() - t0
        self.jvm_pid = spark.sparkContext._gateway.proc.pid
        ticks0 = host_ticks()
        rss = PeakRss(self.jvm_pid).start()
        try:
            prep = []
            for r in range(SETUP_REPS):
                t = time.perf_counter()
                pdf = corpus.turns(self.seed, self.wl.n_turns)
                paths = corpus.write_batches(
                    pdf, self.wl.n_files, os.path.join(self.work, f"src{r}"))
                prep.append(time.perf_counter() - t)
            setup_s = session_s + statistics.median(prep)

            self.oracle = build_oracle(pdf)
            self.checker = AnswerChecker(self.oracle)
            text_bytes = int(pdf[FIELD].str.encode("utf-8").str.len().sum())
            layer = {"session.start_s": session_s}
            if tr.enabled:
                layer.update(self._analysis(pdf))

            ing = self._ingest(paths, len(pdf))
            layer.update(ing["layer"])
            srv = self._serve(ing["hot"], ing["store"], ing["term_meta"])
            layer.update(srv["layer"])
        finally:
            peak = rss.stop()
        ticks1 = host_ticks()

        n = len(pdf)
        e2e = {
            "setup_s": setup_s,
            "ingest_cpu_ms_per_turn": ing["cpu_s"] / n * 1e3,
            "query_cpu_ms": srv["cpu_ms"],
            "index_bytes_per_text_byte": ing["store_bytes"] / text_bytes,
            "peak_rss_mb": peak / 2**20,
        }
        layer.update({
            "wall.build_turns_per_s": n / ing["segments.build_s"],
            "wall.ingest_turns_per_s": n / ing["ingest_s"],
            "wall.query_p50_ms": srv["p50_ms"],
            f"wall.query_p{TAIL_PCT}_ms": srv["tail_ms"],
            "wall.queries_per_s": srv["qps"],
            "host.steal_pct": 100.0 * (ticks1[1] - ticks0[1])
            / max(1, ticks1[0] - ticks0[0]),
        })
        if tr.enabled:
            st = self_times(tr.spans)
            for name in LAYERS:
                layer[f"{name}.self_s"] = st.get(name, 0.0)
            layer["trace.spans"] = len(tr.spans)
            layer["trace.bookkeeping_ms"] = tr.bookkeeping_s * 1e3
        return e2e, layer

    def _analysis(self, pdf) -> dict:
        from bleve_spark.analysis.analyzers import get_analyzer

        texts = pdf[FIELD].head(ANALYSIS_SAMPLE).tolist()
        with self.tracer.span("analysis.analyze_terms") as s:
            an = get_analyzer("standard")
            tokens = sum(len(an.analyze_terms(t)) for t in texts)
        return {"analysis.tokens_per_s": tokens / (s.end - s.start)}

    def _ingest(self, paths: list[str], n_turns: int) -> dict:
        """Source batches → at-rest segments (one per batch), plus the
        persisted in-memory index of the same turns; INGEST_REPS times
        into fresh stores, reporting the median and keeping the last."""
        from bleve_spark.index.segments import SegmentStore

        reps, hot = [], None
        for r in range(INGEST_REPS):
            if hot is not None:
                hot.unpersist()
            root = os.path.join(self.work, f"store{r}")
            rep, hot, manifests = self._ingest_once(paths, root)
            reps.append(rep)
        spark, tr = self.spark, self.tracer
        med = {k: statistics.median(rep[k] for rep in reps) for k in reps[0]}
        layer: dict = {}
        if tr.enabled:
            layer = {k: v for k, v in med.items() if "." in k}

        # ---- checks (untimed): every posting reached the segments
        store = SegmentStore(spark, root)
        term_meta = self._term_meta(store)
        errors = check_postings(
            term_meta, sum(m["doc_count"] for m in manifests), self.oracle)
        self.attempted += 1
        if hot.stats.doc_count != n_turns:
            errors.append(f"index_table holds {hot.stats.doc_count} docs")
        self.failures += [f"ingest: {e}" for e in errors]
        if tr.enabled:
            layer.update(self._merge(store, manifests))
        return {**med, "store_bytes": _store_bytes(root), "hot": hot,
                "store": store, "term_meta": term_meta, "layer": layer}

    def _ingest_once(self, paths: list[str], root: str):
        from bleve_spark.index.build import index_table
        from bleve_spark.index.segments import build_segments_from_files

        tr, spark, sc = self.tracer, self.spark, self.spark.sparkContext
        src = spark.read.parquet(*paths)
        cpu0, t0 = cpu_seconds(self.jvm_pid), time.perf_counter()
        op = self.next_op()
        with tr.job_group(sc, op), \
                tr.span("segments.build_segments_from_files", op):
            manifests = build_segments_from_files(
                spark, paths, KEY_COLS, FIELDS, root)
        cpu1, t1 = cpu_seconds(self.jvm_pid), time.perf_counter()
        with tr.span("build.index_table"):
            hot = index_table(src, KEY_COLS, FIELDS)
        cpu2, t2 = cpu_seconds(self.jvm_pid), time.perf_counter()
        rep = {"ingest_s": t2 - t0, "cpu_s": cpu2 - cpu0,
               "segments.build_s": t1 - t0,
               "segments.build_cpu_s": cpu1 - cpu0,
               "build.index_table_s": t2 - t1,
               "build.index_table_cpu_s": cpu2 - cpu1}
        if tr.enabled:
            rep["segments.build_tasks"] = tr.job_counts(op)[2]
        return rep, hot, manifests

    def _term_meta(self, store) -> dict[str, tuple[int, int]]:
        """term -> (chunk rows, documents), from chunk metadata only."""
        from pyspark.sql import functions as F

        with self.tracer.span("segments.chunk_rows"):
            rows = (store.chunk_rows().where(F.col("field") == FIELD)
                    .groupBy("term")
                    .agg(F.count(F.lit(1)).alias("chunks"),
                         F.sum("n_docs").alias("df"))
                    .collect())
        return {r["term"]: (int(r["chunks"]), int(r["df"])) for r in rows}

    def _merge(self, store, manifests) -> dict:
        """Traced run only: plan and run the concat merge of the
        segments into one, and check that it keeps every posting."""
        from bleve_spark.index.merge import merge_to_single
        from bleve_spark.index.mergeplan import plan_from_manifests
        from bleve_spark.index.segments import SegmentStore

        tr, sc = self.tracer, self.spark.sparkContext
        self.attempted += 1
        with tr.span("mergeplan.plan_from_manifests"):
            rosters = plan_from_manifests(store.manifests())
        op = self.next_op()
        cpu0, t0 = cpu_seconds(self.jvm_pid), time.perf_counter()
        with tr.job_group(sc, op), tr.span("merge.merge_to_single", op):
            out = merge_to_single(self.spark, store.root, fanin=None)
        merge_s = time.perf_counter() - t0
        cpu_s = cpu_seconds(self.jvm_pid) - cpu0
        jobs, stages, tasks = tr.job_counts(op)
        merged = SegmentStore(self.spark, out)
        errors = check_postings(
            self._term_meta(merged),
            sum(m["doc_count"] for m in merged.manifests()), self.oracle)
        built = sum(m["postings"] for m in manifests)
        kept = sum(m["postings"] for m in merged.manifests())
        if built != kept:
            errors.append(f"kept {kept} of {built} postings")
        self.failures += [f"merge: {e}" for e in errors]
        return {
            "mergeplan.rosters": len(rosters),
            "merge.s": merge_s, "merge.cpu_s": cpu_s, "merge.jobs": jobs,
            "merge.stages": stages, "merge.tasks": tasks,
            "merge.bytes_rewritten": _store_bytes(out) if out != store.root
            else 0,
        }

    def _query(self, q: Query, hot, store) -> tuple[int, list]:
        """Run one query; block-max top-k reads the at-rest store with
        the in-memory index's collection statistics."""
        from bleve_spark.search.blockmax import pruned_disjunction_topk
        from bleve_spark.search.query import parse_query
        from bleve_spark.search.searcher import compile_query, search_df

        tr, op = self.tracer, self.next_op()
        with tr.job_group(self.spark.sparkContext, op), \
                tr.span("bench.query", op):
            if q.cls == "wand_or":
                with tr.span("blockmax.pruned_disjunction_topk", op):
                    rows = pruned_disjunction_topk(
                        store, hot.stats, KEY_COLS, FIELD,
                        q.request["terms"], k=TOP_K).collect()
            else:
                with tr.span("query.parse_query", op):
                    parsed = parse_query(q.request)
                with tr.span("searcher.compile_query", op):
                    scored = compile_query(hot, parsed)
                with tr.span("searcher.search_df", op):
                    rows = search_df(hot, parsed, size=TOP_K,
                                     precompiled=scored).collect()
        return op, [((r["conv_id"], int(r["turn_idx"])), float(r["score"]))
                    for r in rows]

    def _run_block(self, queries: list[Query], hot, store,
                   done: list) -> float:
        """Serve ``queries`` from nproc client threads sharing them,
        appending (query, op, hits | None, error, latency) to ``done``;
        returns the CPU seconds spent per query."""
        pending = iter(queries)
        lock = threading.Lock()

        def client():
            while True:
                with lock:
                    q = next(pending, None)
                if q is None:
                    return
                t = time.perf_counter()
                try:
                    op, hits = self._query(q, hot, store)
                    err = None
                except Exception as e:  # a failed query is counted
                    op, hits, err = None, None, f"{type(e).__name__}: {e}"
                lat = time.perf_counter() - t
                with lock:
                    done.append((q, op, hits, err, lat))

        cpu0 = cpu_seconds(self.jvm_pid)
        threads = [threading.Thread(target=client) for _ in range(self.cpus)]
        for th in threads:
            th.start()
        for th in threads:
            th.join()
        return (cpu_seconds(self.jvm_pid) - cpu0) / len(queries)

    def _serve(self, hot, store, term_meta) -> dict:
        pools = querylog.make_pools(self.oracle, self.seed)
        log = querylog.make_log(pools, self.seed, 20 * querylog.BLOCK)
        blocks = [log[i:i + querylog.BLOCK]
                  for i in range(0, len(log), querylog.BLOCK)]
        # warm-up, untimed and unchecked: the first block, so the JVM
        # has compiled the query paths before the timed blocks
        self._run_block(blocks[0], hot, store, [])

        # closed loop, one block at a time; each block's CPU time per
        # query is one sample of query_cpu_ms
        done: list[tuple] = []
        cpu_per_query: list[float] = []
        t_start = time.perf_counter()
        for b, block in enumerate(blocks[1:]):
            if (b >= MIN_BLOCKS
                    and time.perf_counter() >= t_start + self.seconds):
                break
            cpu_per_query.append(self._run_block(block, hot, store, done))
        wall = time.perf_counter() - t_start

        lat_ms = [d[4] * 1e3 for d in done]
        self.attempted += len(done)
        self.failures += failed_queries(done, self.checker)
        out = {"p50_ms": percentile(lat_ms, 50),
               "tail_ms": tail_percentile(lat_ms, TAIL_PCT),
               "qps": len(done) / wall,
               "cpu_ms": statistics.median(cpu_per_query) * 1e3,
               "layer": {}}
        if self.tracer.enabled:
            out["layer"] = self._serve_layers(done, term_meta)
        return out

    def _serve_layers(self, done, term_meta) -> dict:
        tr = self.tracer
        by_op: dict[int, dict[str, float]] = {}
        for s in tr.spans:
            if s.op:
                by_op.setdefault(s.op, {})[s.name] = (s.end - s.start) * 1e3
        search, wand = [], []
        for q, op, hits, _, lat in done:
            if op is None:
                continue
            terms = _query_terms(q.oracle_node)
            chunks = sum(term_meta.get(t, (0, 0))[0] for t in terms)
            postings = sum(term_meta.get(t, (0, 0))[1] for t in terms)
            row = {"cls": q.cls, "lat": lat * 1e3, "chunks": chunks,
                   "pph": postings / max(1, len(hits or [])),
                   "jst": tr.job_counts(op), **by_op.get(op, {})}
            (wand if q.cls == "wand_or" else search).append(row)

        def med(rows, key):
            vals = [r[key] for r in rows if key in r]
            return statistics.median(vals) if vals else 0.0

        every = search + wand
        layer = {
            "query.parse_ms": med(search, "query.parse_query"),
            "searcher.compile_ms": med(search, "searcher.compile_query"),
            "searcher.execute_ms": med(search, "searcher.search_df"),
            "searcher.jobs": statistics.median(r["jst"][0] for r in search),
            "searcher.stages": statistics.median(
                r["jst"][1] for r in search),
            "searcher.tasks": statistics.median(r["jst"][2] for r in search),
            "segments.chunk_rows_per_query": med(every, "chunks"),
            "segments.postings_per_hit": med(every, "pph"),
            "blockmax.topk_ms": med(wand, "blockmax.pruned_disjunction_topk"),
            "blockmax.chunks_total": med(wand, "chunks"),
        }
        for cls in SEARCH_CLASSES:
            layer[f"searcher.p50_ms.{cls}"] = med(
                [r for r in search if r["cls"] == cls], "lat")
        return layer
