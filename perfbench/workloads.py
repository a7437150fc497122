"""The benchmark's two workloads, run through the engine's public API.

One run = set-up (timed as ``setup_s``), then whole rounds of the
workload's operations until ``seconds`` have passed, one at a time from a
single closed-loop client, then the checks.  Every result is compared with
``checker`` (computed from the generator's recorded tokens, not by the
engine).  A traced run wraps the engine's functions (``spans``), adds the
Spark-free kernel benches and a forced-WAND twin of the term and OR
queries, and reports per-layer metrics instead of end-to-end ones.
"""

from __future__ import annotations

import os
import statistics
import subprocess
import sys
import time
import traceback
from contextlib import nullcontext
from typing import Dict, List, Optional, Sequence

import numpy as np

import checker
import corpus as C
import kernels
from spans import Tracer

K = 10
BULK_DOCS = 30000      # one bulk build
WARM_DOCS = 2000       # bulk_build's warm-up build in set-up
BASE_DOCS = 1000       # ingest_merge's base index
ADD_DOCS = 50          # ingest_merge: new documents per upsert commit
UPDATE_DOCS = 50       # ingest_merge: replaced documents per upsert commit
DELETE_TERMS = 2       # ingest_merge: tail terms deleted per round


def _median(xs: Sequence[float]) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs)


def to_query(cls: str, words: Sequence[str]):
    from lucene_solr_spark.queryast import (BooleanClause, BooleanQuery, Occur,
                                            PhraseQuery, TermQuery)
    if cls.startswith("term"):
        return TermQuery(term=words[0])
    if cls == "phrase":
        return PhraseQuery(terms=tuple(words))
    occur = Occur.MUST if cls == "and" else Occur.SHOULD
    return BooleanQuery(clauses=tuple(BooleanClause(occur, TermQuery(term=w)) for w in words))


class Bench:
    """State of one run: the session, counters, samples and check errors."""

    def __init__(self, seed: int, seconds: float, traced: bool, scratch: str,
                 cpus: int) -> None:
        self.seed, self.seconds = seed, seconds
        self.scratch, self.cpus = scratch, cpus
        self.rng = np.random.default_rng([seed, 20260])
        self.tracer: Optional[Tracer] = Tracer() if traced else None
        self.attempted = self.failed = 0
        self.errors: List[str] = []
        self.samples: Dict[str, List[float]] = {
            "build_docs_per_s": [], "query_ms": []}
        self.walls: List[tuple] = []
        self.plans: List[dict] = []
        self.wand_stats: List[dict] = []
        self.index_bytes_per_doc = 0.0
        self.setup_s = 0.0
        self.spark = None
        self.jvm = None
        self._n = 0

    # -- plumbing ------------------------------------------------------------
    def span(self, name: str):
        return self.tracer.span(name) if self.tracer else nullcontext()

    def path(self, name: str) -> str:
        self._n += 1
        return os.path.join(self.scratch, f"{name}{self._n}")

    def op(self, name: str, fn):
        """One operation of the workload: (wall seconds, result), or
        (None, None) when it raised, which counts as failed."""
        self.attempted += 1
        t = time.perf_counter()
        try:
            with self.span(name):
                res = fn()
        except Exception:
            self.failed += 1
            print(f"perfbench: {name} failed\n{traceback.format_exc()}", file=sys.stderr)
            return None, None
        dt = time.perf_counter() - t
        self.walls.append((name, round(dt, 3)))
        return dt, res

    def start(self):
        from lucene_solr_spark import session
        with self.span("session.get_spark"):
            self.spark = session.get_spark("perfbench")
        sc = self.spark.sparkContext
        sc.setLogLevel("ERROR")
        self.jvm = sc._gateway.proc
        if self.tracer:
            self.tracer.sc = sc
            _install_wrappers(self.tracer)
        return self.spark

    def stop(self) -> None:
        if self.tracer:
            self.tracer.restore()
        if self.spark is None:
            return
        spark, self.spark = self.spark, None
        try:
            gw = spark.sparkContext._gateway
            spark.stop()
            gw.shutdown()
        finally:
            # the gateway JVM exits when its stdin closes
            self.jvm.stdin.close()
            try:
                self.jvm.wait(timeout=60)
            except subprocess.TimeoutExpired:
                self.jvm.kill()
                self.jvm.wait()

    # -- engine calls ----------------------------------------------------------
    def build(self, index_dir: str, src, batch: str) -> Optional[float]:
        from lucene_solr_spark.indexing import builder
        dt, man = self.op("op.build", lambda: builder.build_index(
            self.spark, index_dir, [(batch, src)], assume_sorted=True))
        return None if man is None else dt

    def open(self, index_dir: str):
        from lucene_solr_spark.search.executor import IndexReader, Searcher
        _, s = self.op("op.open_reader", lambda: Searcher(IndexReader(self.spark, index_dir)))
        return s

    def query(self, searcher, snap: checker.Snapshot, cls: str, words, forced: bool = False):
        q = to_query(cls, words)
        name = f"op.wand_forced.{cls}" if forced else f"op.search.{cls}"
        dt, res = self.op(name, lambda: searcher.search(q, k=K, prune=True if forced else "auto"))
        if res is None:
            return
        if forced:
            self.wand_stats.append(dict(getattr(searcher, "last_wand_stats", {}) or {}, cls=cls))
        else:
            self.samples["query_ms"].append(dt * 1000)
            if searcher.last_plan is not None:
                self.plans.append(dict(searcher.last_plan, cls=cls, words=list(words)))
        dead = set(snap.doc_id[~snap.live].tolist())
        self.errors += checker.check_top_k(
            f"{name} {list(words)}", res["doc_id"], res["score"],
            *snap.scores(cls, words), K, 0.0, dead)

    def live(self, ft, snap: checker.Snapshot, cls: str, words) -> None:
        kind = "term" if cls.startswith("term") else cls
        call = {"term": lambda: ft.term_query(words[0], K),
                "and": lambda: ft.boolean_and(list(words), K),
                "or": lambda: ft.boolean_or(list(words), K),
                "phrase": lambda: ft.phrase_query(list(words), K)}[kind]
        _, rows = self.op(f"op.live.{kind}", lambda: call().collect())
        if rows is None:
            return
        self.errors += checker.check_top_k(
            f"live {cls} {list(words)}", [r["doc_id"] for r in rows],
            [r["score"] for r in rows], *snap.scores(cls, words, live_path=True),
            K, checker.LIVE_TOL)

    def live_index(self, table, snap: checker.Snapshot):
        from lucene_solr_spark.fulltext import FulltextIndex
        ft = FulltextIndex(table, text_col="content", id_col="doc_id")
        _, st = self.op("op.live_stats", lambda: ft.stats)
        want = (snap.n, snap.live_view.sum_dl)
        if st is not None and (st.doc_count, st.total_tokens) != want:
            self.errors.append(f"live stats {(st.doc_count, st.total_tokens)}, expected {want}")
        return ft

    def check_index(self, searcher, truth: checker.Truth, snap: checker.Snapshot,
                    words: Sequence[str], label: str) -> None:
        """Collection and term statistics, and the doc id of every key."""
        r = searcher.reader
        self.errors += checker.check_stats(label, snap, r.doc_count, r.sum_dl,
                                           r.term_stats(sorted(set(words))), words)
        got = {(x["repo"], x["path"], int(x["doc_id"]))
               for x in r.doc_meta.select("repo", "path", "doc_id").collect()}
        want = {(k[0], k[1], int(d))
                for k, d, c in zip(truth.keys, truth.doc_id, truth.counted) if c}
        if got != want:
            self.errors.append(f"{label}: doc ids of {len(got ^ want)} keys differ")

    def rounds(self):
        """Round numbers until the run's measuring time is used (at least one)."""
        end = time.perf_counter() + self.seconds
        r = 0
        while r == 0 or time.perf_counter() < end:
            yield r
            r += 1


def _install_wrappers(t: Tracer) -> None:
    from lucene_solr_spark import fulltext
    from lucene_solr_spark.indexing import builder, deletes, merge
    from lucene_solr_spark.search import executor

    def keep_phases(res, sp):
        sp["attrs"].update(phases=res["phases"], docs=res["doc_count"])

    def keep_count(res, sp):
        sp["attrs"]["tombstones"] = int(res)

    t.wrap(builder, "build_index", "builder.build_index")
    t.wrap(builder, "build_segment", "builder.build_segment", keep_phases)
    t.wrap(builder, "assign_doc_ids", "docids.assign_doc_ids")
    t.wrap(deletes, "update_documents", "deletes.update_documents")
    t.wrap(deletes, "delete_by_keys", "deletes.delete_by_keys", keep_count)
    t.wrap(deletes, "delete_by_terms", "deletes.delete_by_terms", keep_count)
    t.wrap(merge, "force_merge", "merge.force_merge")
    t.wrap(merge, "run_merge", "merge.run_merge")
    t.wrap(executor.IndexReader, "_term_stats_rows", "executor.term_stats")
    t.wrap(executor.Searcher, "plan_pruned_or", "executor.plan_pruned_or")
    t.wrap(executor.Searcher, "_search_pruned_or", "executor.search_pruned_or")
    t.wrap(fulltext, "corpus_stats", "fulltext.corpus_stats")


# -- inputs -------------------------------------------------------------------

def _table(b: Bench, corpus: C.Corpus, ids: np.ndarray, name: str) -> str:
    return C.write_parquet(corpus, b.path(name), n_files=b.cpus, doc_ids=ids)


def _upsert_batch(b: Bench, truth: checker.Truth, n_replace: int, n_new: int, r: int):
    """One commit's documents: n_replace re-drawn contents for distinct
    live keys and n_new documents under new keys."""
    live = [k for k, lv in zip(truth.keys, truth.live) if lv]
    replaced = [live[i] for i in sorted(b.rng.choice(len(live), n_replace, replace=False))]
    new = C.generate(b.seed, n_new, repo_base=50000 + 100 * r, salt=f"new{r}")
    c = C.generate(b.seed, n_replace + n_new, salt=f"upsert{r}")
    keys = replaced + list(zip(new.repo, new.path))
    c.repo, c.path = [k[0] for k in keys], [k[1] for k in keys]
    c.lang = [p.rsplit(".", 1)[1] for p in c.path]
    return c, replaced


# -- workloads ------------------------------------------------------------------

def bulk_build(b: Bench) -> None:
    """A fresh one-batch build of a generated corpus, then a seeded mix of
    the five query classes on the built index.  Set-up builds and queries
    a small index of its own first: the session's first build and first
    query start the Python workers and compile the build and query paths,
    a fixed cost that would otherwise hide the per-document work."""
    corpus = C.generate(b.seed, BULK_DOCS)
    truth = checker.Truth()
    src = _table(b, corpus, truth.add(corpus), "corpus")
    snap = truth.snapshot()
    pool = C.query_pool(corpus, b.rng)
    warm = C.generate(b.seed, WARM_DOCS, salt="warm-up")
    warm_truth = checker.Truth()
    warm_src = _table(b, warm, warm_truth.add(warm), "warm")

    t0 = time.perf_counter()
    spark = b.start()
    table = spark.read.parquet(src)
    warm_dir = b.path("warm")
    b.build(warm_dir, spark.read.parquet(warm_src).drop("doc_id"), "warm")
    warm_searcher = b.open(warm_dir)
    if warm_searcher is not None:
        _warm_query(b, warm_searcher, pool)
    b.setup_s = time.perf_counter() - t0

    searcher = None
    for r in b.rounds():
        index_dir = b.path("index")
        dt = b.build(index_dir, table.drop("doc_id"), "bulk")
        if dt is None:
            continue
        b.samples["build_docs_per_s"].append(BULK_DOCS / dt)
        b.index_bytes_per_doc = dir_bytes(index_dir) / BULK_DOCS
        searcher = b.open(index_dir)
        if searcher is None:
            continue
        for cls in C.QUERY_CLASSES:
            b.query(searcher, snap, cls, _pick(b, pool, cls))
    if searcher is not None:
        b.check_index(searcher, truth, snap, _words(pool), "bulk index")
    if warm_searcher is not None:
        warm_pool = C.query_pool(warm, b.rng)
        b.check_index(warm_searcher, warm_truth, warm_truth.snapshot(), _words(warm_pool),
                      "warm-up index")
        if b.tracer and searcher is not None:
            _traced_extras(b, searcher, snap, table, pool)
            # the deletes and merge layers report on every workload; on the
            # small warm-up index they cost about what they cost in ingest_merge
            _commits(b, warm_dir, warm_truth, warm, warm_pool, 0, UPDATE_DOCS, ADD_DOCS)


def ingest_merge(b: Bench) -> None:
    """Small commits beside reads, from a smaller base index.  A round:
    one upsert commit (update_documents: replaced keys and new keys, the
    new documents built by build_index), a query; one delete_by_terms
    commit, a query against the multi-segment index with its tombstones;
    force_merge to one segment, then a query of each remaining class."""
    base = C.generate(b.seed, BASE_DOCS)
    truth = checker.Truth()
    ids = truth.add(base)
    src = _table(b, base, ids, "base")
    base_snap = truth.snapshot()
    pool = C.query_pool(base, b.rng)

    t0 = time.perf_counter()
    spark = b.start()
    table = spark.read.parquet(src)
    index_dir = b.path("index")
    b.build(index_dir, table.drop("doc_id"), "base")
    searcher = b.open(index_dir)
    if searcher is not None:
        _warm_query(b, searcher, pool)
    b.setup_s = time.perf_counter() - t0

    searcher = None
    for r in b.rounds():
        walls, searcher = _commits(b, index_dir, truth, base, pool, r, UPDATE_DOCS, ADD_DOCS)
        if None not in walls:
            b.samples["build_docs_per_s"].append((ADD_DOCS + UPDATE_DOCS) / sum(walls))
        b.index_bytes_per_doc = dir_bytes(index_dir) / max(1, int(truth.live.sum()))
    if b.tracer and searcher is not None:
        _traced_extras(b, searcher, truth.snapshot(), table, pool, live_snap=base_snap)


def _commits(b: Bench, index_dir: str, truth: checker.Truth, base: C.Corpus, pool, r: int,
             n_replace: int, n_new: int):
    """Upsert, query, delete by terms, query, force_merge, queries; every
    result and the statistics checked against the truth.  Returns the
    walls of the three commits and the last searcher."""
    from lucene_solr_spark.indexing import deletes, merge
    spark = b.spark
    batch, replaced = _upsert_batch(b, truth, n_replace, n_new, r)
    batch_src = _table(b, batch, np.zeros(len(batch), np.int64), "upsert")
    ids, df = C.doc_freqs(base)
    pool_words = set(_words(pool))
    tail = [w for w in map(C.term, ids[(df >= 2) & (df <= 4)]) if w not in pool_words]
    gone = [str(w) for w in b.rng.choice(tail, DELETE_TERMS, replace=False)]

    walls = []
    dt, _ = b.op("op.upsert", lambda: deletes.update_documents(
        spark, index_dir, spark.read.parquet(batch_src).drop("doc_id")))
    walls.append(dt)
    if dt is not None:
        truth.delete_keys(replaced)
        truth.add(batch)
    _after_commit(b, index_dir, truth, pool, "upsert", ["term_head"])

    dt, n_del = b.op("op.delete", lambda: deletes.delete_by_terms(spark, index_dir, gone))
    walls.append(dt)
    if dt is not None:
        want = truth.delete_terms(gone)
        if n_del != want:
            b.errors.append(f"delete_by_terms {gone}: {n_del} tombstones, expected {want}")
    # the statistics still count the tombstoned docs here
    _after_commit(b, index_dir, truth, pool, "delete", ["and"], check=True)

    dt, _ = b.op("op.merge", lambda: merge.force_merge(spark, index_dir, 1))
    walls.append(dt)
    if dt is not None:
        truth.purge()
    searcher = _after_commit(b, index_dir, truth, pool, "merge", ["or", "phrase", "term_tail"],
                             check=True)
    return walls, searcher


def _after_commit(b: Bench, index_dir: str, truth: checker.Truth, pool, label: str,
                  classes: Sequence[str], check: bool = False):
    """Open the committed index and run one query of each class; with
    check, also compare its statistics and doc ids (not timed)."""
    searcher = b.open(index_dir)
    if searcher is None:
        return None
    snap = truth.snapshot()
    for cls in classes:
        b.query(searcher, snap, cls, _pick(b, pool, cls))
    if check:
        b.check_index(searcher, truth, snap, _words(pool), f"after {label}")
    return searcher


def _warm_query(b: Bench, searcher, pool) -> None:
    """One query before the timed ones: the first query of a session
    compiles the query path (UDFs, generated code), a cost that would
    otherwise land on whichever timed query comes first.  Its term is
    outside the query pool, so no reader's statistics cache can serve a
    timed query."""
    from lucene_solr_spark.queryast import TermQuery
    used = set(_words(pool))
    word = next(w for w in C.BASE_WORDS if w not in used and w not in C.STOP_WORDS)
    b.op("op.warm_query", lambda: searcher.search(TermQuery(term=word), k=K))


def _pick(b: Bench, pool, cls: str):
    return [w for c, w in pool if c == cls][int(b.rng.integers(0, 4))]


def _words(pool) -> List[str]:
    return sorted({w for _, ws in pool for w in ws})


def _traced_extras(b: Bench, searcher, snap, table, pool, live_snap=None) -> None:
    """Traced runs only: the live surface over the source table (its
    statistics, then one query of every class) and a forced-WAND twin of
    the term and OR classes beside their auto plans."""
    ft = b.live_index(table, live_snap or snap)
    for cls in ("term_head", "and", "or", "phrase"):
        b.live(ft, live_snap or snap, cls, _pick(b, pool, cls))
    # the twin runs on its own reader: a reader caches the statistics of
    # the last term set, which would spare the second run of a pair a job
    twin = b.open(searcher.reader.index_dir)
    for cls in ("term_head", "or"):
        words = _pick(b, pool, cls)
        b.query(searcher, snap, cls, words)
        if twin is not None:
            b.query(twin, snap, cls, words, forced=True)


WORKLOADS = {"bulk_build": bulk_build, "ingest_merge": ingest_merge}


# -- results ----------------------------------------------------------------------

def end_to_end(b: Bench) -> Dict[str, tuple]:
    s = b.samples
    return {
        "setup_s": (b.setup_s, "s"),
        "build_docs_per_s": (_median(s["build_docs_per_s"]), "docs/s"),
        "index_bytes_per_doc": (b.index_bytes_per_doc, "bytes/doc"),
        "query_p50_ms": (_median(s["query_ms"]), "ms"),
    }


def per_layer(b: Bench, kern: Dict[str, tuple]) -> Dict[str, tuple]:
    t = b.tracer
    dur = lambda sp: sp["end"] - sp["start"]  # noqa: E731
    med = lambda xs: _median(list(xs))        # noqa: E731

    def under(sp, prefix):
        while sp["parent"] is not None:
            sp = t.spans[sp["parent"]]
            if sp["name"].startswith(prefix):
                return True
        return False

    out: Dict[str, tuple] = {"trace.overhead_s": (t.overhead_s, "s"),
                             "trace.spans": (len(t.spans), "count")}
    out["session.start_s"] = (med(dur(s) for s in t.named("session.get_spark")), "s")
    out.update(kern)
    segs = t.named("builder.build_segment")
    for ph in ("ids", "invert_write", "stats", "sha_check"):
        out[f"builder.{ph}_s"] = (med(s["attrs"]["phases"][ph] for s in segs), "s")
    builds = t.named("builder.build_index")
    out["builder.spark_jobs"] = (med(t.total(s, "jobs") for s in builds), "count")
    out["builder.tasks"] = (med(t.total(s, "tasks") for s in builds), "count")
    out["builder.shuffle_write_bytes"] = (
        med(t.total(s, "shuffle_write_bytes") for s in builds), "bytes")
    out["builder.executor_cpu_s"] = (med(t.total(s, "cpu_ms") / 1e3 for s in builds), "s")
    out["deletes.update_s"] = (med(dur(s) for s in t.named("deletes.update_documents")), "s")
    out["deletes.delete_by_terms_s"] = (
        med(dur(s) for s in t.named("deletes.delete_by_terms")), "s")
    out["deletes.tombstones"] = (sum(s["attrs"].get("tombstones", 0) for s in
                                     t.named("deletes.delete_by_terms")
                                     + t.named("deletes.delete_by_keys")), "count")
    merges = t.named("merge.force_merge")
    out["merge.s"] = (sum(dur(s) for s in merges), "s")
    out["merge.bytes_read"] = (sum(t.total(s, "input_bytes") for s in merges), "bytes")
    out["merge.bytes_written"] = (sum(t.total(s, "output_bytes") for s in merges), "bytes")
    out["merge.spark_jobs"] = (sum(t.total(s, "jobs") for s in merges), "count")
    out["merge.executor_cpu_s"] = (sum(t.total(s, "cpu_ms") for s in merges) / 1e3, "s")

    searches = [s for s in t.spans if s["name"].startswith("op.search.") and "end" in s]
    out["executor.reader_open_s"] = (med(dur(s) for s in t.named("op.open_reader")), "s")
    stats = [s for s in t.named("executor.term_stats") if s["jobs"] and under(s, "op.search.")]
    out["executor.term_stats_ms"] = (med(dur(s) * 1e3 for s in stats), "ms")
    plans = [s for s in t.named("executor.plan_pruned_or") if under(s, "op.search.")]
    out["executor.plan_ms"] = (med(t.self_s(s) * 1e3 for s in plans), "ms")
    for cls in C.QUERY_CLASSES:
        out[f"executor.search_ms.{cls}"] = (
            med(dur(s) * 1e3 for s in t.named(f"op.search.{cls}")), "ms")
    out["executor.spark_jobs_per_query"] = (med(t.total(s, "jobs") for s in searches), "count")
    out["executor.tasks_per_query"] = (med(t.total(s, "tasks") for s in searches), "count")
    out["executor.shuffle_bytes_per_query"] = (
        med(t.total(s, "shuffle_write_bytes") for s in searches), "bytes")
    out["executor.executor_cpu_ms_per_query"] = (
        med(t.total(s, "cpu_ms") for s in searches), "ms")
    for cls in ("term_head", "or"):
        out[f"executor.wand_forced_ms.{cls}"] = (
            med(dur(s) * 1e3 for s in t.named(f"op.wand_forced.{cls}")), "ms")
    out["executor.wand_blocks_decoded"] = (
        sum(w.get("blocks_decoded", 0) for w in b.wand_stats), "count")
    out["executor.wand_blocks_total"] = (
        sum(w.get("blocks_total", 0) for w in b.wand_stats), "count")
    out["fulltext.stats_s"] = (med(dur(s) for s in t.named("fulltext.corpus_stats")), "s")
    for kind in ("term", "and", "or", "phrase"):
        out[f"fulltext.search_ms.{kind}"] = (
            med(dur(s) * 1e3 for s in t.named(f"op.live.{kind}")), "ms")
    lives = [s for s in t.spans if s["name"].startswith("op.live.") and "end" in s]
    out["fulltext.shuffle_bytes_per_query"] = (
        med(t.total(s, "shuffle_write_bytes") for s in lives), "bytes")
    return out


def run(workload: str, seed: int, seconds: float, traced: bool, scratch: str,
        cpus: int, out_dir: str) -> dict:
    b = Bench(seed, seconds, traced, scratch, cpus)
    try:
        checker.self_test()
    except AssertionError as e:
        b.errors.append(f"checker self-test: {e}")
    try:
        WORKLOADS[workload](b)
    finally:
        b.stop()
    for e in b.errors[:20]:
        print(f"perfbench: CHECK FAILED: {e}", file=sys.stderr)
    if traced:
        metrics = per_layer(b, kernels.run(seed))
        os.makedirs(out_dir, exist_ok=True)
        dump = os.path.join(out_dir, f"trace-{workload}-seed{seed}.json")
        b.tracer.dump(dump, {"plans": b.plans, "wand": b.wand_stats,
                             "samples": b.samples, "errors": b.errors})
        print(f"perfbench: spans written to {dump}", file=sys.stderr)
    else:
        metrics = end_to_end(b)
    print(f"perfbench: {workload} seed {seed}: operations {b.walls}", file=sys.stderr)
    print(f"perfbench: {workload} seed {seed}: samples "
          + ", ".join(f"{k}={len(v)}" for k, v in b.samples.items())
          + f"; plans {[(p['cls'], p.get('use_wand')) for p in b.plans][:8]}", file=sys.stderr)
    return {"correct": not b.errors, "attempted": b.attempted, "failed": b.failed,
            "metrics": {k: {"value": float(v), "unit": u} for k, (v, u) in metrics.items()}}
