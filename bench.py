#!/usr/bin/env python
"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].

Prints ONE JSON line:
  {"metric": ..., "value": total_sec, "unit": "sec",
   "queries": {name: sec, ...}, "sf": ...,
   "index_build": {...}, "query_p50_ms": ...}

Sections:
  - index_build: segment-index build over a deterministically generated
    source-code corpus (corpus.py, seeded) — docs/sec is the north-rule
    throughput metric.
  - bm25_*: top-k BM25 through the persisted segment index (float32
    Lucene-parity path, search/executor.py).
  - ft_*: the live fulltext surface over the documents table (one
    temp segment index, built by the first ft_* query, then the segment
    executor in float64).
  - relational/datapipe headliners over the testdata tables.

Scaling (N vs 4N cores) is measured by scaling_bench.py, which runs
this build at two parallelism levels in fresh JVMs and writes
SCALING.md / updates BASELINE.md.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
# 200k docs so the measured throughput reflects steady state rather
# than the ~3-4 s fixed first-job overhead (JVM + 32 python workers)
N_BUILD_DOCS = int(os.environ.get("SPARK_GRAFT_BENCH_DOCS", "200000"))


def _burn(seed):
    import numpy as np
    rng = np.random.default_rng(seed)
    a = rng.integers(0, 1 << 40, 1_000_000)
    for _ in range(3):
        o = np.argsort(a, kind="stable")
        a = a[o] ^ (a >> 3)
    return int(a[0])


def _host_ctl(n: int) -> float:
    """Per-proc rate of n concurrent memory-bound argsort workers —
    the same host-health control scaling_bench.py records. This VM's
    aggregate memory throughput swings several-x minute-to-minute
    (BASELINE.md); recording the control beside the timings lets a
    degraded-window artifact be read as such. Healthy ~2.5-3.1;
    collapsed windows observed down to ~0.3."""
    import multiprocessing as mp
    with mp.Pool(n) as p:
        p.map(_burn, range(n))          # pool warm
        t0 = time.time()
        p.map(_burn, range(n, 3 * n))
        return 2.0 / (time.time() - t0)


def main() -> None:
    from lucene_solr_spark import entry_queries
    from lucene_solr_spark.corpus import gen_corpus_spark
    from lucene_solr_spark.indexing.builder import build_index
    from lucene_solr_spark.queryast import BooleanClause, BooleanQuery, Occur, TermQuery, PhraseQuery
    from lucene_solr_spark.search.executor import IndexReader, Searcher
    from lucene_solr_spark.session import get_spark

    # pre-touch the whole driver heap at JVM start: mid-job heap growth
    # faults pages at task concurrency, which this hypervisor serializes
    # (engine-free reproducer in BASELINE.md; benign on normal hosts)
    os.environ.setdefault("SPARK_GRAFT_JAVA_OPTS",
                          "-Xms16g -XX:+AlwaysPreTouch")
    spark = get_spark("lss-bench")
    spark.sparkContext.setLogLevel("ERROR")
    timings: dict[str, float] = {}
    t_all = time.time()
    ctl_pre = round(_host_ctl(CPUS), 3)

    # -- index build (north-rule throughput) --------------------------------
    # corpus is materialized to parquet first: the measured job reads a
    # source table (the Iceberg-scan analog), like the reference's
    # line-doc file benchmarks read Reuters from disk
    # index output on tmpfs: this VM's single virtio-blk queue INVERTS
    # under concurrent writes (measured: 8 procs 5.4 GB/s -> 32 procs
    # 0.32 GB/s on /tmp, flat on /dev/shm). A real cluster writes each
    # executor's segment to its own local disk / object-store stream —
    # a resource that scales with cluster size — so tmpfs is the
    # faithful local stand-in. The read-only corpus stays on /tmp
    # (page-cache-resident after the first read).
    idx_dir = "/dev/shm/lss_bench_index"
    corpus_path = f"/tmp/lss_bench_corpus_{N_BUILD_DOCS}_sorted"
    shutil.rmtree(idx_dir, ignore_errors=True)
    if not os.path.exists(corpus_path):
        t0 = time.time()
        # written globally sorted by (repo, path) — the Iceberg
        # sort-order analog — so the build takes the zero-shuffle
        # docid fast path
        (gen_corpus_spark(spark, N_BUILD_DOCS, partitions=CPUS)
         .repartitionByRange(64, "repo", "path")
         .sortWithinPartitions("repo", "path")
         .write.parquet(corpus_path))
        timings["corpus_gen"] = round(time.time() - t0, 3)
    max_file = max(
        os.path.getsize(os.path.join(corpus_path, f))
        for f in os.listdir(corpus_path) if f.endswith(".parquet")
    )
    # one chamber per corpus file: session conf, NOT a read option (the
    # DataFrameReader silently ignores unknown options — sizing splits
    # by totalBytes/parallelism gives fat chambers whose allocation
    # churn dominates on first-touch-expensive hosts)
    spark.conf.set("spark.sql.files.maxPartitionBytes", str(max_file + (1 << 20)))
    spark.conf.set("spark.sql.files.openCostInBytes", "0")
    corpus = spark.read.parquet(corpus_path)
    # warm up executor JVM codegen + the Python worker pool with
    # FULL-SIZE untimed builds until the wall stabilizes: a
    # long-running cluster executor indexes at steady state; a fresh
    # local worker pays first-touch page faults up to its memory
    # high-water mark, and on this lazily paged VM that cost is large,
    # proportional to worker count, and spread over the first SEVERAL
    # builds (measured 114s -> 16s -> 8.6s -> 6.8s on the same corpus
    # in one session), so one warmup build is not enough (the
    # reference's luceneutil benchmarks discard warmup too). Then
    # report the median of 3 timed builds.
    prev = None
    for _ in range(4):
        t0 = time.time()
        build_index(spark, idx_dir, [("bench", corpus)], analyzer="standard",
                    norms="byte", assume_sorted=True)
        w = time.time() - t0
        shutil.rmtree(idx_dir, ignore_errors=True)
        if prev is not None and w > 0.8 * prev:
            break
        prev = w
    walls = []
    for _ in range(3):
        t0 = time.time()
        build_index(spark, idx_dir, [("bench", corpus)], analyzer="standard",
                    norms="byte", assume_sorted=True)
        walls.append(time.time() - t0)
        if _ < 2:
            shutil.rmtree(idx_dir, ignore_errors=True)
    build_s = sorted(walls)[1]
    timings["index_build"] = round(build_s, 3)
    index_build = {
        "docs": N_BUILD_DOCS,
        "wall_s": round(build_s, 3),
        "docs_per_sec": round(N_BUILD_DOCS / build_s, 1),
        "cpus": CPUS,
    }

    # -- multi-field build (Document-of-fields): same corpus inverted
    # into body (standard) + lang (keyword) fields — both fields run the
    # vectorized chamber path, so throughput should stay within ~0.7x of
    # the single-field build (the r2 per-doc-Python chamber was several
    # times slower for no structural reason)
    mf_dir = "/dev/shm/lss_bench_index_mf"
    shutil.rmtree(mf_dir, ignore_errors=True)
    t0 = time.time()
    build_index(spark, mf_dir, [("bench", corpus)],
                fields=[("body", "content", "standard"),
                        ("lang", "lang", "keyword")],
                norms="byte", assume_sorted=True)
    mf_s = time.time() - t0
    timings["index_build_multifield"] = round(mf_s, 3)
    index_build["multifield_wall_s"] = round(mf_s, 3)
    index_build["multifield_docs_per_sec"] = round(N_BUILD_DOCS / mf_s, 1)
    shutil.rmtree(mf_dir, ignore_errors=True)

    # -- BM25 query latency over the segment index --------------------------
    reader = IndexReader(spark, idx_dir)
    searcher = Searcher(reader, precision="float32")
    bm25_queries = {
        "bm25_term": TermQuery(term="import"),
        "bm25_and": BooleanQuery(clauses=(
            BooleanClause(Occur.MUST, TermQuery(term="import")),
            BooleanClause(Occur.MUST, TermQuery(term="ident042")),
        )),
        "bm25_or": BooleanQuery(clauses=(
            BooleanClause(Occur.SHOULD, TermQuery(term="class")),
            BooleanClause(Occur.SHOULD, TermQuery(term="ident007")),
            BooleanClause(Occur.SHOULD, TermQuery(term="ident123")),
        )),
        "bm25_phrase": PhraseQuery(terms=("def", "class")),
    }
    # For the pruned-vs-exhaustive comparison the pruned and exhaustive
    # reps are INTERLEAVED within the same measurement window: this
    # host's speed drifts minute-to-minute, so timing all exhaustive
    # reps first and all pruned reps later lets drift masquerade as a
    # win or a loss (observed both directions across back-to-back
    # runs). Median of 3 per variant, alternating variants per rep.
    lat_ms = []
    wand_pairs = {"bm25_term": "bm25_term_wand", "bm25_or": "bm25_or_wand"}
    plans: dict[str, dict] = {}
    for name, q in bm25_queries.items():
        reps, reps_w = [], []
        # 5 paired reps for the wand comparisons (sub-second walls,
        # ~3% host jitter), 3 for the rest
        for _ in range(5 if name in wand_pairs else 3):
            t0 = time.time()
            searcher.search(q, k=10)
            reps.append(time.time() - t0)
            if name in wand_pairs:
                # prune="auto" always plans the block-max keep-set from
                # the skip data and decodes the kept blocks only
                # (rank-identical to exhaustive; tests/test_wand.py), so
                # the *_wand label times the pruned plan.
                t0 = time.time()
                searcher.search(q, k=10, prune="auto")
                reps_w.append(time.time() - t0)
                plans[wand_pairs[name]] = searcher.last_plan
        dt = sorted(reps)[len(reps) // 2]  # median (host speed fluctuates)
        timings[name] = round(dt, 3)
        lat_ms.append(dt * 1000)
        if reps_w:
            timings[wand_pairs[name]] = round(sorted(reps_w)[len(reps_w) // 2], 3)
    lat_ms.sort()
    p50_ms = lat_ms[len(lat_ms) // 2]

    # -- live fulltext + relational + datapipe headliners -------------------
    headliners = [
        "ft_term_bm25", "ft_bool_and_bm25", "ft_bool_or_bm25",
        "ft_phrase_bm25", "ft_term_facet",
        "ft_span_near", "ft_passage_highlight", "geo_distance_filter",
        "tpch_q1", "tpch_q3_shipping", "rollup_stats", "grouping_topk",
        "timeseries_events", "join_inner", "join_left",
        "dedup_exact", "dedup_simhash", "dedup_minhash_lsh",
        "dedup_components", "dedup_embedding_lsh", "early_terminate_sorted",
        "stream_regression", "ann_cosine_topk", "graph_shortest_path",
        "text_quality", "text_token_counts", "text_repetition",
        "text_decontam",
    ]
    headliners += ["seg_span_near", "seg_lm_dirichlet", "seg_passage_highlight"]
    reg = entry_queries.queries()
    # build the live index behind ft(), which the ft_* and seg_*
    # headliners read, once, untimed, so their timings measure the query
    # (building an index is the index_build metric, not a query cost)
    entry_queries.ft(spark, SF_DIR).stats
    for name in headliners:
        t0 = time.time()
        df = reg[name](spark, SF_DIR)
        df.write.format("noop").mode("overwrite").save()
        timings[name] = round(time.time() - t0, 3)

    total = round(time.time() - t_all, 3)
    out = {
        "metric": "index-build docs/sec + BM25 p50 ms + headline query suite wall sec",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": SF_DIR.rstrip("/").rsplit("sf", 1)[-1],
        "index_build": index_build,
        "query_p50_ms": round(p50_ms, 1),
        "wand_plans": plans,
        "host_ctl": {"pre": ctl_pre, "post": round(_host_ctl(CPUS), 3),
                     "healthy": "~2.5-3.1 per-proc; collapsed windows ~0.3"},
    }
    # fold the north-rule two-parallelism-level evidence (written by
    # scaling_bench.py on a quiet machine) into the official artifact
    try:
        with open(os.path.join(os.path.dirname(os.path.abspath(__file__)),
                               "SCALING.json")) as f:
            out["scaling"] = json.load(f)
    except OSError:
        pass
    line = json.dumps(out)

    # Durable record first: the round-1 driver run lost its entire perf
    # record because PySpark daemon BrokenPipe tracebacks at JVM shutdown
    # buried the stdout JSON line (BENCH_r01.json parsed: null). Write the
    # result to a file BEFORE any shutdown can pollute the streams.
    try:
        with open(os.path.join(os.path.dirname(os.path.abspath(__file__)),
                               "BENCH.json"), "w") as f:
            f.write(line + "\n")
    except OSError:
        pass

    # Stop Spark (and its Python-worker daemons) BEFORE printing so the
    # shutdown spew lands before the JSON line, then flush and hard-exit
    # to skip atexit handlers that re-trigger daemon tracebacks.
    try:
        spark.stop()
        time.sleep(1.0)  # let daemon stderr drain ahead of our line
    except Exception:
        pass
    shutil.rmtree(idx_dir, ignore_errors=True)  # don't leak tmpfs
    sys.stderr.flush()
    print(line, flush=True)
    os._exit(0)


if __name__ == "__main__":
    main()
