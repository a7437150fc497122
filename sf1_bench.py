#!/usr/bin/env python
"""Scale-curve evidence at sf1 (2M docs — 10x the bench.py index).

The round-3 verdict asked for sub-linear query-cost evidence vs corpus
growth: all correctness/bench artifacts ran at <=0.1 (200k-doc index),
so the 100-TB claims rested on plan shape alone. This harness builds a
2M-doc segment index over the same deterministic corpus generator and
times the headline query shapes (term/AND/OR/phrase, exhaustive and
WAND-pruned, span, facet) with WAND's decoded-block fraction logged —
a pruned top-k whose decode fraction FALLS as the corpus grows is the
sub-linear story (block-max skipping touches O(k + matched blocks),
not O(corpus)).

Protocol mirrors bench.py: corpus pre-materialized as sorted parquet
(the Iceberg sort-order analog), one chamber per corpus file, one
FULL-SIZE untimed warmup build (first-touch page faults on this lazily
paged VM are a one-time cluster-executor cost, not steady state), then
a timed build and median-of-3 query reps.

Usage: python sf1_bench.py [--docs 2000000]
Writes SF1.json and prints ONE JSON line.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def _burn(seed):
    # module-top-level: mp.Pool pickles tasks by reference
    import numpy as np
    rng = np.random.default_rng(seed)
    a = rng.integers(0, 1 << 40, 1_000_000)
    for _ in range(3):
        o = np.argsort(a, kind="stable")
        a = a[o] ^ (a >> 3)
    return int(a[0])


def host_control() -> dict:
    """Same memory-bound argsort control scaling_bench.py brackets its
    timed runs with: per-proc rate single-threaded vs at CPUS-way
    concurrency. The ratio is the HOST's parallel memory ceiling in
    this window — it contextualizes the build docs/s (this hypervisor's
    aggregate memory throughput swings minute to minute; see
    BASELINE.md round-4 scaling notes)."""
    import multiprocessing as mp
    import time as _t
    _burn(0)
    t0 = _t.time()
    for i in range(2):
        _burn(i)
    single = 2.0 / (_t.time() - t0)
    with mp.Pool(CPUS) as p:
        p.map(_burn, range(CPUS))
        t0 = _t.time()
        p.map(_burn, range(CPUS, 3 * CPUS))
        par = 2.0 / (_t.time() - t0)
    return {"single_proc_rate": round(single, 3),
            f"per_proc_rate_{CPUS}way": round(par, 3),
            "host_parallel_frac": round(par / single, 3)}


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--docs", type=int, default=2_000_000)
    ap.add_argument("--skip-warmup-build", action="store_true",
                    help="reuse an existing warm JVM state; build once")
    args = ap.parse_args()
    docs = args.docs

    from pyspark.sql import functions as F

    from lucene_solr_spark.corpus import gen_corpus_spark
    from lucene_solr_spark.indexing.builder import build_index
    from lucene_solr_spark.queryast import (
        BooleanClause, BooleanQuery, Occur, PhraseQuery, TermQuery,
    )
    from lucene_solr_spark.search.executor import IndexReader, Searcher
    from lucene_solr_spark.session import get_spark

    os.environ.setdefault("SPARK_GRAFT_JAVA_OPTS",
                          "-Xms16g -XX:+AlwaysPreTouch")
    spark = get_spark("lss-sf1", master=f"local[{CPUS}]",
                      shuffle_partitions=CPUS)
    spark.sparkContext.setLogLevel("ERROR")
    out: dict = {"metric": "sf1 scale curve: 2M-doc build + query walls "
                           "+ WAND decode fractions",
                 "unit": "sec", "docs": docs, "cpus": CPUS}
    timings: dict[str, float] = {}
    wand_frac: dict[str, dict] = {}
    t_all = time.time()

    corpus_path = f"/tmp/lss_bench_corpus_{docs}_sorted"
    # tmpfs: the VM's virtio-blk queue inverts under 32-way concurrent
    # writes (see bench.py / BASELINE.md); per-executor disks on a real
    # cluster scale with cluster size
    idx_dir = "/dev/shm/lss_sf1_index"
    if not os.path.exists(os.path.join(corpus_path, "_SUCCESS")):
        shutil.rmtree(corpus_path, ignore_errors=True)
        t0 = time.time()
        (gen_corpus_spark(spark, docs, partitions=64)
         .repartitionByRange(64, "repo", "path")
         .sortWithinPartitions("repo", "path")
         .write.parquet(corpus_path))
        timings["corpus_gen"] = round(time.time() - t0, 3)
    max_file = max(os.path.getsize(os.path.join(corpus_path, f))
                   for f in os.listdir(corpus_path) if f.endswith(".parquet"))
    spark.conf.set("spark.sql.files.maxPartitionBytes", str(max_file + (1 << 20)))
    spark.conf.set("spark.sql.files.openCostInBytes", "0")
    corpus = spark.read.parquet(corpus_path)

    if not args.skip_warmup_build:
        build_index(spark, idx_dir, [("sf1", corpus)], analyzer="standard",
                    norms="byte", assume_sorted=True)
    shutil.rmtree(idx_dir, ignore_errors=True)
    t0 = time.time()
    build_index(spark, idx_dir, [("sf1", corpus)], analyzer="standard",
                norms="byte", assume_sorted=True)
    build_s = time.time() - t0
    timings["index_build"] = round(build_s, 3)
    out["index_build"] = {"docs": docs, "wall_s": round(build_s, 3),
                          "docs_per_sec": round(docs / build_s, 1),
                          "cpus": CPUS}

    reader = IndexReader(spark, idx_dir)
    searcher = Searcher(reader, precision="float32")
    queries = {
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

    def median3(fn) -> float:
        reps = []
        for _ in range(3):
            t0 = time.time()
            fn()
            reps.append(time.time() - t0)
        return sorted(reps)[1]

    for name, q in queries.items():
        timings[name] = round(median3(lambda: searcher.search(q, k=10)), 3)
    for name, q in (("bm25_term_wand", queries["bm25_term"]),
                    ("bm25_or_wand", queries["bm25_or"])):
        # prune="auto" plans the block-max keep-set (rank-identical to
        # exhaustive) and times the pruned plan; its plan is recorded
        # beside the decode fraction (blocks kept / blocks total) of
        # one untimed prune=True rep, the same plan.
        timings[name] = round(
            median3(lambda: searcher.search(q, k=10, prune="auto")), 3)
        plan = searcher.last_plan
        searcher.search(q, k=10, prune=True)
        st = dict(searcher.last_wand_stats)
        st["decode_fraction"] = round(
            st["blocks_decoded"] / max(1, st["blocks_total"]), 4)
        st["plan"] = plan
        wand_frac[name] = st

    # span: 3-term ordered near over common corpus tokens
    timings["span_near"] = round(median3(
        lambda: searcher.span_near(["def", "self", "return"], slop=4)
        .orderBy(F.desc("score"), F.asc("doc_id")).limit(10).collect()), 3)

    # -- segment suite at 2M docs (r4 verdict ask #6: the sf1 curve
    # covered only the core four; these put the pluggable-similarity,
    # passage-highlight and span paths of the PERSISTED index under the
    # same 10x-docs lens) ---------------------------------------------------
    timings["seg_span_near"] = timings["span_near"]  # same engine path
    timings["seg_lm_dirichlet"] = round(median3(
        lambda: searcher.similarity_term_query("import", "lm_dirichlet")
        .orderBy(F.desc("score"), F.asc("doc_id")).limit(10).collect()), 3)
    timings["seg_passage_highlight"] = round(median3(
        lambda: searcher.passage_highlight(["def", "class"], window=16,
                                           k=10).collect()), 3)

    # -- curation path at 2M docs: SimHash + MinHash-LSH near-dup
    # discovery over the full bench corpus (content column) — the
    # banded/bucketed shapes' scale evidence, not a 500-doc sample ----------
    from lucene_solr_spark.datapipe import dedup as _dd

    ded_src = corpus.select(
        F.xxhash64("repo", "path").alias("doc_id"),
        F.col("content").alias("text"))
    # bucket_cap=256: the synthetic corpus is pathologically self-
    # similar (templated source files — one SimHash band bucket holds
    # 447k of the 2M docs; capped candidate bounds measured 9e11
    # uncapped / 281M at cap 1024 / 49M at cap 256), so the megacluster
    # star-edge path IS the operation under test here, exactly as a
    # boilerplate-heavy web crawl would exercise it.
    t0 = time.time()
    n_sim = _dd.simhash_near_pairs(ded_src, max_hamming=3,
                                   bucket_cap=256).count()
    timings["dedup_simhash_2m"] = round(time.time() - t0, 3)
    t0 = time.time()
    n_mh = _dd.minhash_lsh_pairs(ded_src, bucket_cap=256).count()
    timings["dedup_minhash_lsh_2m"] = round(time.time() - t0, 3)
    out["dedup_pairs"] = {"simhash": int(n_sim), "minhash_lsh": int(n_mh),
                          "docs": docs, "bucket_cap": 256}

    # facets: term facet from the persisted dictionary stats (top-10 df
    # terms — one agg over term_stats, no postings decode) and a
    # field-value facet over the source table (scan-side)
    timings["facet_top_terms"] = round(median3(
        lambda: reader.stats
        .groupBy("term").agg(F.sum("df").alias("df"))
        .orderBy(F.desc("df"), F.asc("term")).limit(10).collect()), 3)
    timings["facet_lang_counts"] = round(median3(
        lambda: corpus.groupBy("lang").count()
        .orderBy(F.desc("count"), F.asc("lang")).limit(20).collect()), 3)

    out["queries"] = timings
    out["wand"] = wand_frac
    out["host_control"] = host_control()
    out["value"] = round(time.time() - t_all, 3)

    # scale-curve ratio vs the 200k-doc official bench (10x fewer docs):
    # query walls growing far slower than 10x is the sub-linear story
    try:
        with open(os.path.join(os.path.dirname(os.path.abspath(__file__)),
                               "BENCH.json")) as f:
            small = json.load(f)["queries"]
        out["vs_200k"] = {
            k: {"sf1_s": timings[k], "bench_200k_s": small[k],
                "wall_ratio_at_10x_docs": round(timings[k] / small[k], 2)}
            for k in ("bm25_term", "bm25_and", "bm25_or", "bm25_phrase",
                      "bm25_term_wand", "bm25_or_wand")
            if k in small and small[k] > 0
        }
    except (OSError, KeyError, json.JSONDecodeError):
        pass

    line = json.dumps(out)
    with open(os.path.join(os.path.dirname(os.path.abspath(__file__)),
                           "SF1.json"), "w") as f:
        f.write(line + "\n")
    try:
        spark.stop()
        time.sleep(1.0)
    except Exception:
        pass
    shutil.rmtree(idx_dir, ignore_errors=True)  # don't leak tmpfs
    sys.stderr.flush()
    print(line, flush=True)
    os._exit(0)


if __name__ == "__main__":
    main()
