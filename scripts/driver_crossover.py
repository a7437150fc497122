#!/usr/bin/env python
"""Where Spark's parallel jobs start beating the driver path, and what
the driver path holds in memory, for queries, upserts and merges.

--op query (default): builds generated-corpus indexes of growing size
and times Searcher.search for a term, AND, OR and phrase query
(prune="auto", as perfbench queries) with codec.DRIVER_POSTINGS_BUDGET at
its maximum (every query runs on the driver) and at 0 (every query runs
its Spark plan). Prints, per query, the planned postings, the median
wall of each path, each path's postings per ms and the driver run's peak
traced memory, then the smallest planned postings at which the Spark
path won: the basis of the budget's value.

--op upsert: on a --base-doc index, times update_documents of batches of
--rows rows (half replaced keys, half new; read from parquet files, as
perfbench's upserts) with deletes.DRIVER_UPSERT_ROWS above every batch
(the driver path) and at 0 (the Spark build): the basis of the cap.

--op merge: builds --docs-doc indexes of four segments with a term
delete and times run_merge of all four with the budget at its maximum
and at 0; prints the merge's planned tokens (summed sum_dl): the basis
of reusing the budget for merges.

Each update and merge runs on a fresh copy of its index. Peak memory is
tracemalloc's (numpy arrays and Python objects; pyarrow's buffers are
not traced).

Usage: PYTHONPATH=. python scripts/driver_crossover.py
         [--op query|upsert|merge] [--docs 20000 100000 300000]
         [--queries term and or phrase] [--rows 100 1000 10000]
         [--base 2000] [--reps 3] [--cores 4]
"""

from __future__ import annotations

import argparse
import os
import shutil
import statistics
import sys
import tempfile
import time
import tracemalloc


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--op", choices=["query", "upsert", "merge"], default="query")
    ap.add_argument("--docs", type=int, nargs="+", default=None)
    ap.add_argument("--queries", nargs="+", default=["term", "and", "or", "phrase"])
    ap.add_argument("--rows", type=int, nargs="+", default=[100, 1000, 5000, 20000])
    ap.add_argument("--base", type=int, default=2000)
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument("--cores", type=int, default=os.cpu_count() or 4)
    args = ap.parse_args()
    if args.docs is None:
        args.docs = [2000, 10000, 40000] if args.op == "merge" else [20000, 100000, 300000]

    from pyspark.sql import SparkSession

    spark = (SparkSession.builder.master(f"local[{args.cores}]")
             .config("spark.sql.shuffle.partitions", str(args.cores))
             .config("spark.driver.memory", "4g")
             .config("spark.ui.enabled", "false").getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")
    tmp = tempfile.mkdtemp(prefix="driver_crossover_")
    print(f"host: {os.uname().nodename}, {args.cores} cores, reps {args.reps}")
    try:
        {"query": queries, "upsert": upserts, "merge": merges}[args.op](spark, args, tmp)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
        spark.stop()


def batches(spark, n, cores):
    """Docs [0, n) of an n-doc generated corpus, one segment per 600k: a
    build caches its batch in the 4 GiB heap, and a 1.2M-doc batch runs
    it out."""
    import pandas as pd

    from lucene_solr_spark.corpus import gen_corpus_spark, gen_doc

    def gen(it):
        for b in it:
            yield pd.DataFrame([gen_doc(int(i), n) for i in b["id"]])

    for lo in range(0, n, 600_000):
        ids = spark.range(lo, min(n, lo + 600_000), numPartitions=cores)
        yield f"b{lo}", ids.mapInPandas(gen, gen_corpus_spark(spark, 1).schema)


def timed(run, reps):
    """Median ms of reps calls of run() after one warm-up call."""
    run()
    times = []
    for _ in range(reps):
        t = time.perf_counter()
        run()
        times.append((time.perf_counter() - t) * 1e3)
    return statistics.median(times)


def traced_mb(run):
    """Peak traced MB of one run() call."""
    tracemalloc.start()
    run()
    peak = tracemalloc.get_traced_memory()[1] / 2**20
    tracemalloc.stop()
    return peak


def report(crossings, unit):
    if crossings:
        size, label = min(crossings)
        print(f"Spark path first wins at {size} {unit} ({label})")
    else:
        print("the driver path won every run")


def queries(spark, args, tmp):
    from lucene_solr_spark import codec
    from lucene_solr_spark.indexing.builder import build_index
    from lucene_solr_spark.queryast import (BooleanClause, BooleanQuery, Occur,
                                            PhraseQuery, TermQuery)
    from lucene_solr_spark.search import executor

    def boolean(occur, *terms):
        return BooleanQuery(clauses=tuple(
            BooleanClause(occur, TermQuery(term=t)) for t in terms))

    qs = {
        "term": TermQuery(term="import"),
        "and": boolean(Occur.MUST, "import", "return"),
        "or": boolean(Occur.SHOULD, "public", "static", "void"),
        "phrase": PhraseQuery(terms=("public", "static")),
    }
    print(f"{'docs':>8} {'query':>6} {'postings':>9} {'driver ms':>10} "
          f"{'spark ms':>9} {'drv post/ms':>11} {'spk post/ms':>11} {'drv MB':>7}")
    crossings = []
    for n in args.docs:
        index_dir = os.path.join(tmp, f"idx{n}")
        build_index(spark, index_dir, list(batches(spark, n, args.cores)))
        s = executor.Searcher(executor.IndexReader(spark, index_dir))
        for name in args.queries:
            q, wall = qs[name], {}
            for path, budget in (("driver", sys.maxsize), ("spark", 0)):
                codec.DRIVER_POSTINGS_BUDGET = budget
                wall[path] = timed(lambda: s.search(q, k=10, prune="auto"), args.reps)
            p = s.last_plan["postings_planned"]
            codec.DRIVER_POSTINGS_BUDGET = sys.maxsize
            peak = traced_mb(lambda: s.search(q, k=10, prune="auto"))
            print(f"{n:>8} {name:>6} {p:>9} {wall['driver']:>10.1f} "
                  f"{wall['spark']:>9.1f} {p / wall['driver']:>11.0f} "
                  f"{p / wall['spark']:>11.0f} {peak:>7.0f}", flush=True)
            if wall["spark"] < wall["driver"]:
                crossings.append((p, f"{name}, {n} docs"))
        shutil.rmtree(index_dir)
    report(crossings, "planned postings")


def upserts(spark, args, tmp):
    import pandas as pd

    from lucene_solr_spark.corpus import gen_doc
    from lucene_solr_spark.indexing import deletes
    from lucene_solr_spark.indexing.builder import build_index

    base_dir = os.path.join(tmp, "base")
    build_index(spark, base_dir, list(batches(spark, args.base, args.cores)))
    print(f"base index: {args.base} docs")
    print(f"{'rows':>8} {'driver ms':>10} {'spark ms':>9} {'drv MB':>7}")
    crossings = []
    for r in args.rows:
        # half the rows replace base docs (same keys, other content), the
        # rest are new keys
        rows = []
        for i in range(r):
            doc = gen_doc(i % args.base, args.base)
            doc["content"] = gen_doc(args.base + i, args.base)["content"]
            if i >= min(r // 2, args.base):
                doc["path"] += f".new{i}"
            rows.append(doc)
        src = os.path.join(tmp, f"upsert{r}")
        spark.createDataFrame(pd.DataFrame(rows)).repartition(args.cores).write.parquet(src)
        wall = {}

        def run():
            idx = os.path.join(tmp, "idx")
            shutil.rmtree(idx, ignore_errors=True)
            shutil.copytree(base_dir, idx)
            deletes.update_documents(spark, idx, spark.read.parquet(src))

        for path, cap in (("driver", 10**9), ("spark", 0)):
            deletes.DRIVER_UPSERT_ROWS = cap
            wall[path] = timed(run, args.reps)
        deletes.DRIVER_UPSERT_ROWS = 10**9
        peak = traced_mb(run)
        print(f"{r:>8} {wall['driver']:>10.1f} {wall['spark']:>9.1f} {peak:>7.0f}",
              flush=True)
        if wall["spark"] < wall["driver"]:
            crossings.append((r, f"{r} rows"))
    report(crossings, "batch rows")


def merges(spark, args, tmp):
    from lucene_solr_spark import codec
    from lucene_solr_spark.indexing import deletes, merge
    from lucene_solr_spark.indexing.builder import build_index
    from lucene_solr_spark.indexing.manifest import ManifestStore

    print(f"{'docs':>8} {'tokens':>9} {'driver ms':>10} {'spark ms':>9} "
          f"{'drv tok/ms':>10} {'spk tok/ms':>10} {'drv MB':>7}")
    crossings = []
    for n in args.docs:
        src = os.path.join(tmp, f"merge{n}")
        (_, df), = batches(spark, n, args.cores)
        quarters = [(f"q{i}", df.where(f"pmod(hash(path), 4) = {i}"))
                    for i in range(4)]
        build_index(spark, src, quarters)
        deletes.delete_by_terms(spark, src, ["ident007"])
        tokens = ManifestStore(src).load().sum_dl
        wall = {}

        def run():
            idx = os.path.join(tmp, "idx")
            shutil.rmtree(idx, ignore_errors=True)
            shutil.copytree(src, idx)
            store = ManifestStore(idx)
            m = store.load()
            merge.run_merge(spark, store, m, m.segments)

        for path, budget in (("driver", sys.maxsize), ("spark", 0)):
            codec.DRIVER_POSTINGS_BUDGET = budget
            wall[path] = timed(run, args.reps)
        codec.DRIVER_POSTINGS_BUDGET = sys.maxsize
        peak = traced_mb(run)
        print(f"{n:>8} {tokens:>9} {wall['driver']:>10.1f} {wall['spark']:>9.1f} "
              f"{tokens / wall['driver']:>10.0f} {tokens / wall['spark']:>10.0f} "
              f"{peak:>7.0f}", flush=True)
        if wall["spark"] < wall["driver"]:
            crossings.append((tokens, f"{n} docs"))
        shutil.rmtree(src)
    report(crossings, "tokens")


if __name__ == "__main__":
    main()
