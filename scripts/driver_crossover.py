#!/usr/bin/env python
"""Where Spark's parallel decode starts beating the driver path of
Searcher.search, and what the driver path holds in memory.

Builds generated-corpus indexes of growing size and times search() for a
term, AND, OR and phrase query (prune="auto", as perfbench queries) with
executor.DRIVER_POSTINGS_BUDGET at its maximum (every query runs on the
driver) and at 0 (every query runs its Spark plan). Prints, per query,
the planned postings, the median wall of each path, each path's
postings per ms and the driver run's peak traced memory (tracemalloc:
numpy arrays and Python objects; pyarrow's buffers of the blk rows read
are not traced), then the smallest planned postings at which the Spark
path won: the basis of the budget's value.

Usage: PYTHONPATH=. python scripts/driver_crossover.py
         [--docs 20000 100000 300000] [--queries term and or phrase]
         [--reps 3] [--cores 4]
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
    ap.add_argument("--docs", type=int, nargs="+", default=[20000, 100000, 300000])
    ap.add_argument("--queries", nargs="+", default=["term", "and", "or", "phrase"])
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument("--cores", type=int, default=os.cpu_count() or 4)
    args = ap.parse_args()

    import pandas as pd
    from pyspark.sql import SparkSession

    from lucene_solr_spark.corpus import gen_corpus_spark, gen_doc
    from lucene_solr_spark.indexing.builder import build_index
    from lucene_solr_spark.queryast import (BooleanClause, BooleanQuery, Occur,
                                            PhraseQuery, TermQuery)
    from lucene_solr_spark.search import executor

    def boolean(occur, *terms):
        return BooleanQuery(clauses=tuple(
            BooleanClause(occur, TermQuery(term=t)) for t in terms))

    queries = {
        "term": TermQuery(term="import"),
        "and": boolean(Occur.MUST, "import", "return"),
        "or": boolean(Occur.SHOULD, "public", "static", "void"),
        "phrase": PhraseQuery(terms=("public", "static")),
    }
    def batches(n):
        """Docs [0, n) of an n-doc generated corpus, one segment per
        600k: a build caches its batch in the 4 GiB heap, and a 1.2M-doc
        batch runs it out."""
        def gen(it):
            for b in it:
                yield pd.DataFrame([gen_doc(int(i), n) for i in b["id"]])

        for lo in range(0, n, 600_000):
            ids = spark.range(lo, min(n, lo + 600_000), numPartitions=args.cores)
            yield f"b{lo}", ids.mapInPandas(gen, gen_corpus_spark(spark, 1).schema)

    spark = (SparkSession.builder.master(f"local[{args.cores}]")
             .config("spark.sql.shuffle.partitions", str(args.cores))
             .config("spark.driver.memory", "4g")
             .config("spark.ui.enabled", "false").getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")
    tmp = tempfile.mkdtemp(prefix="driver_crossover_")
    print(f"host: {os.uname().nodename}, {args.cores} cores, reps {args.reps}")
    print(f"{'docs':>8} {'query':>6} {'postings':>9} {'driver ms':>10} "
          f"{'spark ms':>9} {'drv post/ms':>11} {'spk post/ms':>11} {'drv MB':>7}")
    crossings = []
    try:
        for n in args.docs:
            index_dir = os.path.join(tmp, f"idx{n}")
            build_index(spark, index_dir, list(batches(n)))
            s = executor.Searcher(executor.IndexReader(spark, index_dir))
            for name in args.queries:
                q, wall = queries[name], {}
                for path, budget in (("driver", sys.maxsize), ("spark", 0)):
                    executor.DRIVER_POSTINGS_BUDGET = budget
                    s.search(q, k=10, prune="auto")  # warm-up
                    times = []
                    for _ in range(args.reps):
                        t = time.perf_counter()
                        s.search(q, k=10, prune="auto")
                        times.append((time.perf_counter() - t) * 1e3)
                    wall[path] = statistics.median(times)
                p = s.last_plan["postings_planned"]
                executor.DRIVER_POSTINGS_BUDGET = sys.maxsize
                tracemalloc.start()
                s.search(q, k=10, prune="auto")
                peak = tracemalloc.get_traced_memory()[1] / 2**20
                tracemalloc.stop()
                print(f"{n:>8} {name:>6} {p:>9} {wall['driver']:>10.1f} "
                      f"{wall['spark']:>9.1f} {p / wall['driver']:>11.0f} "
                      f"{p / wall['spark']:>11.0f} {peak:>7.0f}", flush=True)
                if wall["spark"] < wall["driver"]:
                    crossings.append((p, n, name))
            shutil.rmtree(index_dir)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
        spark.stop()
    if crossings:
        p, n, name = min(crossings)
        print(f"Spark path first wins at {p} planned postings ({name}, {n} docs)")
    else:
        print("the driver path won every query")


if __name__ == "__main__":
    main()
