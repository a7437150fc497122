#!/usr/bin/env python
"""Spark-free micro-bench of the term reader (manifest._read_term_rows):
what one term lookup costs, on a built index.

For a head term (the largest df), a tail term (a smallest-df one) and a
3-term OR (head, a median-df term, tail), prints per read kind (the
scorer's blk read of term, min_doc and blob; the statistics read of the
term-stats files) the median ms per call, the row groups read and the
compressed bytes of the column chunks read. The footers are parsed
once, as IndexReader does at open; that parse is timed on its own.

--rows R...: time copies of the index whose blk and term-stats files are
rewritten in R-row groups under the writer's encoding rules
(builder._PartFile), and print each copy's file bytes: the row-group
size table. Without it, the index is timed as it is.

--build N: first build a generated N-doc index in --index (this step
alone runs Spark).

Usage: PYTHONPATH=. python scripts/term_read_bench.py --index DIR
         [--build 30000] [--rows 2048 4096 16384] [--reps 20]
"""

from __future__ import annotations

import argparse
import os
import shutil
import statistics
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from lucene_solr_spark.indexing import builder  # noqa: E402
from lucene_solr_spark.indexing.manifest import (ManifestStore, _data_files,  # noqa: E402
                                                 _read_term_rows, postings_path,
                                                 read_footer)

READS = {"blk": ["term", "min_doc", "blob"], "stats": ["term", "df", "ttf"]}


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--index", required=True)
    ap.add_argument("--build", type=int, default=None)
    ap.add_argument("--rows", type=int, nargs="+", default=None)
    ap.add_argument("--reps", type=int, default=20)
    args = ap.parse_args()
    if args.build:
        build(args.index, args.build)
    files = part_files(args.index)
    if not args.rows:
        bench(files, None, args.reps)
        return
    tmp = tempfile.mkdtemp(prefix="term_read_bench_")
    try:
        for rows in args.rows:
            bench(rewrite(files, os.path.join(tmp, str(rows)), rows), rows, args.reps)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def build(index_dir: str, n: int) -> None:
    from pyspark.sql import SparkSession

    from lucene_solr_spark.corpus import gen_corpus_spark
    from lucene_solr_spark.indexing.builder import build_index

    spark = (SparkSession.builder.master("local[4]")
             .config("spark.sql.shuffle.partitions", "4")
             .config("spark.ui.enabled", "false").getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")
    try:
        build_index(spark, index_dir, [("b0", gen_corpus_spark(spark, n))])
    finally:
        spark.stop()


def part_files(index_dir: str) -> dict:
    """{"blk": paths, "stats": paths} of the live segments."""
    store = ManifestStore(index_dir)
    segs = [store.segment_dir(s.name) for s in store.load().segments]
    return {"blk": [f for d in segs for f in _data_files(postings_path(d))],
            "stats": [f for d in segs
                      for f in _data_files(os.path.join(d, "term_stats.parquet"))]}


def rewrite(files: dict, out: str, rows: int) -> dict:
    """Copies of the files in rows-row groups, written by the writer."""
    import pyarrow.parquet as pq

    builder.ROW_GROUP_ROWS = rows
    new = {}
    for kind, paths in files.items():
        new[kind] = []
        for i, p in enumerate(paths):
            t = pq.read_table(p)
            f = builder._PartFile(os.path.join(out, kind, f"part-{i:05d}.parquet"),
                                  t.schema, by_term=True)
            f.write(t)
            f.close(keep_empty=True)
            new[kind].append(f.path)
    return new


def pick_terms(stats_files) -> dict:
    import pyarrow.parquet as pq
    import pyarrow as pa

    t = pa.concat_tables([pq.read_table(f, columns=["term", "df"]) for f in stats_files])
    df = t.group_by("term").aggregate([("df", "sum")]).sort_by(
        [("df_sum", "descending"), ("term", "ascending")])
    terms = df.column("term").to_pylist()
    head, mid, tail = terms[0], terms[len(terms) // 2], terms[-1]
    return {"head": [head], "tail": [tail], "or3": [head, mid, tail]}


def read_cost(footers, cols, terms):
    """(row groups, compressed bytes) a read of terms opens."""
    want = sorted(terms)
    groups = nbytes = 0
    for f in footers:
        names = [f.meta.schema.column(i).path.split(".")[0]
                 for i in range(f.meta.num_columns)]
        for g in f.groups(want):
            rg = f.meta.row_group(g)
            groups += 1
            nbytes += sum(rg.column(i).total_compressed_size
                          for i, n in enumerate(names) if n in cols)
    return groups, nbytes


def bench(files: dict, rows, reps: int) -> None:
    t0 = time.perf_counter()
    footers = {k: [read_footer(f) for f in v] for k, v in files.items()}
    open_ms = (time.perf_counter() - t0) * 1e3
    size = sum(os.path.getsize(f) for v in files.values() for f in v)
    label = "as written" if rows is None else f"{rows}-row groups"
    print(f"== {label}: {size:,} bytes in {sum(map(len, files.values()))} files, "
          f"{sum(len(f.lo) for v in footers.values() for f in v)} row groups, "
          f"footers parsed in {open_ms:.1f} ms")
    print(f"{'read':>6} {'query':>5} {'rows':>6} {'ms/call':>8} {'groups':>7} {'bytes':>10}")
    for name, terms in pick_terms(files["stats"]).items():
        for kind, cols in READS.items():
            n = _read_term_rows(footers[kind], cols, terms).num_rows
            times = []
            for _ in range(reps):
                t = time.perf_counter()
                _read_term_rows(footers[kind], cols, terms)
                times.append((time.perf_counter() - t) * 1e3)
            groups, nbytes = read_cost(footers[kind], cols, terms)
            print(f"{kind:>6} {name:>5} {n:>6} {statistics.median(times):>8.2f} "
                  f"{groups:>7} {nbytes:>10,}", flush=True)


if __name__ == "__main__":
    main()
