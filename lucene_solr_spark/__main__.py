"""Command-line surface: the IndexWriter/IndexSearcher/solr-admin
workflow as subcommands.

  python -m lucene_solr_spark index  --corpus c.parquet --index ./idx [--sorted]
  python -m lucene_solr_spark search --index ./idx --query 'import AND def' [-k 10] [--wand]
  python -m lucene_solr_spark count  --index ./idx --query 'import'
  python -m lucene_solr_spark merge  --index ./idx [--force 1]
  python -m lucene_solr_spark delete --index ./idx --terms import,def
  python -m lucene_solr_spark stats  --index ./idx
"""

from __future__ import annotations

import argparse
import json
import sys
import time


def _spark():
    from .session import get_spark

    s = get_spark("lss-cli")
    s.sparkContext.setLogLevel("ERROR")
    return s


def _analyzer(text: str):
    from .analysis import standard_analyze

    return [t for t, _ in standard_analyze(text)]


def cmd_index(args) -> dict:
    from .indexing.builder import build_index

    spark = _spark()
    corpus = spark.read.parquet(args.corpus)
    fields = None
    if args.fields:
        # "name:source_col[:analyzer],..." -> multi-field build
        fields = []
        for spec in args.fields.split(","):
            parts = spec.split(":")
            if len(parts) not in (2, 3):
                raise SystemExit(
                    f"--fields: bad spec {spec!r} "
                    "(want name:source_col[:analyzer])"
                )
            fields.append(tuple(parts))
    t0 = time.time()
    m = build_index(spark, args.index, [(args.batch, corpus)],
                    assume_sorted=args.sorted, fields=fields,
                    index_sort=args.index_sort.split(",") if args.index_sort else None)
    dt = time.time() - t0
    return {"docs": m.total_docs, "segments": len(m.segments),
            "build_s": round(dt, 2), "docs_per_sec": round(m.total_docs / dt, 1)}


def cmd_search(args) -> dict:
    from .queryast import parse_query
    from .search.executor import IndexReader, Searcher

    spark = _spark()
    s = Searcher(IndexReader(spark, args.index),
                 default_field=args.default_field)
    t0 = time.time()
    if args.sim != "bm25":
        # pluggable Similarity over the segment index: single-term only
        # (SimilarityBase.score plug point; float64 scoring)
        from pyspark.sql import functions as F

        toks = _analyzer(args.query)
        if len(toks) != 1:
            raise SystemExit(
                f"--sim {args.sim} takes a single-term query; "
                f"{args.query!r} analyzed to {toks}"
            )
        sc = s.similarity_term_query(toks[0], args.sim)
        rows = (sc.orderBy(F.desc("score"), F.asc("doc_id"))
                .limit(args.k).collect())
        return {
            "query": args.query, "similarity": args.sim,
            "ms": round((time.time() - t0) * 1000, 1),
            "hits": [{"rank": i + 1, "doc_id": int(r["doc_id"]),
                      "score": float(r["score"])}
                     for i, r in enumerate(rows)],
        }
    q = parse_query(args.query, analyzer=_analyzer)
    hits = s.search(q, k=args.k, prune=args.wand)
    return {
        "query": args.query,
        "ms": round((time.time() - t0) * 1000, 1),
        "hits": [
            {"rank": int(r.rank), "doc_id": int(r.doc_id), "score": float(r.score)}
            for r in hits.itertuples(index=False)
        ],
    }


def cmd_count(args) -> dict:
    from .queryast import parse_query
    from .search.executor import IndexReader, Searcher

    s = Searcher(IndexReader(_spark(), args.index))
    return {"query": args.query,
            "count": s.count(parse_query(args.query, analyzer=_analyzer))}


def cmd_merge(args) -> dict:
    from .indexing.merge import force_merge, maybe_merge

    spark = _spark()
    if args.force:
        m = force_merge(spark, args.index, max_segments=args.force)
    elif args.background:
        # ConcurrentMergeScheduler analog: merges on pool threads; the
        # CLI drains before exiting (a long-lived writer would keep it)
        from .indexing.scheduler import ConcurrentMergeScheduler

        sched = ConcurrentMergeScheduler(spark, args.index,
                                         max_threads=args.background)
        sched.maybe_merge()
        m = sched.close()
    else:
        m = maybe_merge(spark, args.index)
    return {"segments": len(m.segments), "docs": m.total_docs}


def cmd_delete(args) -> dict:
    from .indexing import deletes

    spark = _spark()
    n = deletes.delete_by_terms(spark, args.index, args.terms.split(","),
                                field=args.field)
    return {"deleted": n}


def cmd_check(args) -> dict:
    from .indexing.check import check_index

    return check_index(_spark(), args.index, decode_blocks=not args.fast,
                       raise_on_error=False)


def cmd_sorted_head(args) -> dict:
    from .search.executor import IndexReader

    r = IndexReader(_spark(), args.index)
    rows = r.sorted_head(args.k).collect()
    return {"index_sort": r.manifest.index_sort,
            "rows": [{c: row[c] for c in ("doc_id", "repo", "path")}
                     for row in rows]}


def cmd_stats(args) -> dict:
    from .indexing.manifest import ManifestStore

    m = ManifestStore(args.index).load()
    return {
        "generation": m.generation,
        "docs": m.total_docs,
        "sum_dl": m.sum_dl,
        "segments": [
            {"name": s.name, "docs": s.doc_count, "deleted": s.n_deleted, "bytes": s.size_bytes}
            for s in m.segments
        ],
        "lineage_entries": len(m.lineage),
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(prog="lucene_solr_spark")
    sub = ap.add_subparsers(dest="cmd", required=True)

    p = sub.add_parser("index")
    p.add_argument("--corpus", required=True)
    p.add_argument("--index", required=True)
    p.add_argument("--batch", default=f"cli_{int(time.time())}")
    p.add_argument("--sorted", action="store_true")
    p.add_argument("--fields", default=None,
                   help="multi-field spec: name:source_col[:analyzer],...")
    p.add_argument("--index-sort", dest="index_sort", default=None,
                   help="comma-separated columns: assign docIDs in this "
                        "order (setIndexSort analog; enables sorted-head)")

    p = sub.add_parser("search")
    p.add_argument("--index", required=True)
    p.add_argument("--query", required=True)
    p.add_argument("-k", type=int, default=10)
    p.add_argument("--wand", action="store_true")
    p.add_argument("--default-field", dest="default_field", default=None)
    p.add_argument("--sim", default="bm25",
                   choices=["bm25", "classic", "lm_dirichlet",
                            "lm_jelinek_mercer", "dfr_inl2", "dfi_chi2",
                            "ib_spl", "axiomatic_f2exp"],
                   help="similarity family (non-bm25: single-term query)")

    p = sub.add_parser("count")
    p.add_argument("--index", required=True)
    p.add_argument("--query", required=True)

    p = sub.add_parser("merge")
    p.add_argument("--index", required=True)
    p.add_argument("--force", type=int, default=0)
    p.add_argument("--background", type=int, default=0, metavar="THREADS",
                   help="run merges on N background threads (CMS analog)")

    p = sub.add_parser("delete")
    p.add_argument("--index", required=True)
    p.add_argument("--terms", required=True)
    p.add_argument("--field", default=None)

    p = sub.add_parser("sorted-head")
    p.add_argument("--index", required=True)
    p.add_argument("-k", type=int, default=10)

    p = sub.add_parser("stats")
    p.add_argument("--index", required=True)

    p = sub.add_parser("check")
    p.add_argument("--index", required=True)
    p.add_argument("--fast", action="store_true",
                   help="skip per-block decode verification")

    args = ap.parse_args(argv)
    out = {
        "index": cmd_index, "search": cmd_search, "count": cmd_count,
        "merge": cmd_merge, "delete": cmd_delete, "stats": cmd_stats,
        "check": cmd_check, "sorted-head": cmd_sorted_head,
    }[args.cmd](args)
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
