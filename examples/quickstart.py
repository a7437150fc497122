"""Quickstart: the Lucene/Solr workflows, Spark-first.

Run:  python examples/quickstart.py
(uses a deterministic synthetic corpus; ~1 min on local[8])
"""

from __future__ import annotations

import os
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession, functions as F


def main() -> None:
    spark = (
        SparkSession.builder.appName("lss-quickstart")
        .master("local[8]")
        .config("spark.sql.shuffle.partitions", "8")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    from lucene_solr_spark.corpus import gen_corpus_pdf
    from lucene_solr_spark.indexing.builder import build_index
    from lucene_solr_spark.indexing.check import check_index
    from lucene_solr_spark.indexing.merge import force_merge
    from lucene_solr_spark.indexing import deletes
    from lucene_solr_spark.queryast import parse_query
    from lucene_solr_spark.search.executor import IndexReader, Searcher
    from lucene_solr_spark.analysis import standard_analyze

    pdf = gen_corpus_pdf(2000)
    corpus = spark.createDataFrame(pdf)
    idx = os.path.join(tempfile.mkdtemp(), "quickstart_index")

    # 1. IndexWriter: build a persisted segment index (two batches ->
    #    two segments; resumable, manifest-committed)
    build_index(spark, idx,
                [("batch0", spark.createDataFrame(pdf.iloc[:1000])),
                 ("batch1", spark.createDataFrame(pdf.iloc[1000:]))])

    # 2. IndexSearcher: classic query syntax, BM25 top-k, WAND pruning
    analyzer = lambda s: [t for t, _ in standard_analyze(s)]  # noqa: E731
    searcher = Searcher(IndexReader(spark, idx))
    q = parse_query('import AND "public static"', analyzer=analyzer)
    print("top-5:", searcher.search(q, k=5).to_dict("records"))
    q_or = parse_query("class OR ident007", analyzer=analyzer)
    print("wand top-3:", searcher.search(q_or, k=3, prune=True).to_dict("records"))

    # 2b. segment-native spans, sloppy phrases and pluggable
    #     similarities — the persisted index answers everything the
    #     live surface answers (decode + shared scoring expressions)
    print("seg span near:", searcher.span_near(["public", "static"], slop=2)
          .orderBy(F.desc("score")).limit(3).collect())
    print("seg lm dirichlet:",
          searcher.similarity_term_query("import", "lm_dirichlet")
          .orderBy(F.desc("score")).limit(3).collect())

    # 3. deletes + tiered merge + integrity check; background merges
    #    (ConcurrentMergeScheduler analog) overlap later batch builds
    from lucene_solr_spark.indexing.scheduler import ConcurrentMergeScheduler

    deletes.delete_by_terms(spark, idx, ["ident007"])
    sched = ConcurrentMergeScheduler(spark, idx)
    sched.maybe_merge()   # non-blocking: merges run on pool threads
    sched.close()
    force_merge(spark, idx, max_segments=1)
    print("check:", check_index(spark, idx)["clean"])

    # 4. live surface over any table: builds one temp segment on first
    #    use (no index to manage), answers with the caller's ids
    from lucene_solr_spark.fulltext import FulltextIndex

    live = FulltextIndex(
        corpus.select(F.monotonically_increasing_id().alias("doc_id"),
                      F.col("content").alias("text"))
    )
    print("live bm25:", [r["doc_id"] for r in live.term_query("import", k=3).collect()])
    print("suggest:", [r["term"] for r in live.suggest("ide", 3).collect()])
    print("span near:", [r["doc_id"] for r in
                         live.span_near(["public", "static"], slop=2, k=3).collect()])
    print("lm dirichlet:", [r["doc_id"] for r in
                            live.lm_dirichlet_term_query("import", k=3).collect()])

    # 5. training-data ops: exact dedup + simhash near-dup
    from lucene_solr_spark.datapipe import dedup

    docs = corpus.select(F.monotonically_increasing_id().alias("doc_id"),
                         F.col("content").alias("text"))
    print("exact-dup rows:",
          dedup.exact_dedup(docs).where(F.col("group_size") > 1).count())

    # 6. composed curation: exact collapse -> near-dup clusters ->
    #    canonical election -> quality gate (one keep bit per doc)
    from lucene_solr_spark.datapipe.curate import curate

    decision = curate(docs)
    print("curation keep/drop:",
          decision.groupBy("keep").count().orderBy("keep").collect())
    spark.stop()


if __name__ == "__main__":
    main()
