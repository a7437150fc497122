"""SQL surface over the index tables.

The reference exposes the index to SQL through Solr's Parallel SQL
handler (solr/core/.../handler/sql/CalciteSolrDriver.java, JDBCStream
solrj/.../io/stream/JDBCStream.java): Calcite plans SQL onto streaming
expressions. The Spark-first analog needs no bridge at all — the
index's relations (term dictionary + stats, document metadata,
deleted doc ids) ARE DataFrames; registering them as temp views makes the
whole Spark SQL dialect (joins, windows, CTEs) the query language,
planned by Catalyst instead of Calcite, with predicate pushdown into
the index parquet for free.

Usage:
    register_index_views(spark, index_dir, prefix="idx")
    spark.sql("SELECT term, df FROM idx_term_stats ORDER BY df DESC")
"""

from __future__ import annotations

import pandas as pd

from .indexing.deletes import dead_docs
from .indexing.manifest import ManifestStore, doc_meta_path, postings_path


def register_index_views(spark, index_dir: str, prefix: str = "idx") -> list:
    """Register the live index relations as temp views:
    <prefix>_term_stats(term, df, ttf) with one row per term (the
    segments' per-partition rows summed), <prefix>_doc_meta(doc_id,
    repo, path, ...), <prefix>_postings(term, n, min_doc, max_doc, ...
    blob), <prefix>_deletes(doc_id). Returns the view names."""
    from pyspark.sql import functions as F

    store = ManifestStore(index_dir)
    manifest = store.load()
    segs = [store.segment_dir(s.name) for s in manifest.segments]
    if not segs:
        raise ValueError(f"no live segments in {index_dir}")
    views = []

    def reg(name: str, df) -> None:
        df.createOrReplaceTempView(name)
        views.append(name)

    reg(f"{prefix}_term_stats",
        spark.read.parquet(*[f"{d}/term_stats.parquet" for d in segs])
        .groupBy("term").agg(F.sum("df").alias("df"), F.sum("ttf").alias("ttf")))
    reg(f"{prefix}_doc_meta",
        spark.read.parquet(*[doc_meta_path(d) for d in segs]))
    reg(f"{prefix}_postings",
        spark.read.parquet(*[postings_path(d) for d in segs]))
    dead = dead_docs(store, manifest.segments)
    if dead is not None:
        reg(f"{prefix}_deletes",
            spark.createDataFrame(pd.DataFrame({"doc_id": dead.ids()}), "doc_id long"))
    return views
