"""Driver contract for the spark-graft builder (PySpark target).

``entry`` runs the flagship top-k BM25 boolean query over the sf0.001
``documents`` table through the engine's live fulltext surface
(lucene_solr_spark/fulltext.py): its first call builds the temp
segment index that every ft_* query then shares. ``queries``/``oracle_sql``
expose the operator inventory (SURVEY.md §2) with DuckDB-checkable
ANSI-SQL oracles (lucene_solr_spark/entry_queries.py).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from lucene_solr_spark import entry_queries


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: boolean OR BM25 top-10 over sf0.001 documents."""
    return entry_queries.ft_bool_or_bm25(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return entry_queries.queries()


def oracle_sql() -> dict[str, str]:
    return entry_queries.oracle_sql()
