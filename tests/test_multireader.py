"""MultiReader / sharded search: two shard indexes with disjoint docID
ranges searched through the union view must rank-match a single index
over the concatenated corpus (exact cross-shard stats — the
ExactStatsCache distributed-scoring contract)."""

from __future__ import annotations

import pandas as pd
import pytest

from lucene_solr_spark.queryast import (
    BooleanClause, BooleanQuery, Occur, PhraseQuery, TermQuery, parse_query,
)

pytestmark = pytest.mark.spark


@pytest.fixture(scope="module")
def sharded(spark, tiny_corpus_pdf, tmp_path_factory):
    from lucene_solr_spark.indexing.builder import build_index
    from lucene_solr_spark.search.executor import IndexReader, MultiReader, Searcher

    base = tmp_path_factory.mktemp("shards")
    n = len(tiny_corpus_pdf)
    h = n // 2
    build_index(spark, str(base / "s0"),
                [("b", spark.createDataFrame(tiny_corpus_pdf.iloc[:h]))])
    build_index(spark, str(base / "s1"),
                [("b", spark.createDataFrame(tiny_corpus_pdf.iloc[h:]))],
                min_doc_base=100_000)
    build_index(spark, str(base / "all"),
                [("b", spark.createDataFrame(tiny_corpus_pdf))])
    multi = MultiReader([IndexReader(spark, str(base / "s0")),
                         IndexReader(spark, str(base / "s1"))])
    single = IndexReader(spark, str(base / "all"))
    return Searcher(multi), Searcher(single), single, multi


def _paths(reader, doc_ids):
    from pyspark.sql import functions as F

    rows = reader.doc_meta.where(F.col("doc_id").isin([int(d) for d in doc_ids])) \
        .select("doc_id", "path").collect()
    m = {r["doc_id"]: r["path"] for r in rows}
    return [m[int(d)] for d in doc_ids]


def test_stats_are_global(sharded):
    s_multi, s_single, single, multi = sharded
    assert multi.doc_count == single.doc_count
    assert multi.sum_dl == single.sum_dl
    assert multi.term_stats(["import"]) == single.term_stats(["import"])


QUERIES = ["import", "def AND class", "ident000 OR ident001 OR ident002",
           '"public static"', "import^2.5 OR ident007"]


@pytest.mark.parametrize("qs", QUERIES)
def test_sharded_rank_matches_single(sharded, qs):
    from lucene_solr_spark.analysis import standard_analyze

    s_multi, s_single, single, multi = sharded
    an = lambda t: [w for w, _ in standard_analyze(t)]
    q = parse_query(qs, analyzer=an)
    a = s_multi.search(q, k=10)
    b = s_single.search(q, k=10)
    # docIDs differ across layouts; identity = (path order, scores)
    assert _paths(multi, a["doc_id"]) == _paths(single, b["doc_id"]), qs
    assert list(a["score"]) == list(b["score"]), qs


def test_sharded_wand_rank_identical(sharded):
    s_multi, _, _, multi = sharded
    q = BooleanQuery(clauses=(
        BooleanClause(Occur.SHOULD, TermQuery(term="import")),
        BooleanClause(Occur.SHOULD, TermQuery(term="ident007")),
    ))
    a = s_multi.search(q, k=10)
    b = s_multi.search(q, k=10, prune=True)
    assert list(a["doc_id"]) == list(b["doc_id"])
    assert list(a["score"]) == list(b["score"])


def test_overlapping_shards_rejected(spark, tiny_corpus_pdf, tmp_path):
    from lucene_solr_spark.indexing.builder import build_index
    from lucene_solr_spark.search.executor import IndexReader, MultiReader

    a = str(tmp_path / "a")
    b = str(tmp_path / "b")
    build_index(spark, a, [("b", spark.createDataFrame(tiny_corpus_pdf.iloc[:50]))])
    build_index(spark, b, [("b", spark.createDataFrame(tiny_corpus_pdf.iloc[50:90]))])
    with pytest.raises(ValueError, match="overlap"):
        MultiReader([IndexReader(spark, a), IndexReader(spark, b)])


def test_overlap_after_purging_merge_rejected(spark, tiny_corpus_pdf, tmp_path):
    """A purging merge leaves doc_count below the segment's id range
    (doc_span): a shard whose doc_base lies inside that range overlaps
    it, though doc_base + doc_count would say it does not."""
    from lucene_solr_spark.indexing.builder import build_index
    from lucene_solr_spark.indexing.deletes import delete_by_keys
    from lucene_solr_spark.indexing.manifest import ManifestStore
    from lucene_solr_spark.indexing.merge import force_merge
    from lucene_solr_spark.search.executor import IndexReader, MultiReader

    a = str(tmp_path / "a")
    b = str(tmp_path / "b")
    build_index(spark, a, [("b0", spark.createDataFrame(tiny_corpus_pdf.iloc[:50])),
                           ("b1", spark.createDataFrame(tiny_corpus_pdf.iloc[50:90]))])
    gone = tiny_corpus_pdf.iloc[:3][["repo", "path"]]
    assert delete_by_keys(spark, a, spark.createDataFrame(gone)) == 3
    force_merge(spark, a, max_segments=1)
    seg = ManifestStore(a).load().segments[0]
    assert (seg.doc_base, seg.doc_count, seg.doc_span) == (0, 87, 90)
    build_index(spark, b, [("b", spark.createDataFrame(tiny_corpus_pdf.iloc[90:120]))],
                min_doc_base=seg.doc_count)
    with pytest.raises(ValueError, match="overlap"):
        MultiReader([IndexReader(spark, a), IndexReader(spark, b)])
