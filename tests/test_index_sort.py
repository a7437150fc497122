"""Index sorting (IndexWriterConfig.setIndexSort analog): docID order
follows the declared sort, sorted_head early-terminates per segment and
merge-sorts the survivors, and the sort is sticky across appends.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from lucene_solr_spark.indexing.builder import build_index
from lucene_solr_spark.search.executor import IndexReader


def corpus_df(spark, rows):
    return spark.createDataFrame(
        rows, "repo string, path string, commit string, lang string, content string")


def rows_for(langs, repo, n=6):
    out = []
    for lang in langs:
        for i in range(n):
            out.append((repo, f"{lang}/f{i}.txt", "c0", lang,
                        f"{lang} tokens alpha beta doc number {i} repo {repo}"))
    return out


def test_sorted_head_single_segment(spark, tmp_path):
    df = corpus_df(spark, rows_for(["go", "java", "py"], "r1"))
    idx = str(tmp_path / "ix")
    build_index(spark, idx, [("b1", df)], norms="exact",
                index_sort=["lang", "path"])
    r = IndexReader(spark, idx)
    assert r.manifest.index_sort == ["lang", "path"]
    got = [(x["lang"], x["path"]) for x in r.sorted_head(5).collect()]
    want = [(x["lang"], x["path"]) for x in
            r.doc_meta.orderBy("lang", "path").limit(5).collect()]
    assert got == want
    # docIDs ascend in sort order: head-5 must be ids 0..4
    ids = [x["doc_id"] for x in r.sorted_head(5).collect()]
    assert ids == sorted(ids) == list(range(5))


def test_sorted_head_multi_segment_monotone_batches(spark, tmp_path):
    # log-structured contract: appended batches monotone in sort key
    b1 = corpus_df(spark, rows_for(["aa", "bb"], "r1"))
    b2 = corpus_df(spark, rows_for(["cc", "dd"], "r1"))
    idx = str(tmp_path / "ix2")
    build_index(spark, idx, [("b1", b1), ("b2", b2)], norms="exact",
                index_sort=["lang", "path"])
    r = IndexReader(spark, idx)
    assert len(r.manifest.segments) == 2
    got = [x["path"] for x in r.sorted_head(8).collect()]
    want = [x["path"] for x in r.doc_meta.orderBy("lang", "path").limit(8).collect()]
    assert got == want


def test_index_sort_is_sticky(spark, tmp_path):
    df = corpus_df(spark, rows_for(["go"], "r1"))
    idx = str(tmp_path / "ix3")
    build_index(spark, idx, [("b1", df)], norms="exact", index_sort=["lang"])
    with pytest.raises(ValueError, match="conflicts"):
        build_index(spark, idx, [("b2", df)], norms="exact",
                    index_sort=["path"])
    # resume WITHOUT restating the sort inherits it
    m = build_index(spark, idx, [("b2", corpus_df(spark, rows_for(["zz"], "r2")))],
                    norms="exact")
    assert m.index_sort == ["lang"]


def test_sorted_head_requires_sort(spark, tmp_path):
    df = corpus_df(spark, rows_for(["go"], "r1"))
    idx = str(tmp_path / "ix4")
    build_index(spark, idx, [("b1", df)], norms="exact")
    r = IndexReader(spark, idx)
    with pytest.raises(ValueError, match="index_sort"):
        r.sorted_head(3)
