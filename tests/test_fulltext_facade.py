"""FulltextIndex is a thin layer over a Searcher on a temp segment: its
term, AND, OR and phrase results equal the float64 Searcher's over the
same rows built by hand, with the caller's ids (gapped, negative) kept,
and its temp directory goes with close() or garbage collection."""

from __future__ import annotations

import gc
import os

import pytest

from lucene_solr_spark.analysis import ENGLISH_STOP_WORDS
from lucene_solr_spark.fulltext import FulltextIndex

ROWS = [
    "alpha beta gamma and the delta",
    "alpha alpha beta",
    "gamma delta epsilon alpha beta",
    "the beta gamma beta alpha",
    "zeta eta alpha beta gamma theta",
    "beta alpha",
    "no match here",
]


def _frame(spark, ids):
    return spark.createDataFrame(list(zip(ids, ROWS)), "doc_id long, text string")


def _rows(df):
    return [(int(r["doc_id"]), float(r["score"])) for r in df.collect()]


@pytest.fixture(scope="module")
def dense(spark):
    idx = FulltextIndex(_frame(spark, range(len(ROWS))))
    yield idx
    idx.close()


QUERIES = [
    ("term_query", "alpha"),
    ("boolean_and", ["alpha", "beta"]),
    ("boolean_or", ["alpha", "gamma", "zeta"]),
    ("phrase_query", ["alpha", "beta"]),
]


def _searcher_top(spark, tmp_path):
    """Top-k of each QUERIES entry from a Searcher over a hand-built index
    of the same rows, ranked as FulltextIndex ranks (rounded score desc,
    doc id asc)."""
    import pandas as pd

    from lucene_solr_spark.indexing.builder import build_index
    from lucene_solr_spark.queryast import (BooleanClause, BooleanQuery, Occur,
                                            PhraseQuery, TermQuery)
    from lucene_solr_spark.search.executor import IndexReader, Searcher

    corpus = spark.createDataFrame(pd.DataFrame({
        "repo": "r", "path": [f"{i:03d}" for i in range(len(ROWS))],
        "commit": "c0", "lang": "en", "content": ROWS}))
    d = str(tmp_path / "by_hand")
    build_index(spark, d, [("b0", corpus)], analyzer="simple_stop", norms="exact")
    s = Searcher(IndexReader(spark, d), precision="float64")
    qs = {
        "term_query": TermQuery(term="alpha"),
        "boolean_and": BooleanQuery(clauses=tuple(
            BooleanClause(Occur.MUST, TermQuery(term=t)) for t in ("alpha", "beta"))),
        "boolean_or": BooleanQuery(clauses=tuple(
            BooleanClause(Occur.SHOULD, TermQuery(term=t)) for t in ("alpha", "gamma", "zeta"))),
        "phrase_query": PhraseQuery(terms=("alpha", "beta")),
    }
    out = {}
    for name, q in qs.items():
        pdf = s.search(q, k=100)
        got = sorted(((int(d), round(float(sc), 6)) for d, sc in zip(pdf["doc_id"], pdf["score"])),
                     key=lambda r: (-r[1], r[0]))
        out[name] = got[:10]
    return out


def test_term_and_or_phrase_equal_the_searcher(spark, dense, tmp_path):
    want = _searcher_top(spark, tmp_path)
    for name, terms in QUERIES:
        got = _rows(getattr(dense, name)(terms, k=10))
        assert got == want[name], name
        assert got, name


def test_gapped_and_negative_ids_come_back(spark, dense):
    gapped = [3, 17, 18, 1000, 1 << 40, 5 << 40, 9 << 40]  # monotonically_increasing_id-like
    negative = [-9, -4, -3, 0, 2, 7, 11]
    for ids in (gapped, negative):
        idx = FulltextIndex(_frame(spark, ids))
        try:
            for name, terms in QUERIES:
                want = [(ids[d], s) for d, s in _rows(getattr(dense, name)(terms, k=10))]
                got = _rows(getattr(idx, name)(terms, k=10))
                # engine ids are the ranks of the caller's ids, so the
                # order of the dense run maps over unchanged
                assert got == want, (name, ids)
            assert sorted(r["doc_id"] for r in idx.term_in_set(["zeta"]).collect()) == [ids[4]]
            assert {r["doc_id"] for r in idx.post.where("term = 'epsilon'").collect()} == {ids[2]}
        finally:
            idx.close()


def test_monotonically_increasing_ids(spark):
    from pyspark.sql import functions as F

    df = spark.createDataFrame([(t,) for t in ROWS], "text string").repartition(3) \
        .withColumn("doc_id", F.monotonically_increasing_id())
    by_text = {r["text"]: r["doc_id"] for r in df.collect()}
    idx = FulltextIndex(df)
    try:
        got = {r["doc_id"] for r in idx.term_query("zeta", k=10).collect()}
        assert got == {by_text[ROWS[4]]}
    finally:
        idx.close()


def test_stop_false_indexes_stop_words(spark):
    idx = FulltextIndex(_frame(spark, range(len(ROWS))), stop=False)
    stopped = FulltextIndex(_frame(spark, range(len(ROWS))))
    try:
        assert {r["doc_id"] for r in idx.term_query("the", k=10).collect()} == {0, 3}
        assert stopped.term_query("the", k=10).collect() == []
        n_stop = sum(w in ENGLISH_STOP_WORDS for r in ROWS for w in r.split())
        assert idx.stats.total_tokens == stopped.stats.total_tokens + n_stop
    finally:
        idx.close()
        stopped.close()


def _temp_dir(idx) -> str:
    return idx.searcher.reader.index_dir


def test_temp_dir_removed_on_close_and_gc(spark):
    idx = FulltextIndex(_frame(spark, range(len(ROWS))))
    d = _temp_dir(idx)
    assert os.path.isdir(d) and not os.path.basename(d).startswith("spark-")
    idx.close()
    assert not os.path.exists(d)

    idx = FulltextIndex(_frame(spark, range(len(ROWS))))
    d = _temp_dir(idx)
    assert os.path.isdir(d)
    del idx
    gc.collect()
    assert not os.path.exists(d)


def test_use_after_close_raises(spark):
    idx = FulltextIndex(_frame(spark, range(len(ROWS))))
    idx.term_query("alpha").collect()
    idx.close()
    for use in (lambda: idx.term_query("alpha"), lambda: idx.stats, lambda: idx.post):
        with pytest.raises(ValueError, match="closed"):
            use()
