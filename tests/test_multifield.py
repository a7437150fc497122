"""Multi-field documents: per-field postings/norms/stats, field:term
queries, per-field analyzers, merge stat preservation.

Parity anchors: Document-of-fields (document/Document.java:41), term ==
(field, text) pair (index/Term.java), per-field stats (FieldInfo.java),
field syntax (queryparser/classic/QueryParser.jj:289).

The load-bearing property: field-scoped scoring on a multi-field index
must be IDENTICAL to scoring on a single-field index built from only
that field's column — per-field stats (df, docCount, avgdl) are fully
independent, so the pandas OracleIndex over the projected column is an
exact oracle for each field.
"""

from __future__ import annotations

import math
import random

import numpy as np
import pandas as pd
import pytest

from lucene_solr_spark.oracle import OracleIndex
from lucene_solr_spark.queryast import (
    BooleanClause, BooleanQuery, Occur, PhraseQuery, TermQuery, parse_query,
)

pytestmark = pytest.mark.spark

TITLE_WORDS = ["query", "index", "merge", "vector", "spark", "lucene", "scan"]
BODY_WORDS = TITLE_WORDS + ["shard", "segment", "token", "norm", "boost",
                            "filter", "facet", "join", "stream"]
LANGS = ["Python", "Java", "Go"]


def _mf_corpus(n: int = 80) -> pd.DataFrame:
    rng = random.Random(42)
    rows = []
    for i in range(n):
        title = " ".join(rng.choices(TITLE_WORDS, k=rng.randint(2, 5)))
        body = " ".join(rng.choices(BODY_WORDS, k=rng.randint(10, 40)))
        rows.append(
            {
                "repo": "r0",
                "path": f"p{i:04d}",
                "commit": "c0",
                "lang": rng.choice(LANGS),
                "title": title,
                "body": body,
            }
        )
    return pd.DataFrame(rows)


FIELDS = [("title", "title", "standard"),
          ("body", "body", "standard"),
          ("lang", "lang", "keyword")]


@pytest.fixture(scope="module")
def mf_corpus():
    return _mf_corpus()


@pytest.fixture(scope="module")
def mf_searcher(spark, mf_corpus, tmp_path_factory):
    from lucene_solr_spark.indexing.builder import build_index
    from lucene_solr_spark.search.executor import IndexReader, Searcher

    idx = str(tmp_path_factory.mktemp("mf") / "idx")
    build_index(spark, idx, [("b0", spark.createDataFrame(mf_corpus))],
                fields=FIELDS)
    return Searcher(IndexReader(spark, idx))


def _field_oracle(mf_corpus: pd.DataFrame, col: str) -> OracleIndex:
    pdf = mf_corpus[["repo", "path", "commit", "lang"]].copy()
    pdf["content"] = mf_corpus[col]
    return OracleIndex(pdf)


@pytest.mark.parametrize("field,term", [
    ("title", "query"), ("title", "vector"), ("body", "segment"),
    ("body", "spark"), ("body", "norm"),
])
def test_field_term_matches_projected_single_field_oracle(
        mf_searcher, mf_corpus, field, term):
    oracle = _field_oracle(mf_corpus, field)
    got = mf_searcher.search(TermQuery(term=term, field=field), k=15)
    want = oracle.top_k(TermQuery(term=term), k=15)
    assert list(got["doc_id"]) == list(want["doc_id"]), f"{field}:{term}"
    assert list(got["score"]) == list(want["score"]), f"{field}:{term}"


def test_keyword_field_scoring(mf_searcher, mf_corpus):
    """KeywordAnalyzer field: dl == 1 and avgdl == 1, so the BM25 score
    collapses to idf exactly — checked against a hand computation."""
    n = len(mf_corpus)
    df = int((mf_corpus["lang"] == "Python").sum())
    got = mf_searcher.search(TermQuery(term="Python", field="lang"), k=n)
    assert len(got) == df
    idf32 = np.float32(math.log(1 + (n - df + 0.5) / (df + 0.5)))
    freq = np.float32(1.0)
    nv = np.float32(1.2) * (np.float32(0.25) + (np.float32(0.75) * freq) / np.float32(1.0))
    wv = np.float32(np.float32(idf32 * np.float32(1.0)) * np.float32(2.2))
    expected = np.float32((wv * freq) / (freq + nv))
    assert np.asarray(got["score"], dtype=np.float32)[0] == expected
    # case preserved: lowercase probe must miss
    assert len(mf_searcher.search(TermQuery(term="python", field="lang"), k=5)) == 0


def test_cross_field_boolean(mf_searcher, mf_corpus):
    """title:X AND body:Y: intersection of the field hits; score = sum
    of the two independent field scores (float64 add, float32 cast —
    _boolean_scores order)."""
    t_oracle = _field_oracle(mf_corpus, "title")
    b_oracle = _field_oracle(mf_corpus, "body")
    q = BooleanQuery(clauses=(
        BooleanClause(Occur.MUST, TermQuery(term="vector", field="title")),
        BooleanClause(Occur.MUST, TermQuery(term="segment", field="body")),
    ))
    got = mf_searcher.search(q, k=50)
    ids_t, sc_t = t_oracle.evaluate(TermQuery(term="vector"))
    ids_b, sc_b = b_oracle.evaluate(TermQuery(term="segment"))
    mt = dict(zip(ids_t.tolist(), sc_t.tolist()))
    mb = dict(zip(ids_b.tolist(), sc_b.tolist()))
    both = sorted(set(mt) & set(mb))
    want = pd.DataFrame({
        "doc_id": both,
        "score": [np.float32(np.float64(mt[d]) + np.float64(mb[d])) for d in both],
    }).sort_values(["score", "doc_id"], ascending=[False, True]).head(50)
    assert list(got["doc_id"]) == list(want["doc_id"])
    assert list(got["score"]) == [float(s) for s in want["score"]]


def test_field_phrase(mf_searcher, mf_corpus):
    oracle = _field_oracle(mf_corpus, "body")
    q = PhraseQuery(terms=("index", "merge"), field="body")
    got = mf_searcher.search(q, k=20)
    want = oracle.top_k(PhraseQuery(terms=("index", "merge")), k=20)
    assert list(got["doc_id"]) == list(want["doc_id"])
    assert list(got["score"]) == list(want["score"])


def test_parsed_field_query_end_to_end(mf_searcher, mf_corpus):
    q = parse_query('title:spark AND lang:Java')
    got = mf_searcher.search(q, k=100)
    mask = (mf_corpus["lang"] == "Java") & mf_corpus["title"].str.contains(
        r"\bspark\b")
    assert set(got["doc_id"]) == set(np.flatnonzero(mask.to_numpy()).tolist())


def test_field_prefix_expansion(mf_searcher, mf_corpus):
    """body:seg* expands only within the body field's key range."""
    q = parse_query("body:seg*")
    got = mf_searcher.search(q, k=200)
    mask = mf_corpus["body"].str.contains(r"\bseg")
    assert set(got["doc_id"]) == set(np.flatnonzero(mask.to_numpy()).tolist())
    # title has no seg* words, so the title-scoped prefix matches nothing
    assert len(mf_searcher.search(parse_query("title:shard*"), k=10)) == 0


def test_multifield_merge_preserves_field_stats(spark, mf_corpus, tmp_path):
    """Two batches merged to one segment: per-field stats and field
    query results are unchanged (global docIDs — merge is re-layout)."""
    from lucene_solr_spark.indexing.builder import build_index
    from lucene_solr_spark.indexing.merge import force_merge
    from lucene_solr_spark.search.executor import IndexReader, Searcher

    idx = str(tmp_path / "mf2")
    h = len(mf_corpus) // 2
    build_index(spark, idx,
                [("b0", spark.createDataFrame(mf_corpus.iloc[:h])),
                 ("b1", spark.createDataFrame(mf_corpus.iloc[h:]))],
                fields=FIELDS)
    s0 = Searcher(IndexReader(spark, idx))
    before_stats = dict(s0.reader.field_stats)
    before = s0.search(TermQuery(term="segment", field="body"), k=20)

    force_merge(spark, idx, max_segments=1)
    s1 = Searcher(IndexReader(spark, idx))
    assert s1.reader.field_stats == before_stats
    after = s1.search(TermQuery(term="segment", field="body"), k=20)
    assert list(after["doc_id"]) == list(before["doc_id"])
    assert list(after["score"]) == list(before["score"])


def test_term_stats_schema_matches_single_field(spark, mf_searcher, tiny_index):
    """Multi-field and single-field segments write the same term_stats
    columns: every segment shares one term_stats schema, so readers
    never merge schemas."""
    from lucene_solr_spark.search.executor import IndexReader

    assert mf_searcher.reader.stats.schema == IndexReader(spark, tiny_index).stats.schema


def test_default_field_searcher(spark, mf_corpus, mf_searcher, tmp_path_factory):
    """Searcher(default_field=...) scopes unqualified query leaves —
    the QueryParser default-field argument. Explicit fields still win."""
    from lucene_solr_spark.search.executor import Searcher

    s = Searcher(mf_searcher.reader, default_field="body")
    bare = s.search(TermQuery(term="segment"), k=15)
    scoped = mf_searcher.search(TermQuery(term="segment", field="body"), k=15)
    assert list(bare["doc_id"]) == list(scoped["doc_id"])
    assert list(bare["score"]) == list(scoped["score"])
    # explicit field overrides the default
    got = s.search(parse_query("lang:Go"), k=100)
    mask = mf_corpus["lang"] == "Go"
    assert set(got["doc_id"]) == set(np.flatnonzero(mask.to_numpy()).tolist())


def test_field_scoped_delete(spark, mf_corpus, tmp_path):
    """delete_by_terms with a field: a Lucene Term is (field, text) —
    lang:Go tombstones exactly the Go docs; body:go (absent) deletes
    nothing."""
    from lucene_solr_spark.indexing import deletes
    from lucene_solr_spark.indexing.builder import build_index
    from lucene_solr_spark.search.executor import IndexReader, Searcher

    idx = str(tmp_path / "mfdel")
    build_index(spark, idx, [("b0", spark.createDataFrame(mf_corpus))],
                fields=FIELDS)
    n_go = int((mf_corpus["lang"] == "Go").sum())
    assert deletes.delete_by_terms(spark, idx, ["Go"], field="lang") == n_go
    s = Searcher(IndexReader(spark, idx))
    assert s.count(TermQuery(term="Go", field="lang")) == 0
    assert deletes.delete_by_terms(spark, idx, ["Go"], field="body") == 0


def test_field_scoped_wand_rank_identical(mf_searcher):
    """Single-pass WAND on field-scoped term/OR queries: keys carry the
    field, weights use per-field stats — identical to exhaustive."""
    q1 = TermQuery(term="segment", field="body")
    a, b = mf_searcher.search(q1, k=10), mf_searcher.search(q1, k=10, prune=True)
    assert list(a["doc_id"]) == list(b["doc_id"])
    assert list(a["score"]) == list(b["score"])
    q2 = BooleanQuery(clauses=(
        BooleanClause(Occur.SHOULD, TermQuery(term="vector", field="title")),
        BooleanClause(Occur.SHOULD, TermQuery(term="segment", field="body")),
    ))
    a, b = mf_searcher.search(q2, k=10), mf_searcher.search(q2, k=10, prune=True)
    assert list(a["doc_id"]) == list(b["doc_id"])
    assert list(a["score"]) == list(b["score"])


def test_edge_ngram_field_prefix_as_term(spark, mf_corpus, tmp_path):
    """An edge_ngram-analyzed field answers prefix lookups with an
    EXACT term query — the index-time autocomplete pattern that avoids
    dictionary expansion at query time."""
    from lucene_solr_spark.indexing.builder import build_index
    from lucene_solr_spark.search.executor import IndexReader, Searcher

    idx = str(tmp_path / "ac")
    build_index(
        spark, idx, [("b0", spark.createDataFrame(mf_corpus))],
        fields=[("body", "body", "standard"), ("ac", "title", "edge_ngram")],
    )
    s = Searcher(IndexReader(spark, idx))
    hits = s.search(TermQuery(term="vect", field="ac"), k=len(mf_corpus))
    mask = mf_corpus["title"].str.contains(r"\bvect")
    assert set(hits["doc_id"]) == set(np.flatnonzero(mask.to_numpy()).tolist())


def test_word_delimiter_indexed_field(spark, tmp_path):
    """A word_delimiter-analyzed field matches camelCase/snake_case
    sub-tokens with exact term queries — the source-code identifier
    search pattern (WordDelimiterGraphFilter.java:63-88)."""
    from lucene_solr_spark.indexing.builder import build_index
    from lucene_solr_spark.search.executor import IndexReader, Searcher

    pdf = pd.DataFrame({
        "repo": ["r0"] * 4,
        "path": [f"p{i}" for i in range(4)],
        "commit": ["c0"] * 4,
        "lang": ["java"] * 4,
        "body": [
            "class HashJoinExec extends SparkPlan",
            "def get_user_name(uid): return names[uid]",
            "XMLHttpRequest send42 payload",
            "plain lowercase words only",
        ],
    })
    idx = str(tmp_path / "wdf")
    build_index(spark, idx, [("b0", spark.createDataFrame(pdf))],
                fields=[("body", "body", "word_delimiter")])
    s = Searcher(IndexReader(spark, idx))
    # camelCase sub-token
    assert set(s.search(TermQuery(term="join", field="body"),
                        k=10)["doc_id"]) == {0}
    # snake_case sub-token
    assert set(s.search(TermQuery(term="user", field="body"),
                        k=10)["doc_id"]) == {1}
    # acronym run + digit split
    assert set(s.search(TermQuery(term="xml", field="body"),
                        k=10)["doc_id"]) == {2}
    assert set(s.search(TermQuery(term="42", field="body"),
                        k=10)["doc_id"]) == {2}
    # phrase across split parts: "hash join" are adjacent positions
    assert set(s.search(PhraseQuery(terms=("hash", "join"), field="body"),
                        k=10)["doc_id"]) == {0}
