"""The driver access path: a term, phrase or boolean-of-those top-k under
DRIVER_POSTINGS_BUDGET runs on the driver with no Spark job, through the
Spark stages' own functions. Every shape returns the same doc ids and the
same score bits on both paths (the Spark path forced with the budget at
0), and each path runs exactly the jobs its plan expects."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from lucene_solr_spark.queryast import (BooleanClause, BooleanQuery, MatchNoDocsQuery,
                                        Occur, PhraseQuery, TermQuery)
from lucene_solr_spark import codec
from lucene_solr_spark.search import executor

pytestmark = pytest.mark.spark


def _t(term, boost=1.0):
    return TermQuery(term=term, boost=boost)


def _bq(*clauses, msm=0):
    return BooleanQuery(clauses=tuple(BooleanClause(o, q) for o, q in clauses),
                        min_should_match=msm)


M, S, N, F = Occur.MUST, Occur.SHOULD, Occur.MUST_NOT, Occur.FILTER

SHAPES = {
    "term": _t("alpha"),
    "term_boost": _t("w3", 2.5),
    "and": _bq((M, _t("alpha")), (M, _t("beta"))),
    "or": _bq((S, _t("alpha")), (S, _t("w3")), (S, _t("w40"))),
    "not": _bq((M, _t("alpha")), (N, _t("beta"))),
    "filter": _bq((M, _t("gamma")), (F, _t("w2"))),
    "filter_phrase": _bq((M, _t("gamma")), (F, PhraseQuery(terms=("alpha", "beta")))),
    "min_should_match": _bq((S, _t("alpha")), (S, _t("beta")), (S, _t("w5")), msm=2),
    "phrase": PhraseQuery(terms=("alpha", "beta")),
    "phrase_repeat": PhraseQuery(terms=("end", "to", "end")),
    "missing": _t("zzmissing"),
    "and_missing": _bq((M, _t("alpha")), (M, _t("zzmissing"))),
    "phrase_missing": PhraseQuery(terms=("alpha", "zzmissing")),
    "nested": _bq((M, _bq((S, _t("alpha")), (S, _t("delta")))), (M, _t("w1")),
                  (S, PhraseQuery(terms=("end", "to", "end")))),
    "dup_boost": _bq((S, _t("beta", 2.0)), (S, _t("beta", 0.5)), (S, _t("w9"))),
    "no_docs": MatchNoDocsQuery(),
    "and_no_docs": _bq((M, _t("alpha")), (M, MatchNoDocsQuery())),
    # 60 term clauses, a nested boolean and a phrase: one running total
    # over the clauses, not a clause x doc table
    "many_clauses": _bq(*[(S, _t(f"w{i}", 1.0 + i / 8)) for i in range(56)],
                        (N, _t("w57")), (M, _bq((S, _t("alpha")), (S, _t("w1")))),
                        (S, PhraseQuery(terms=("end", "to", "end"))),
                        (F, _t("w0")), msm=3),
}


@pytest.fixture(scope="module")
def corpus_pdf():
    rng = np.random.default_rng(12)
    vocab = ["end", "to", "alpha", "beta", "gamma", "delta"] + [f"w{i}" for i in range(60)]
    p = 1.0 / np.arange(1, len(vocab) + 1)
    p /= p.sum()
    texts = []
    for i in range(1200):
        words = list(rng.choice(vocab, size=int(rng.integers(4, 30)), p=p))
        if i % 7 == 0:
            words[1:1] = ["end", "to", "end"]
        texts.append(" ".join(words))
    return pd.DataFrame({"repo": "r0", "path": [f"p{i:05d}" for i in range(len(texts))],
                         "commit": "c0", "lang": "txt", "content": texts})


@pytest.fixture(scope="module")
def readers(spark, corpus_pdf, tmp_path_factory):
    """A two-segment index, a copy of it with deletes, and a MultiReader
    over two shards."""
    import shutil

    from lucene_solr_spark.indexing.builder import build_index
    from lucene_solr_spark.indexing.deletes import delete_by_terms
    from lucene_solr_spark.search.executor import IndexReader, MultiReader

    base = tmp_path_factory.mktemp("driver_path")
    h = len(corpus_pdf) // 2
    halves = [spark.createDataFrame(corpus_pdf.iloc[:h]),
              spark.createDataFrame(corpus_pdf.iloc[h:])]
    two = str(base / "two")
    build_index(spark, two, [("b0", halves[0]), ("b1", halves[1])], analyzer="simple")
    deleted = str(base / "deleted")
    shutil.copytree(two, deleted)
    assert delete_by_terms(spark, deleted, ["w7"]) > 0
    build_index(spark, str(base / "s0"), [("b", halves[0])], analyzer="simple")
    build_index(spark, str(base / "s1"), [("b", halves[1])], analyzer="simple",
                min_doc_base=100_000)
    return {
        "two_segments": IndexReader(spark, two),
        "deletes": IndexReader(spark, deleted),
        "multireader": MultiReader([IndexReader(spark, str(base / "s0")),
                                    IndexReader(spark, str(base / "s1"))]),
    }


def _both(monkeypatch, s, run):
    """(driver result, driver plan, Spark result, Spark plan) of run(s)."""
    got = run(s)
    driver_plan = s.last_plan
    with monkeypatch.context() as m:
        m.setattr(codec, "DRIVER_POSTINGS_BUDGET", 0)
        want = run(s)
    return got, driver_plan, want, s.last_plan


def _assert_same(got, want, label):
    assert list(got["doc_id"]) == list(want["doc_id"]), label
    assert got["score"].dtype == want["score"].dtype, label
    assert got["score"].to_numpy().tobytes() == want["score"].to_numpy().tobytes(), label
    assert list(got["rank"]) == list(want["rank"]), label


@pytest.mark.parametrize("precision", ["float32", "float64"])
@pytest.mark.parametrize("reader", ["two_segments", "deletes", "multireader"])
@pytest.mark.parametrize("shape", sorted(SHAPES))
def test_driver_equals_spark(monkeypatch, readers, reader, precision, shape):
    from lucene_solr_spark.search.executor import Searcher

    s = Searcher(readers[reader], precision=precision)
    got, dplan, want, splan = _both(monkeypatch, s,
                                    lambda s: s.search(SHAPES[shape], k=50))
    assert dplan["access_path"] == "driver" and dplan["expected_jobs"] == 0
    assert 0 <= dplan["postings_planned"] < dplan["budget"]
    assert splan["access_path"] != "driver" and splan["reason"] == "over-budget"
    _assert_same(got, want, f"{reader}/{precision}/{shape}")


@pytest.mark.parametrize("shape", ["term", "or", "and", "phrase", "nested"])
def test_driver_equals_spark_after_paging(monkeypatch, readers, shape):
    from lucene_solr_spark.search.executor import Searcher

    s = Searcher(readers["deletes"])
    first = s.search(SHAPES[shape], k=7)
    assert len(first) == 7, "fixture drift: too few hits to page"
    after = (float(first["score"].iloc[-1]), int(first["doc_id"].iloc[-1]))
    got, dplan, want, _ = _both(monkeypatch, s,
                                lambda s: s.search(SHAPES[shape], k=7, after=after))
    assert dplan["access_path"] == "driver"
    _assert_same(got, want, f"after/{shape}")
    assert not set(got["doc_id"]) & set(first["doc_id"])


@pytest.mark.parametrize("precision", ["float32", "float64"])
@pytest.mark.parametrize("shape", ["term", "term_boost", "or", "dup_boost", "missing"])
def test_driver_equals_spark_pruned(monkeypatch, readers, precision, shape):
    from lucene_solr_spark.search.executor import Searcher

    s = Searcher(readers["deletes"], precision=precision)
    got, dplan, want, splan = _both(
        monkeypatch, s, lambda s: s.search(SHAPES[shape], k=10, prune=True))
    assert dplan["access_path"] == "driver" and dplan["reason"] == "block-max"
    assert splan["access_path"] == "skip-data" and splan["reason"] == "over-budget"
    assert dplan["blocks_kept"] == splan["blocks_kept"]
    _assert_same(got, want, f"pruned/{precision}/{shape}")
    _assert_same(got, s.search(SHAPES[shape], k=10), f"pruned-vs-exhaustive/{shape}")


@pytest.mark.parametrize("prune", [False, True])
@pytest.mark.parametrize("shape", sorted(SHAPES))
def test_jobs_equal_expected_on_both_paths(monkeypatch, spark_jobs, readers, shape, prune):
    """Under the budget a query runs no Spark job; over it, today's Spark
    plan runs, and its job count is the plan's expected_jobs. A query
    with no hits may run fewer: adaptive execution skips the stages after
    an empty shuffle."""
    from lucene_solr_spark.search.executor import Searcher

    s = Searcher(readers["deletes"])
    q = SHAPES[shape]
    top, n = spark_jobs(lambda: s.search(q, k=10, prune=prune))
    assert n == 0 and s.last_plan["expected_jobs"] == 0, s.last_plan
    monkeypatch.setattr(codec, "DRIVER_POSTINGS_BUDGET", 0)
    _, n = spark_jobs(lambda: s.search(q, k=10, prune=prune))
    assert s.last_plan["reason"] == "over-budget"
    if len(top):
        assert n == s.last_plan["expected_jobs"] > 0, s.last_plan
    else:
        assert n <= s.last_plan["expected_jobs"], s.last_plan


def test_planned_postings_count_each_leaf_stage(readers):
    """A boolean's term clauses are one leaf stage and each other clause
    its own: a term read by two stages counts twice, a phrase's terms
    count their df and their ttf."""
    from lucene_solr_spark.search.executor import Searcher

    s = Searcher(readers["two_segments"])
    q = _bq((M, _t("alpha")), (S, _t("alpha")),
            (S, _bq((S, _t("alpha")), (S, _t("beta")))),
            (S, PhraseQuery(terms=("end", "to", "end"))))
    st = readers["two_segments"].term_stats(["alpha", "beta", "end", "to"])
    s.search(q, k=10)
    assert s.last_plan["postings_planned"] == (
        2 * st["alpha"][0] + st["beta"][0] + sum(st[t][0] + st[t][1] for t in ("end", "to")))


def test_out_of_scope_shapes_keep_their_spark_plan(spark_jobs, readers):
    """A query the driver path does not run (here a dismax) runs its
    Spark plan whatever the budget, with no over-budget reason."""
    from lucene_solr_spark.queryast import DisjunctionMaxQuery
    from lucene_solr_spark.search.executor import Searcher

    s = Searcher(readers["two_segments"])
    q = DisjunctionMaxQuery(disjuncts=(_t("alpha"), _t("beta")), tie_breaker=0.1)
    _, n = spark_jobs(lambda: s.search(q, k=10))
    assert s.last_plan["access_path"] == "exhaustive"
    assert s.last_plan["postings_planned"] is None
    assert n == s.last_plan["expected_jobs"] > 0


def test_reader_lists_its_files_once(monkeypatch, readers):
    """Every driver-side read of a query (statistics, skip data, blobs)
    opens the file lists the reader collected at open: no query lists a
    directory."""
    from lucene_solr_spark.indexing import manifest
    from lucene_solr_spark.search.executor import IndexReader, Searcher

    r = readers["deletes"]
    s = Searcher(IndexReader(r.spark, r.index_dir))

    def no_listing(root):
        raise AssertionError(f"listed {root} during a query")

    monkeypatch.setattr(manifest, "_data_files", no_listing)
    monkeypatch.setattr(executor, "_data_files", no_listing)
    for q in (SHAPES["and"], SHAPES["phrase"], SHAPES["nested"]):
        assert len(s.search(q, k=10)) > 0
    assert len(s.search(SHAPES["or"], k=10, prune=True)) > 0
