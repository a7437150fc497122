"""The two placements of one scorer: a query whose planned postings are
under DRIVER_POSTINGS_BUDGET is scored on the driver over one range
covering the index, with no Spark job; over it, one Spark job scores
doc-id slices of about equal doc counts with the same functions and the
driver merges
their top-k. Every shape returns the same doc ids and the same score bits
on both placements (the slices forced with the budget at 0), and each
runs exactly the jobs its plan expects."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow.parquet as pq
import pytest

from lucene_solr_spark.queryast import (BooleanClause, BooleanQuery, DisjunctionMaxQuery,
                                        MatchAllDocsQuery, MatchNoDocsQuery,
                                        MultiTermQuery, Occur, PhraseQuery, SynonymQuery,
                                        TermInSetQuery, TermQuery)
from lucene_solr_spark import codec
from lucene_solr_spark.search import executor
from lucene_solr_spark.search.cache import QueryCache

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
    "dismax": DisjunctionMaxQuery(disjuncts=(_t("alpha"), _t("beta"), _t("w3", 1.5)),
                                  tie_breaker=0.1),
    "synonym": SynonymQuery(terms=("alpha", "w3")),
    "term_in_set": TermInSetQuery(terms=("beta", "w40", "zzmissing"), boost=1.5),
    "all_not": _bq((M, MatchAllDocsQuery()), (N, _t("alpha"))),
    # a non-term FILTER clause, cached by the searcher's QueryCache
    "cached_filter": _bq((S, _t("gamma")), (S, _t("w1")),
                         (F, _bq((S, _t("alpha")), (S, _t("w2"))))),
    "prefix": _bq((M, MultiTermQuery(kind="prefix", pattern="w1")), (S, _t("beta"))),
}
# shapes whose dictionary expansion runs one Spark job on either placement
EXPANDED = {"prefix": 1}


def _searcher(reader, shape, precision="float32"):
    from lucene_solr_spark.search.executor import Searcher

    cache = QueryCache() if shape == "cached_filter" else None
    return Searcher(reader, precision=precision, query_cache=cache)


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
    """A two-segment index (500 + 700 docs), a copy of it with deletes,
    and a MultiReader over two shards."""
    import shutil

    from lucene_solr_spark.indexing.builder import build_index
    from lucene_solr_spark.indexing.deletes import delete_by_terms
    from lucene_solr_spark.search.executor import IndexReader, MultiReader

    base = tmp_path_factory.mktemp("driver_path")
    # unequal segments: a build writes a term's blocks per input
    # partition, and halves would put every partition edge on a slice
    # bound, so no block would straddle one
    h = 500
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
    s = _searcher(readers[reader], shape, precision)
    got, dplan, want, splan = _both(monkeypatch, s,
                                    lambda s: s.search(SHAPES[shape], k=50))
    assert dplan["access_path"] == "driver"
    assert dplan["expected_jobs"] == EXPANDED.get(shape, 0)
    assert 0 <= dplan["postings_planned"] < dplan["budget"]
    assert splan["access_path"] != "driver" and splan["reason"] == "over-budget"
    assert splan["slices"] == readers[reader].spark.sparkContext.defaultParallelism
    _assert_same(got, want, f"{reader}/{precision}/{shape}")


@pytest.mark.parametrize("shape", ["term", "or", "and", "phrase", "nested"])
def test_driver_equals_spark_after_paging(monkeypatch, readers, shape):
    s = _searcher(readers["deletes"], shape)
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
    """Under the budget a query runs no Spark job but its dictionary
    expansion's; over it, the scoring is one more job (the slice job),
    hits or none, and the job count is the plan's expected_jobs. The
    cached FILTER set, computed by the first search, is a cache hit in
    the second."""
    s = _searcher(readers["deletes"], shape)
    q = SHAPES[shape]
    _, n = spark_jobs(lambda: s.search(q, k=10, prune=prune))
    assert n == s.last_plan["expected_jobs"] == EXPANDED.get(shape, 0), s.last_plan
    monkeypatch.setattr(codec, "DRIVER_POSTINGS_BUDGET", 0)
    _, n = spark_jobs(lambda: s.search(q, k=10, prune=prune))
    assert s.last_plan["reason"] == "over-budget"
    assert n == s.last_plan["expected_jobs"] == EXPANDED.get(shape, 0) + 1, s.last_plan


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


def test_cached_filter_over_budget_runs_one_more_job(monkeypatch, spark_jobs, readers):
    """A FILTER set missing from the cache is computed by its own slice
    job over the budget, then reused: 2 jobs, then 1."""
    s = _searcher(readers["deletes"], "cached_filter")
    monkeypatch.setattr(codec, "DRIVER_POSTINGS_BUDGET", 0)
    first, n = spark_jobs(lambda: s.search(SHAPES["cached_filter"], k=10))
    assert n == s.last_plan["expected_jobs"] == 2
    again, n = spark_jobs(lambda: s.search(SHAPES["cached_filter"], k=10))
    assert n == s.last_plan["expected_jobs"] == 1
    assert s.query_cache.misses == 1 and s.query_cache.hits == 1
    _assert_same(first, again, "cached_filter")


def _straddled(s, term):
    """The inner slice bounds of searcher s that some block of term
    straddles."""
    from lucene_solr_spark.indexing.manifest import _read_term_rows

    t = _read_term_rows(s.reader._block_footers, ["min_doc", "max_doc"], [term])
    return [b for b in s._slice_bounds()[1:-1]
            if any(a < b <= z for a, z in zip(t.column("min_doc").to_pylist(),
                                                t.column("max_doc").to_pylist()))]


def test_slices_merge_to_the_driver_top_k(monkeypatch, readers):
    """On the deletes reader, split into defaultParallelism (>= 2)
    slices: a head term whose blocks straddle slice bounds, k above any
    one slice's hits, and an `after` page that crosses a bound, give the
    driver's doc ids and score bits."""
    reader = readers["deletes"]
    s = _searcher(reader, "term")
    assert s._slices() >= 2
    assert _straddled(s, "alpha"), "fixture drift: no block straddles a bound"
    q = SHAPES["term"]
    lo, hi = reader.doc_range
    bounds = s._slice_bounds()
    full, _, sliced, plan = _both(monkeypatch, s, lambda s: s.search(q, k=hi - lo))
    assert plan["slices"] >= 2 and len(full) > max(np.diff(bounds))
    _assert_same(full, sliced, "k above a slice")
    cut = 20
    after = (float(full["score"].iloc[cut - 1]), int(full["doc_id"].iloc[cut - 1]))
    got, _, want, _ = _both(monkeypatch, s, lambda s: s.search(q, k=40, after=after))
    _assert_same(got, want, "after")
    assert list(got["doc_id"]) == list(full["doc_id"].iloc[cut:cut + 40])
    slice_of = np.searchsorted(bounds, got["doc_id"].to_numpy(), "right")
    assert len(set(slice_of.tolist())) >= 2, "the page crosses no slice bound"


def test_slices_split_the_docs_not_the_id_range(monkeypatch, readers):
    """The multireader's shards leave an id gap ([0, 500) and [100000,
    100700)): its slices hold about equal doc counts, every slice task
    scores docs, and the merged top-k is the driver's."""
    s = _searcher(readers["multireader"], "term")
    bounds = s._slice_bounds()
    assert len(bounds) == s._slices() + 1 >= 3
    docs = np.concatenate([pq.read_table(f, columns=["doc_id"])["doc_id"].to_numpy()
                           for f in readers["multireader"]._doc_files])
    per_slice = np.bincount(np.searchsorted(bounds, docs, "right") - 1,
                            minlength=len(bounds) - 1)
    assert per_slice.min() > 0 and per_slice.max() - per_slice.min() <= 1, per_slice
    q = SHAPES["all_not"]
    w = s._weighed(q)
    hits = [len(executor.score_range(w, (a, b))[0]) for a, b in zip(bounds, bounds[1:])]
    assert min(hits) > 0, hits
    got, _, want, plan = _both(monkeypatch, s, lambda s: s.search(q, k=50))
    assert plan["slices"] == len(hits)
    _assert_same(got, want, "multireader slices")


@pytest.mark.parametrize("shape", ["or", "phrase", "dismax", "all_not", "prefix"])
def test_scored_and_count_on_both_placements(monkeypatch, readers, shape):
    """scored() and count() run the same Weight: a driver-built frame
    under the budget, the slice job's rows over it."""
    s = _searcher(readers["multireader"], shape)
    q = SHAPES[shape]

    def run(s):
        rows = s.scored(q).toPandas().sort_values("doc_id", ignore_index=True)
        return rows, s.count(q)

    (got, n), _, (want, m), plan = _both(monkeypatch, s, run)
    assert plan["reason"] == "over-budget"
    assert n == m == len(got) > 0
    assert list(got["doc_id"]) == list(want["doc_id"])
    assert got["score"].to_numpy().tobytes() == want["score"].to_numpy().tobytes()


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
