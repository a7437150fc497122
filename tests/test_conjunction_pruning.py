"""Conjunction block pruning (the leapfrog/skip-list analog): exact —
must never change any result — and must actually prune blocks when the
MUST terms live in disjoint chunk ranges."""

from __future__ import annotations

import pandas as pd
import pytest

from lucene_solr_spark.queryast import BooleanClause, BooleanQuery, Occur, TermQuery


@pytest.fixture(scope="module")
def chunked_index(spark, tmp_path_factory):
    """Corpus spanning many 8192-doc chunks with chunk-local marker
    terms: markerA only in chunk 0, markerB only in chunk 2, common
    words everywhere."""
    from lucene_solr_spark.indexing.builder import build_index

    n = 30000  # ~4 chunks of 8192
    rows = []
    for i in range(n):
        words = ["common", f"w{i % 97}"]
        if i < 2000:
            words.append("markera")
        if 17000 <= i < 19000:
            words.append("markerb")
        if i % 3 == 0:
            words.append("markerc")
        rows.append(
            {
                "repo": "r0",
                "path": f"p{i:06d}",
                "commit": "c",
                "lang": "py",
                "content": " ".join(words),
            }
        )
    pdf = pd.DataFrame(rows)
    idx = str(tmp_path_factory.mktemp("chunked") / "idx")
    build_index(spark, idx, [("all", spark.createDataFrame(pdf))])
    return idx


@pytest.fixture(scope="module")
def chunked_searcher(spark, chunked_index):
    from lucene_solr_spark.search.executor import IndexReader, Searcher

    return Searcher(IndexReader(spark, chunked_index))


def _and_query(*terms):
    return BooleanQuery(clauses=tuple(
        BooleanClause(Occur.MUST, TermQuery(term=t)) for t in terms
    ))


def test_disjoint_terms_prune_to_empty_cheaply(chunked_searcher):
    """markera (chunk 0) AND markerb (chunk 2): the MUST terms' block
    ranges never meet, so the skip data keeps no block of either term
    and nothing is decoded."""
    s = chunked_searcher
    keep, totals = s._conjunction_blocks(["markera", "markerb"],
                                         ["markera", "markerb"])
    assert totals["markera"] > 0 and totals["markerb"] > 0
    assert sum(len(v) for v in keep.values()) == 0
    assert len(s.search(_and_query("markera", "markerb"), k=10)) == 0
    # a MUST term without postings: nothing to intersect with
    keep, totals = s._conjunction_blocks(["markera", "nosuchterm"],
                                         ["markera", "nosuchterm"])
    assert totals == {"markera": totals["markera"], "nosuchterm": 0}
    assert sum(len(v) for v in keep.values()) == 0


def test_pruning_reduces_blocks_for_localized_term(chunked_searcher):
    """common AND markera: only blocks overlapping markera's doc range
    survive — far fewer than common's full block count."""
    from pyspark.sql import functions as F

    s = chunked_searcher
    total = s.reader.blocks.where(F.col("term") == "common").count()
    keep, totals = s._conjunction_blocks(["common", "markera"],
                                         ["common", "markera"])
    assert totals["common"] == total
    assert 0 < len(keep["common"]) < total
    assert len(keep["markera"]) == totals["markera"]


@pytest.mark.parametrize("terms", [
    ("common", "markera"),
    ("common", "markerb"),
    ("markera", "markerc"),
    ("common", "markerc", "markerb"),
])
def test_pruned_and_results_exact(chunked_searcher, terms, spark, chunked_index,
                                  access_paths):
    """Pruned conjunction == brute-force per-clause evaluation, on the
    driver and in the Spark plan (whose scan keeps the kept blocks only)."""
    from pyspark.sql import functions as F

    s = chunked_searcher
    res = {path: s.search(_and_query(*terms), k=50) for path in access_paths()}
    assert list(res["driver"]["doc_id"]) == list(res["spark"]["doc_id"])
    assert list(res["driver"]["score"]) == list(res["spark"]["score"])
    res = res["driver"]
    # independent check: intersect per-term doc sets, recompute sums
    sets = []
    for t in terms:
        one = s.search(TermQuery(term=t), k=10_000_000)
        sets.append({int(d): float(sc) for d, sc in zip(one["doc_id"], one["score"])})
    docs = set(sets[0])
    for m in sets[1:]:
        docs &= set(m)
    import numpy as np

    expected = sorted(
        ((np.float32(sum(np.float64(m[d]) for m in sets)), d) for d in docs),
        key=lambda x: (-x[0], x[1]),
    )[:50]
    assert [d for _, d in expected] == list(res["doc_id"])


def test_spark_jobs_per_query(spark, spark_jobs, chunked_index, tmp_path, access_paths):
    """Statistics, the conjunction's skip data and the live-docs bitsets
    are read on the driver: opening a reader runs no job, and under the
    budget no query runs one. With the budget at 0 a term query runs only
    its scoring job, and AND, OR and phrase add their shuffle — on an
    index with deletes too, whose delete_by_terms runs no job."""
    import shutil

    from lucene_solr_spark.indexing.deletes import delete_by_terms
    from lucene_solr_spark.queryast import PhraseQuery
    from lucene_solr_spark.search.executor import IndexReader, Searcher

    with_deletes = str(tmp_path / "idx")
    shutil.copytree(chunked_index, with_deletes)
    n, jobs = spark_jobs(lambda: delete_by_terms(spark, with_deletes, ["w3", "w5"]))
    assert n > 0 and jobs == 0
    or_q = BooleanQuery(clauses=tuple(
        BooleanClause(Occur.SHOULD, TermQuery(term=t)) for t in ("markera", "markerb")))
    for path in access_paths():
        for idx in (chunked_index, with_deletes):
            s, n = spark_jobs(lambda: Searcher(IndexReader(spark, idx)))
            assert n == 0
            assert s.reader.has_deletes == (idx == with_deletes)
            _, n = spark_jobs(lambda: s.search(TermQuery(term="markera"), k=10))
            want = 1 if path == "spark" else 0
            assert n == s.last_plan["expected_jobs"] == want, (path, idx, n)
            for q in (_and_query("common", "markera"), or_q,
                      PhraseQuery(terms=("common", "markerc"))):
                _, n = spark_jobs(lambda: s.search(q, k=10))
                want = 2 if path == "spark" else 0
                assert n == s.last_plan["expected_jobs"] == want, (path, idx, q, n)


def test_every_query_explains_its_plan(chunked_searcher, caplog):
    """AND and phrase report the skip-data prefilter's blocks kept out
    of blocks total, and every plan its access path, planned postings
    and budget; every plan is logged at DEBUG."""
    import logging

    from lucene_solr_spark.queryast import PhraseQuery
    from lucene_solr_spark.codec import DRIVER_POSTINGS_BUDGET

    s = chunked_searcher
    with caplog.at_level(logging.DEBUG, logger="lucene_solr_spark.search"):
        s.search(_and_query("common", "markera"), k=10)
    plan = s.last_plan
    assert plan["access_path"] == "driver" and plan["reason"] == "conjunction"
    assert 0 < plan["blocks_kept"] < plan["blocks_total"]
    assert any("search plan" in r.getMessage() for r in caplog.records)
    s.search(PhraseQuery(terms=("common", "markerb")), k=10)
    assert s.last_plan["access_path"] == "driver"
    assert s.last_plan["blocks_kept"] < s.last_plan["blocks_total"]
    s.search(TermQuery(term="common"), k=10)
    assert s.last_plan == {"access_path": "driver", "reason": "prune-off",
                           "blocks_kept": None, "blocks_total": None,
                           "expected_jobs": 0, "postings_planned": 30000,
                           "budget": DRIVER_POSTINGS_BUDGET}
