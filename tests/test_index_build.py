"""End-to-end index build + rank-identity vs the pandas oracle
(the CheckHits.checkHitCollector analog, CheckHits.java:96)."""

import numpy as np
import pandas as pd
import pytest

from lucene_solr_spark.analysis import standard_analyze
from lucene_solr_spark.oracle import OracleIndex
from lucene_solr_spark.queryast import parse_query
from lucene_solr_spark.search.executor import IndexReader, Searcher

pytestmark = pytest.mark.spark


def _analyzer(s):
    return [t for t, _ in standard_analyze(s)]


@pytest.fixture(scope="module")
def searcher(spark, tiny_index):
    return Searcher(IndexReader(spark, tiny_index), precision="float32")


def assert_rank_identical(spark_top: pd.DataFrame, oracle_top: pd.DataFrame, qstring=""):
    assert len(spark_top) == len(oracle_top), (
        f"{qstring}: row count {len(spark_top)} != {len(oracle_top)}"
    )
    assert list(spark_top["doc_id"]) == list(oracle_top["doc_id"]), (
        f"{qstring}: docs {list(spark_top['doc_id'])} != {list(oracle_top['doc_id'])}"
    )
    s = np.asarray(spark_top["score"], dtype=np.float32)
    o = np.asarray(oracle_top["score"], dtype=np.float32)
    assert (s == o).all(), f"{qstring}: scores {s} != {o}"


def test_stats_match_oracle(spark, tiny_index, tiny_oracle):
    r = IndexReader(spark, tiny_index)
    assert r.doc_count == tiny_oracle.doc_count
    assert r.sum_dl == tiny_oracle.sum_ttf
    st = r.term_stats(["def", "import", "ident000", "zzz_absent"])
    for t in ["def", "import", "ident000"]:
        assert st[t][0] == tiny_oracle.df[t]
        assert st[t][1] == tiny_oracle.ttf[t]
    assert "zzz_absent" not in st


QUERIES = [
    ("def", 10),
    ("import", 100),
    ("ident000", 10),
    ("absentterm", 10),
    ("import AND ident000", 10),
    ("def AND class AND return", 10),
    ("def OR class", 10),
    ("ident000 OR ident001 OR absent999", 100),
    ("(class OR def) AND ident000", 10),
    ("return -static", 10),
    ("import -absent999", 10),
    ('"public static"', 10),
    ("ident00*", 10),
    ("ident000~1", 10),
    ("[ident000 TO ident003]", 10),
    ("import^2.5", 10),
]


@pytest.mark.parametrize("qstring,k", QUERIES)
def test_rank_identity(searcher, tiny_oracle, qstring, k):
    q = parse_query(qstring, analyzer=_analyzer)
    spark_top = searcher.search(q, k=k)
    oracle_q = parse_query(qstring, analyzer=_analyzer)
    oracle_top = tiny_oracle.top_k(oracle_q, k=k)
    assert_rank_identical(spark_top, oracle_top, qstring)


def test_min_should_match(searcher, tiny_oracle):
    from lucene_solr_spark.queryast import BooleanClause, BooleanQuery, Occur, TermQuery

    q = BooleanQuery(
        clauses=tuple(
            BooleanClause(Occur.SHOULD, TermQuery(term=t))
            for t in ("ident000", "ident001", "ident002")
        ),
        min_should_match=2,
    )
    assert_rank_identical(searcher.search(q, 20), tiny_oracle.top_k(q, 20), "mm2")


def test_search_after_paging(searcher, tiny_oracle):
    q = parse_query("def OR class", analyzer=_analyzer)
    page1 = searcher.search(q, k=5)
    cursor = (float(page1["score"].iloc[-1]), int(page1["doc_id"].iloc[-1]))
    page2 = searcher.search(q, k=5, after=cursor)
    full = tiny_oracle.top_k(q, 10)
    assert list(page1["doc_id"]) + list(page2["doc_id"]) == list(full["doc_id"])


def test_count_and_matchall(searcher, tiny_oracle, spark, tiny_index):
    q = parse_query("import", analyzer=_analyzer)
    ids, _ = tiny_oracle.evaluate(q)
    assert searcher.count(q) == len(ids)


def test_sha_lineage_recorded(spark, tiny_index):
    from lucene_solr_spark.indexing.manifest import ManifestStore

    m = ManifestStore(tiny_index).load()
    assert m.generation >= 1
    assert m.total_docs == 200
    build_entries = [e for e in m.lineage if e["kind"] == "build"]
    assert build_entries and all(e["sha_mismatches"] == 0 for e in build_entries)


def test_phrase_with_repeated_term(spark, tmp_path):
    """A phrase that repeats a term ("end to end") must emit occurrence
    rows for EVERY slot the term occupies — regression for the term->
    last-slot mapping that made such phrases silently match nothing."""
    import pandas as pd

    from lucene_solr_spark.indexing.builder import build_index
    from lucene_solr_spark.oracle import OracleIndex
    from lucene_solr_spark.queryast import PhraseQuery
    from lucene_solr_spark.search.executor import IndexReader, Searcher

    pdf = pd.DataFrame(
        {
            "repo": ["r0"] * 4,
            "path": [f"p{i}" for i in range(4)],
            "commit": ["c0"] * 4,
            "lang": ["txt"] * 4,
            "content": [
                "testing alpha beta alpha works great",
                "alpha beta gamma and gamma beta alpha",
                "beta alpha beta alpha beta",  # two occurrences
                "alpha gamma alpha beta gamma alpha again",
            ],
        }
    )
    idx = str(tmp_path / "phrase_idx")
    build_index(spark, idx, [("b0", spark.createDataFrame(pdf))])
    s = Searcher(IndexReader(spark, idx))
    oracle = OracleIndex(pdf)

    q = PhraseQuery(terms=("alpha", "beta", "alpha"))
    got = s.search(q, k=10)
    want = oracle.top_k(q, 10)
    assert list(got["doc_id"]) == list(want["doc_id"]) == [2, 0]
    assert list(got["score"]) == list(want["score"])


def test_no_docid_reuse_after_purging_merge(spark, tiny_corpus_pdf, tmp_path):
    """After force_merge purges tombstoned docs, total_docs drops below
    the docID high-water mark — the next appended batch must allocate
    fresh IDs from the persisted next_doc_id, never reuse live ones."""
    from pyspark.sql import functions as F

    from lucene_solr_spark.indexing import deletes
    from lucene_solr_spark.indexing.builder import build_index
    from lucene_solr_spark.indexing.manifest import ManifestStore
    from lucene_solr_spark.indexing.merge import force_merge
    from lucene_solr_spark.search.executor import IndexReader

    idx = str(tmp_path / "hwm_idx")
    n = len(tiny_corpus_pdf)
    build_index(spark, idx, [("b0", spark.createDataFrame(tiny_corpus_pdf.iloc[: n // 2])),
                             ("b1", spark.createDataFrame(tiny_corpus_pdf.iloc[n // 2:]))])
    n_del = deletes.delete_by_terms(spark, idx, ["ident007"])
    assert n_del > 0
    force_merge(spark, idx, max_segments=1)

    m = ManifestStore(idx).load()
    assert m.total_docs == n - n_del
    assert m.next_doc_id == n  # high-water mark survives the purge

    extra = tiny_corpus_pdf.iloc[:3].copy()
    extra["path"] = extra["path"] + "_v2"
    build_index(spark, idx, [("b2", spark.createDataFrame(extra))])

    m2 = ManifestStore(idx).load()
    assert m2.segments[-1].doc_base == n
    assert m2.next_doc_id == n + 3
    meta = IndexReader(spark, idx).doc_meta
    dup = meta.groupBy("doc_id").agg(F.count(F.lit(1)).alias("c")).where(F.col("c") > 1).count()
    assert dup == 0
