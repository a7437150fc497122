"""Deletes/updates: per-segment live-docs bitsets, liveDocs filtering,
merge purge (reference: IndexWriter delete/update + PendingDeletes +
.liv; stats ignore deletions until merge).
"""

from __future__ import annotations

import shutil

import pytest

from lucene_solr_spark.queryast import TermQuery


@pytest.fixture()
def fresh_index(spark, tiny_corpus_pdf, tmp_path):
    from lucene_solr_spark.indexing.builder import build_index

    idx = str(tmp_path / "idx")
    n = len(tiny_corpus_pdf)
    half = n // 2
    b0 = spark.createDataFrame(tiny_corpus_pdf.iloc[:half])
    b1 = spark.createDataFrame(tiny_corpus_pdf.iloc[half:])
    build_index(spark, idx, [("b0", b0), ("b1", b1)])
    return idx


def _searcher(spark, idx):
    from lucene_solr_spark.search.executor import IndexReader, Searcher

    return Searcher(IndexReader(spark, idx))


def test_delete_by_term_filters_hits_keeps_stats(spark, fresh_index):
    from lucene_solr_spark.indexing import deletes

    s0 = _searcher(spark, fresh_index)
    before_hits = s0.count(TermQuery(term="ident007"))
    before_df = s0.reader.term_stats(["ident007"])["ident007"][0]
    assert before_hits > 0

    n_del = deletes.delete_by_terms(spark, fresh_index, ["ident007"])
    assert n_del == before_hits

    s1 = _searcher(spark, fresh_index)
    assert s1.count(TermQuery(term="ident007")) == 0
    # Lucene semantics: df/docCount unchanged until merge purge
    assert s1.reader.term_stats(["ident007"])["ident007"][0] == before_df
    assert s1.reader.doc_count == s0.reader.doc_count

    # other queries exclude the tombstoned docs too
    res = s1.search(TermQuery(term="import"), k=200)
    deleted = set(s1.reader.dead.ids().tolist())
    assert len(deleted) == n_del
    assert not (set(res["doc_id"]) & deleted)


def test_delete_idempotent(spark, fresh_index):
    from lucene_solr_spark.indexing import deletes

    n1 = deletes.delete_by_terms(spark, fresh_index, ["ident007"])
    n2 = deletes.delete_by_terms(spark, fresh_index, ["ident007"])
    assert n1 > 0 and n2 == 0


def test_update_documents(spark, fresh_index, tiny_corpus_pdf):
    from lucene_solr_spark.indexing import deletes

    victim = tiny_corpus_pdf.iloc[[0]].copy()
    victim["content"] = "zzupdated marker content"
    before_total = _searcher(spark, fresh_index).reader.doc_count

    out = deletes.update_documents(spark, fresh_index, spark.createDataFrame(victim))
    assert out["n_deleted"] == 1 and out["n_added"] == 1

    s = _searcher(spark, fresh_index)
    hits = s.search(TermQuery(term="zzupdated"), k=10)
    assert len(hits) == 1
    assert hits["doc_id"][0] >= before_total  # fresh docID appended


def test_update_documents_spark(spark, fresh_index, tiny_corpus_pdf, spark_commits):
    """The upsert above (on the driver) as a Spark build and key scan."""
    test_update_documents(spark, fresh_index, tiny_corpus_pdf)


def test_merge_purges_deletes(spark, fresh_index):
    from lucene_solr_spark.indexing import deletes
    from lucene_solr_spark.indexing.merge import force_merge

    s0 = _searcher(spark, fresh_index)
    total = s0.reader.doc_count
    n_del = deletes.delete_by_terms(spark, fresh_index, ["ident007"])

    s1 = _searcher(spark, fresh_index)
    live_hits_before = s1.search(TermQuery(term="import"), k=500)

    force_merge(spark, fresh_index, max_segments=1)
    s2 = _searcher(spark, fresh_index)
    # physically purged: docCount shrinks, no segment keeps a delete
    assert s2.reader.doc_count == total - n_del
    assert not s2.reader.has_deletes
    assert s2.count(TermQuery(term="ident007")) == 0
    # same matching docs (scores and hence order legitimately shift:
    # stats now reflect the purge — reference behavior after merges)
    after = s2.search(TermQuery(term="import"), k=500)
    assert set(after["doc_id"]) == set(live_hits_before["doc_id"])


def test_wand_respects_deletes(spark, fresh_index):
    from lucene_solr_spark.indexing import deletes

    deletes.delete_by_terms(spark, fresh_index, ["ident007"])
    s = _searcher(spark, fresh_index)
    q = TermQuery(term="import")
    a = s.search(q, k=10)
    b = s.search(q, k=10, prune=True)
    assert list(a["doc_id"]) == list(b["doc_id"])
    assert list(a["score"]) == list(b["score"])


def test_delete_by_keys_jobs_and_count(spark, spark_jobs, fresh_index, tiny_corpus_pdf):
    """delete_by_keys: a doc-meta scan semi-joined with the broadcast keys
    whose tasks return packed bits — at most 2 Spark jobs; a key seen
    again counts nothing new."""
    from lucene_solr_spark.indexing import deletes

    n = len(tiny_corpus_pdf)
    # keys from both segments, and one key that matches no doc
    keys = tiny_corpus_pdf.iloc[[0, 1, n - 1]][["repo", "path"]].copy()
    keys.loc[len(keys)] = ["no-such-repo", "nowhere.py"]
    got, jobs = spark_jobs(
        lambda: deletes.delete_by_keys(spark, fresh_index, spark.createDataFrame(keys)))
    assert got == 3 and jobs <= 2
    again = spark.createDataFrame(tiny_corpus_pdf.iloc[[1, 2]][["repo", "path"]])
    assert deletes.delete_by_keys(spark, fresh_index, again) == 1
    dead = _searcher(spark, fresh_index).reader.dead.ids()
    assert len(dead) == 4


def test_merge_counts_live_docs_multifield(spark, tmp_path):
    """The merge's doc-metadata pass writes only live docs and returns
    the live counters: doc_count, sum_dl and per-field (docCount,
    sumTotalTermFreq) equal the pre-merge doc metadata minus the deleted
    docs."""
    import pandas as pd

    from lucene_solr_spark.indexing import deletes
    from lucene_solr_spark.indexing.builder import build_index
    from lucene_solr_spark.indexing.manifest import ManifestStore
    from lucene_solr_spark.indexing.merge import force_merge

    rows = [{"repo": "r", "path": f"p{i:03d}", "commit": "c",
             "lang": ["Go", "Java", "Python"][i % 3],
             "title": "merge index" if i % 4 else "",
             "body": " ".join(["segment"] * (1 + i % 5) + ["norm"] * (i % 2))}
            for i in range(60)]
    pdf = pd.DataFrame(rows)
    fields = [("title", "title", "standard"), ("body", "body", "standard"),
              ("lang", "lang", "keyword")]
    idx = str(tmp_path / "mf")
    build_index(spark, idx, [("b0", spark.createDataFrame(pdf.iloc[:30])),
                             ("b1", spark.createDataFrame(pdf.iloc[30:]))],
                fields=fields)
    assert deletes.delete_by_terms(spark, idx, ["Go"], field="lang") == 20
    reader = _searcher(spark, idx).reader
    meta = reader.doc_meta.toPandas()
    live = meta[~meta["doc_id"].isin(reader.dead.ids())]

    force_merge(spark, idx, max_segments=1)
    seg = ManifestStore(idx).load().segments[0]
    assert seg.doc_count == len(live) == 40
    assert seg.sum_dl == int(live["length"].sum())
    assert seg.field_stats == {
        f: [int((live[f"fdl_{f}"] > 0).sum()), int(live[f"fdl_{f}"].sum())]
        for f in ("title", "body", "lang")}
    assert seg.n_deleted == 0 and seg.doc_span == 60


def test_sql_deletes_view_from_bitsets(spark, fresh_index):
    """<prefix>_deletes lists the deleted ids the segments' bitsets hold;
    without deletes the view is not registered."""
    from lucene_solr_spark.indexing import deletes
    from lucene_solr_spark.sql import register_index_views

    assert "dtest_deletes" not in register_index_views(spark, fresh_index, "dtest")
    n = deletes.delete_by_terms(spark, fresh_index, ["ident007"])
    assert "dtest_deletes" in register_index_views(spark, fresh_index, "dtest")
    got = sorted(r["doc_id"] for r in spark.table("dtest_deletes").collect())
    assert len(got) == n
    assert got == _searcher(spark, fresh_index).reader.dead.ids().tolist()
