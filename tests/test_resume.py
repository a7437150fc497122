"""Resumability (north rule): crash mid-build and mid-merge, resume,
identical results. The manifest is the single commit point; every
stage is idempotent (overwrite-by-name); lineage records every
build/merge/delete with counters (SegmentInfos.java:57-67 analog).
"""

from __future__ import annotations

import pandas as pd
import pytest

from lucene_solr_spark.queryast import TermQuery


def _batches(spark, pdf: pd.DataFrame, n: int):
    cuts = [len(pdf) * i // n for i in range(n + 1)]
    return [
        (f"b{i:02d}", spark.createDataFrame(pdf.iloc[cuts[i]:cuts[i + 1]]))
        for i in range(n)
    ]


def _top(spark, idx, term="import", k=20):
    from lucene_solr_spark.search.executor import IndexReader, Searcher

    s = Searcher(IndexReader(spark, idx))
    r = s.search(TermQuery(term=term), k=k)
    return list(zip(r["doc_id"], r["score"]))


def test_build_crash_resume_identical(spark, tiny_corpus_pdf, tmp_path):
    from lucene_solr_spark.indexing.builder import build_index
    from lucene_solr_spark.indexing.manifest import ManifestStore

    idx_a = str(tmp_path / "crashy")
    idx_b = str(tmp_path / "clean")

    with pytest.raises(KeyboardInterrupt):
        build_index(spark, idx_a, _batches(spark, tiny_corpus_pdf, 3),
                    fail_after_batch=1)
    m = ManifestStore(idx_a).load()
    assert len(m.segments) == 1  # one batch committed before the crash

    # resume: completed batches are skipped, the rest build
    build_index(spark, idx_a, _batches(spark, tiny_corpus_pdf, 3))
    build_index(spark, idx_b, _batches(spark, tiny_corpus_pdf, 3))

    assert _top(spark, idx_a) == _top(spark, idx_b)
    ma, mb = ManifestStore(idx_a).load(), ManifestStore(idx_b).load()
    assert ma.total_docs == mb.total_docs == len(tiny_corpus_pdf)
    assert ma.sum_dl == mb.sum_dl


def test_build_rerun_noop(spark, tiny_corpus_pdf, tmp_path):
    from lucene_solr_spark.indexing.builder import build_index
    from lucene_solr_spark.indexing.manifest import ManifestStore

    idx = str(tmp_path / "idx")
    build_index(spark, idx, _batches(spark, tiny_corpus_pdf, 2))
    gen1 = ManifestStore(idx).load()
    build_index(spark, idx, _batches(spark, tiny_corpus_pdf, 2))
    gen2 = ManifestStore(idx).load()
    assert [s.name for s in gen1.segments] == [s.name for s in gen2.segments]
    assert gen1.total_docs == gen2.total_docs


def test_merge_crash_before_commit_resumes(spark, tiny_corpus_pdf, tmp_path,
                                           monkeypatch):
    from lucene_solr_spark.indexing import merge as merge_mod
    from lucene_solr_spark.indexing.builder import build_index
    from lucene_solr_spark.indexing.manifest import ManifestStore

    idx = str(tmp_path / "idx")
    build_index(spark, idx, _batches(spark, tiny_corpus_pdf, 4))
    before = _top(spark, idx)
    store = ManifestStore(idx)
    manifest = store.load()
    pre_names = [s.name for s in manifest.segments]

    # crash exactly at the commit point: merge data written, manifest not
    real_commit = ManifestStore.commit

    def exploding_commit(self, m, lineage_entry=None):
        raise RuntimeError("simulated crash before manifest commit")

    monkeypatch.setattr(ManifestStore, "commit", exploding_commit)
    with pytest.raises(RuntimeError):
        merge_mod.run_merge(spark, store, store.load(), store.load().segments[:2])
    monkeypatch.setattr(ManifestStore, "commit", real_commit)

    # old generation still live and answers identically
    assert [s.name for s in ManifestStore(idx).load().segments] == pre_names
    assert _top(spark, idx) == before

    # resume: rerun the merge (deterministic output name, overwrite)
    store2 = ManifestStore(idx)
    m2 = store2.load()
    merge_mod.run_merge(spark, store2, m2, m2.segments[:2])
    after = ManifestStore(idx).load()
    assert len(after.segments) == len(pre_names) - 1
    assert _top(spark, idx) == before  # merge never changes results


def test_merge_crash_before_commit_resumes_spark(spark, tiny_corpus_pdf, tmp_path,
                                                 monkeypatch, spark_commits):
    """The merge kill/resume above (a driver merge) on the Spark jobs."""
    test_merge_crash_before_commit_resumes(spark, tiny_corpus_pdf, tmp_path, monkeypatch)


def test_lineage_records_all_operations(spark, tiny_corpus_pdf, tmp_path):
    from lucene_solr_spark.indexing import deletes
    from lucene_solr_spark.indexing.builder import build_index
    from lucene_solr_spark.indexing.manifest import ManifestStore
    from lucene_solr_spark.indexing.merge import force_merge

    idx = str(tmp_path / "idx")
    build_index(spark, idx, _batches(spark, tiny_corpus_pdf, 2))
    deletes.delete_by_terms(spark, idx, ["ident007"])
    force_merge(spark, idx, max_segments=1)

    lineage = ManifestStore(idx).load().lineage
    kinds = [e["kind"] for e in lineage]
    assert kinds.count("build") == 2
    assert "delete" in kinds
    assert "merge" in kinds
    builds = [e for e in lineage if e["kind"] == "build"]
    assert all("doc_count" in e and "sha_mismatches" in e for e in builds)
    # per-partition lineage: one counters row per writing task
    for e in builds:
        parts = e["partitions"]
        assert parts and all(set(p) == {"pid", "docs", "tokens", "blocks", "bytes"}
                             for p in parts)
        assert sum(p["docs"] for p in parts) == e["doc_count"]
        assert sum(p["tokens"] for p in parts) == e["sum_dl"]


def test_delete_crash_before_commit_resumes(spark, tiny_corpus_pdf, tmp_path,
                                            monkeypatch):
    """A delete killed between writing its live-docs file and committing
    the manifest publishes nothing: readers open only the file the
    manifest names, so the orphan is never read (it is overwritten with
    all bits set here, which would hide every doc if it were), and the
    retried delete returns the full count."""
    import glob
    import os

    from lucene_solr_spark.indexing import deletes
    from lucene_solr_spark.indexing.builder import build_index
    from lucene_solr_spark.indexing.check import check_index
    from lucene_solr_spark.indexing.manifest import ManifestStore
    from lucene_solr_spark.search.executor import IndexReader, Searcher

    idx = str(tmp_path / "idx")
    build_index(spark, idx, _batches(spark, tiny_corpus_pdf, 2))
    store = ManifestStore(idx)
    gen = store.current_generation()
    n_hits = Searcher(IndexReader(spark, idx)).count(TermQuery(term="ident007"))
    assert n_hits >= 2, "fixture drift"

    def exploding_commit(self, m, lineage_entry=None):
        raise RuntimeError("simulated crash before manifest commit")

    real_commit = ManifestStore.commit
    monkeypatch.setattr(ManifestStore, "commit", exploding_commit)
    with pytest.raises(RuntimeError):
        deletes.delete_by_terms(spark, idx, ["ident007"])
    monkeypatch.setattr(ManifestStore, "commit", real_commit)

    assert store.current_generation() == gen
    orphans = glob.glob(os.path.join(idx, "segments", "*", "live_*.bin"))
    assert orphans
    for f in orphans:
        with open(f, "r+b") as fh:
            fh.write(b"\xff" * os.path.getsize(f))
    reader = IndexReader(spark, idx)
    assert not reader.has_deletes
    assert Searcher(reader).count(TermQuery(term="ident007")) == n_hits

    assert deletes.delete_by_terms(spark, idx, ["ident007"]) == n_hits
    assert Searcher(IndexReader(spark, idx)).count(TermQuery(term="ident007")) == 0
    assert check_index(spark, idx)["clean"]
