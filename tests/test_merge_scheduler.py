"""ConcurrentMergeScheduler analog: merges on background driver threads
overlap subsequent batch builds; the per-index commit lock + reload-
and-revalidate manifest swap keep builds and merges from clobbering
each other (index/ConcurrentMergeScheduler.java:65-70 semantics).
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


def test_concurrent_merge_overlaps_build(spark, tiny_corpus_pdf, tmp_path, monkeypatch):
    """Build 6 batches, kicking the scheduler after each: merges run on
    pool threads WHILE later batches build. Final index must answer
    identically to a synchronous build+maybe_merge, with all docs live
    and fewer segments than batches (some merge committed)."""
    import lucene_solr_spark.indexing.merge as merge_mod
    from lucene_solr_spark.indexing.builder import build_index
    from lucene_solr_spark.indexing.manifest import ManifestStore
    from lucene_solr_spark.indexing.scheduler import ConcurrentMergeScheduler

    # force the policy to fire at tiny sizes: every test segment sits
    # below the floor (one tier), budget 2 per tier -> 6 segments is
    # over budget and merges trigger
    monkeypatch.setattr(merge_mod, "FLOOR_SEGMENT_BYTES", 1_000_000)
    monkeypatch.setattr(merge_mod, "SEGS_PER_TIER", 2.0)

    idx_a = str(tmp_path / "concurrent")
    idx_b = str(tmp_path / "sync")

    sched = ConcurrentMergeScheduler(spark, idx_a, max_threads=2)
    for batch in _batches(spark, tiny_corpus_pdf, 6):
        build_index(spark, idx_a, [batch])
        sched.maybe_merge()  # non-blocking; overlaps the next build
    manifest = sched.close()

    build_index(spark, idx_b, _batches(spark, tiny_corpus_pdf, 6))
    merge_mod.maybe_merge(spark, idx_b)

    mb = ManifestStore(idx_b).load()
    assert manifest.total_docs == mb.total_docs == len(tiny_corpus_pdf)
    assert manifest.sum_dl == mb.sum_dl
    # the policy fired: fewer live segments than batches, and at least
    # one concurrent merge committed
    assert len(manifest.segments) < 6
    assert any(e.get("kind") == "merge" and e.get("concurrent")
               for e in manifest.lineage)
    # query identity vs the synchronous build
    assert _top(spark, idx_a) == _top(spark, idx_b)


def test_abandoned_merge_is_garbage_not_corruption(spark, tiny_corpus_pdf,
                                                   tmp_path, monkeypatch):
    """Two merges claiming overlapping inputs: the loser revalidates
    against the live manifest, abandons its output, and the index stays
    consistent. Simulated by running run_merge_concurrent twice on the
    same inputs — the second must abandon (inputs no longer live).
    Input-dir reclamation is disabled so the loser's data phase can
    still read the stale dirs (the real race: work done on a snapshot
    that lost)."""
    import shutil

    from lucene_solr_spark.indexing.builder import build_index
    from lucene_solr_spark.indexing.manifest import ManifestStore
    from lucene_solr_spark.indexing.merge import run_merge_concurrent

    monkeypatch.setattr(shutil, "rmtree", lambda *a, **k: None)

    idx = str(tmp_path / "idx")
    build_index(spark, idx, _batches(spark, tiny_corpus_pdf, 3))
    store = ManifestStore(idx)
    inputs = list(store.load().segments[:2])

    before = _top(spark, idx)
    m1 = run_merge_concurrent(spark, store, inputs)
    assert m1 is not None
    # same inputs again: they were swapped out by m1 -> must abandon
    m2 = run_merge_concurrent(spark, store, inputs)
    assert m2 is None
    assert _top(spark, idx) == before
    assert store.load().total_docs == len(tiny_corpus_pdf)


@pytest.mark.parametrize("concurrent", [False, True])
def test_delete_during_merge_is_carried_over(spark, tiny_corpus_pdf, tmp_path,
                                             monkeypatch, concurrent):
    """A delete that commits while a merge's data phase runs (after the
    merge read its inputs' live docs) lands in the merged segment: the
    swap ORs it in under the commit lock instead of losing it, and the
    delete's commit does not undo the swap."""
    import lucene_solr_spark.indexing.merge as merge_mod
    from lucene_solr_spark.indexing import deletes
    from lucene_solr_spark.indexing.builder import build_index
    from lucene_solr_spark.indexing.check import check_index
    from lucene_solr_spark.indexing.manifest import ManifestStore
    from lucene_solr_spark.search.executor import IndexReader, Searcher

    idx = str(tmp_path / "idx")
    build_index(spark, idx, _batches(spark, tiny_corpus_pdf, 2))
    hit_docs = set(Searcher(IndexReader(spark, idx))
                   .search(TermQuery(term="ident007"), k=500)["doc_id"])
    assert len(hit_docs) >= 2, "fixture drift"

    real = merge_mod._merge_data
    racing = {}

    def merge_data_then_delete(*args, **kwargs):
        out = real(*args, **kwargs)
        racing["n"] = deletes.delete_by_terms(spark, idx, ["ident007"])
        return out

    monkeypatch.setattr(merge_mod, "_merge_data", merge_data_then_delete)
    store = ManifestStore(idx)
    inputs = store.load().segments
    if concurrent:
        merge_mod.run_merge_concurrent(spark, store, inputs)
    else:
        merge_mod.run_merge(spark, store, store.load(), inputs)

    assert racing["n"] == len(hit_docs)
    m = store.load()
    assert [s.name for s in m.segments] == [merge_mod.merged_segment_name(inputs)]
    seg = m.segments[0]
    assert seg.n_deleted == len(hit_docs) and seg.del_gen == 1
    reader = IndexReader(spark, idx)
    assert set(reader.dead.ids().tolist()) == hit_docs
    assert Searcher(reader).count(TermQuery(term="ident007")) == 0
    assert check_index(spark, idx)["clean"]


# the tests above merge on the driver (the test indexes fit the postings
# budget); their twins below run the same checks on the Spark jobs


def test_concurrent_merge_overlaps_build_spark(spark, tiny_corpus_pdf, tmp_path,
                                               monkeypatch, spark_commits):
    test_concurrent_merge_overlaps_build(spark, tiny_corpus_pdf, tmp_path, monkeypatch)


def test_abandoned_merge_is_garbage_not_corruption_spark(spark, tiny_corpus_pdf, tmp_path,
                                                         monkeypatch, spark_commits):
    test_abandoned_merge_is_garbage_not_corruption(spark, tiny_corpus_pdf, tmp_path,
                                                   monkeypatch)


@pytest.mark.parametrize("concurrent", [False, True])
def test_delete_during_merge_is_carried_over_spark(spark, tiny_corpus_pdf, tmp_path,
                                                   monkeypatch, concurrent, spark_commits):
    test_delete_during_merge_is_carried_over(spark, tiny_corpus_pdf, tmp_path,
                                             monkeypatch, concurrent)


def test_merge_score_weighs_deletes():
    """TieredMergePolicy's nonDelRatio²: of two equal-sized candidates,
    the one whose segments carry deletes scores lower (merges first);
    without deletes the ratio is 1."""
    from lucene_solr_spark.indexing.manifest import SegmentInfo
    from lucene_solr_spark.indexing.merge import merge_score

    def segs(n_deleted):
        return [SegmentInfo(name=f"s{i}", doc_base=1000 * i, doc_count=1000,
                            sum_dl=1, size_bytes=4_000_000, source_batch="b",
                            n_deleted=n_deleted, doc_span=1000) for i in range(3)]

    clean, dirty = merge_score(segs(0), False), merge_score(segs(500), False)
    assert dirty < clean
    assert clean == (1 / 3) * (3 * 4_000_000) ** 0.05
