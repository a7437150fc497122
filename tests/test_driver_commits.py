"""The driver access path of the write side: a merge whose inputs' summed
sum_dl is under codec.DRIVER_POSTINGS_BUDGET and an upsert of at most
deletes.DRIVER_UPSERT_ROWS rows run the Spark stages' own bodies on the
driver. Both paths give the same postings, statistics, doc metadata,
segment counters and top-k score bits (the Spark path forced with the
budget and cap at 0: the spark_commits fixture), and each runs the jobs
its plan expects. The batch block decoder under both is checked bit for
bit against the one-block reference decoder."""

from __future__ import annotations

import os
import shutil

import numpy as np
import pandas as pd
import pyarrow as pa
import pytest

from lucene_solr_spark import codec
from lucene_solr_spark.queryast import (BooleanClause, BooleanQuery, Occur,
                                        PhraseQuery, TermQuery)


# -- the batch decoder ---------------------------------------------------------

def _random_blocks(rng, n_blocks):
    """Encoded blocks of every width 1-32 of each section, lengths 1..128
    (tail blocks included), with and without positions."""
    blobs, pblobs = [], []
    for i in range(n_blocks):
        n = int(rng.choice([1, 2, 3, 17, 127, 128]))
        w = 1 + i % 32
        hi = 2 ** w
        docs = np.cumsum(rng.integers(1, max(2, hi // 2), n)) + int(rng.integers(0, 2**40))
        tfs = rng.integers(1, 1 + 2 ** int(rng.integers(0, 6)), n)
        norms = rng.integers(0, hi, n)
        norms[0] = hi - 1  # the norm section is exactly w bits wide
        pos = None
        if i % 3:
            pos = np.concatenate([np.sort(rng.choice(50 + int(t) * (1 + i % 4), int(t),
                                                     replace=False)) for t in tfs])
        blob, pblob = codec.encode_block(docs, tfs, norms, pos)
        blobs.append(blob)
        pblobs.append(pblob)
    return blobs, pblobs


def test_decode_blocks_batch_matches_per_block():
    rng = np.random.default_rng(7)
    blobs, pblobs = _random_blocks(rng, 320)
    widths = set()
    for b in blobs:
        off = 9
        for _ in range(3):  # the doc delta, tf and norm FOR sections
            w, n = b[off], int.from_bytes(b[off + 1:off + 5], "little")
            widths.add(w)
            off += 5 + (n * w + 7) // 8
    assert set(range(1, 33)) <= widths, "fixture drift: not every width"
    arr, parr = pa.array(blobs, pa.binary()), pa.array(pblobs, pa.binary())
    for lo, hi in [(0, 320), (0, 1), (37, 38), (5, 200), (319, 320)]:
        for b_in, p_in in [(arr.slice(lo, hi - lo), parr.slice(lo, hi - lo)),
                           (blobs[lo:hi], pblobs[lo:hi])]:
            d, f, nb, pos, off, poff = codec.decode_blocks_batch(b_in, p_in)
            d0, f0, nb0, _, off0, poff0 = codec.decode_blocks_batch(b_in)
            assert np.array_equal(off0, off) and not poff0.any()
            assert np.array_equal(d0, d) and np.array_equal(f0, f)
            for i, (blob, pblob) in enumerate(zip(blobs[lo:hi], pblobs[lo:hi])):
                want = codec.decode_block_positions(blob, pblob)
                got = (d[off[i]:off[i + 1]], f[off[i]:off[i + 1]],
                       nb[off[i]:off[i + 1]], pos[poff[i]:poff[i + 1]])
                for g, w in zip(got, want):
                    assert g.dtype == w.dtype and np.array_equal(g, w), (lo, i)
    chunked = pa.chunked_array([arr.slice(0, 10), arr.slice(10, 30)])
    assert np.array_equal(codec.decode_blocks_batch(chunked)[0],
                          codec.decode_blocks_batch(arr.slice(0, 40))[0])
    empty = codec.decode_blocks_batch(pa.array([], pa.binary()), pa.array([], pa.binary()))
    assert [len(x) for x in empty] == [0, 0, 0, 0, 1, 1]
    with pytest.raises(ValueError):
        codec.decode_blocks_batch([blobs[1]], [None])  # positions not passed


# -- merges ----------------------------------------------------------------------

def _index_state(idx):
    """Everything a merge must preserve, read with pyarrow and decoded
    per block with the reference decoder: the live postings (term, doc,
    tf, norm, positions) sorted, the summed term stats, the doc metadata
    by doc_id and each segment's counters."""
    import pyarrow.dataset as ds

    from lucene_solr_spark.indexing.deletes import dead_docs
    from lucene_solr_spark.indexing.manifest import (ManifestStore, _data_files,
                                                     doc_meta_path, postings_path)

    store = ManifestStore(idx)
    m = store.load()
    dead = dead_docs(store, m.segments)
    dirs = [store.segment_dir(s.name) for s in m.segments]
    blk = ds.dataset([f for d in dirs for f in _data_files(postings_path(d))]).to_table(
        columns=["term", "blob", "pblob"]).to_pylist()
    post = []
    for r in blk:
        d, f, nb, pos = codec.decode_block_positions(r["blob"], r["pblob"])
        off = np.concatenate(([0], np.cumsum(f)))
        for i in range(len(d)):
            if dead is None or not dead.probe(d[i:i + 1])[0]:
                post.append((r["term"], int(d[i]), int(f[i]), int(nb[i]),
                             tuple(pos[off[i]:off[i + 1]].tolist())))
    stats = (pd.concat([pd.read_parquet(os.path.join(d, "term_stats.parquet")) for d in dirs])
             .groupby("term")[["df", "ttf"]].sum().sort_index())
    meta = (ds.dataset([f for d in dirs for f in _data_files(doc_meta_path(d))])
            .to_table().to_pandas().sort_values("doc_id").reset_index(drop=True))
    segs = [(s.name, s.doc_base, s.doc_count, s.doc_span, s.sum_dl, s.n_deleted,
             s.del_gen, s.field_stats, s.source_batch) for s in m.segments]
    return sorted(post), stats, meta, segs


QUERIES = [TermQuery(term="import"), TermQuery(term="ident007"),
           PhraseQuery(terms=("import", "return")),
           BooleanQuery(clauses=(BooleanClause(Occur.MUST, TermQuery(term="import")),
                                 BooleanClause(Occur.SHOULD, TermQuery(term="return"))))]


def _top_bits(spark, idx):
    """Doc ids and score bits of QUERIES (no phrase on an index without
    positions)."""
    from lucene_solr_spark.search.executor import IndexReader, Searcher

    s = Searcher(IndexReader(spark, idx))
    out = []
    for q in QUERIES:
        if isinstance(q, PhraseQuery) and "nopos" in idx:
            continue
        r = s.search(q, k=30)
        out.append((list(r["doc_id"]), r["score"].to_numpy().tobytes()))
    return out


def _batches(spark, pdf, n):
    cuts = [len(pdf) * i // n for i in range(n + 1)]
    return [(f"b{i:02d}", spark.createDataFrame(pdf.iloc[cuts[i]:cuts[i + 1]]))
            for i in range(n)]


@pytest.fixture(scope="module")
def built(spark, tiny_corpus_pdf, tmp_path_factory):
    """Indexes to copy: three segments with deletes in two of them, and
    two segments built without positions."""
    from lucene_solr_spark.indexing import deletes
    from lucene_solr_spark.indexing.builder import build_index

    base = tmp_path_factory.mktemp("commits")
    multi = str(base / "multi")
    build_index(spark, multi, _batches(spark, tiny_corpus_pdf, 3))
    assert deletes.delete_by_terms(spark, multi, ["ident007", "ident011"]) >= 2
    nopos = str(base / "nopos")
    build_index(spark, nopos, _batches(spark, tiny_corpus_pdf, 2), positions=False)
    return {"multi": multi, "nopos": nopos}


def _copy(src, tmp_path, name):
    dst = str(tmp_path / name)
    shutil.copytree(src, dst)
    return dst


def _merge_both(request, monkeypatch, tmp_path, src, run):
    """(driver state, driver top-k, Spark state, Spark top-k) after
    run(index_dir) on two copies of src."""
    spark = request.getfixturevalue("spark")
    out = []
    for path in ("driver", "spark"):
        if path == "spark":
            request.getfixturevalue("spark_commits")
        idx = _copy(src, tmp_path, f"{os.path.basename(src)}_{path}")
        run(idx)
        out += [_index_state(idx), _top_bits(spark, idx)]
    return out


def _assert_same_state(a, b):
    post_a, stats_a, meta_a, segs_a = a
    post_b, stats_b, meta_b, segs_b = b
    assert post_a == post_b
    pd.testing.assert_frame_equal(stats_a, stats_b)
    pd.testing.assert_frame_equal(meta_a, meta_b)
    assert segs_a == segs_b


@pytest.mark.parametrize("which", ["multi", "nopos"])
def test_force_merge_driver_equals_spark(request, monkeypatch, tmp_path, built, which):
    from lucene_solr_spark.indexing.manifest import ManifestStore
    from lucene_solr_spark.indexing.merge import force_merge

    spark = request.getfixturevalue("spark")
    plans = []

    def run(idx):
        force_merge(spark, idx, 1)
        plans.append([e for e in ManifestStore(idx).load().lineage if e["kind"] == "merge"])

    before = _index_state(built[which])
    drv, drv_top, spk, spk_top = _merge_both(request, monkeypatch, tmp_path, built[which], run)
    _assert_same_state(drv, spk)
    assert drv_top == spk_top
    # the merge dropped exactly the deleted docs and kept every posting
    assert drv[0] == before[0]
    assert len(drv[3]) == 1 and drv[3][0][5] == 0
    assert {e["access_path"] for e in plans[0]} == {"driver"}
    assert {e["access_path"] for e in plans[1]} == {"spark"}
    for e in plans[0]:
        assert e["expected_jobs"] == 0 and 0 < e["tokens_planned"] < e["budget"]
    # one part file per kind on the driver
    seg_dir = ManifestStore(str(tmp_path / f"{which}_driver")).segment_dir(drv[3][0][0])
    for sub in ("inverted.parquet/kind=blk", "inverted.parquet/kind=doc",
                "term_stats.parquet"):
        assert os.listdir(os.path.join(seg_dir, sub)) == ["part-00000.parquet"]


def test_background_merge_carries_late_delete_on_both_paths(request, monkeypatch,
                                                             tmp_path, built):
    """A delete committed while a background merge's data phase runs is
    ORed into the merged segment by the swap, on either path."""
    from lucene_solr_spark.indexing import deletes
    from lucene_solr_spark.indexing import merge as merge_mod
    from lucene_solr_spark.indexing.manifest import ManifestStore

    spark = request.getfixturevalue("spark")
    real = merge_mod._merge_data

    def run(idx):
        def merge_data_then_delete(*args, **kwargs):
            out = real(*args, **kwargs)
            assert deletes.delete_by_terms(spark, idx, ["import"]) > 0
            return out

        monkeypatch.setattr(merge_mod, "_merge_data", merge_data_then_delete)
        store = ManifestStore(idx)
        assert merge_mod.run_merge_concurrent(spark, store, store.load().segments)
        monkeypatch.setattr(merge_mod, "_merge_data", real)

    drv, drv_top, spk, spk_top = _merge_both(request, monkeypatch, tmp_path,
                                             built["multi"], run)
    _assert_same_state(drv, spk)
    assert drv_top == spk_top
    assert drv[3][0][5] > 0  # the late delete landed in the merged segment
    assert not [p for p in drv[0] if p[0] == "import"]


def test_merge_jobs_per_path(spark, spark_jobs, tmp_path, built, monkeypatch, caplog):
    """A driver merge runs no Spark job; an over-budget merge runs the
    jobs its plan expects. Each plan is logged at DEBUG."""
    import logging

    from lucene_solr_spark.indexing.manifest import ManifestStore
    from lucene_solr_spark.indexing.merge import merge_plan, run_merge

    for path in ("driver", "spark"):
        if path == "spark":
            monkeypatch.setattr(codec, "DRIVER_POSTINGS_BUDGET", 0)
        store = ManifestStore(_copy(built["multi"], tmp_path, path))
        m = store.load()
        plan = merge_plan(m.segments[:2])
        assert plan["access_path"] == path
        caplog.clear()
        with caplog.at_level(logging.DEBUG, logger="lucene_solr_spark.indexing"):
            _, jobs = spark_jobs(lambda: run_merge(spark, store, m, m.segments[:2]))
        assert jobs == plan["expected_jobs"], path
        assert any("merge plan" in r.getMessage() and f"'{path}'" in r.getMessage()
                   for r in caplog.records)


# -- upserts ---------------------------------------------------------------------

def _upsert_pdf(tiny_corpus_pdf):
    """Two replaced keys (one from each of two segments) with new text and
    three new keys."""
    rep = tiny_corpus_pdf.iloc[[3, 150]].copy()
    rep["content"] = ["zzupdated import return", "zzupdated again import"]
    new = tiny_corpus_pdf.iloc[[5, 6, 7]].copy()
    new["path"] = new["path"] + ".new"
    new["content"] = ["import zzfresh", "return zzfresh zzfresh", "public static"]
    return pd.concat([new, rep]).reset_index(drop=True)


@pytest.mark.parametrize("index_sort", [None, ["lang", "path"]])
def test_update_documents_driver_equals_spark(request, monkeypatch, tmp_path, spark_jobs,
                                              tiny_corpus_pdf, index_sort, caplog):
    import logging

    from lucene_solr_spark.indexing import deletes
    from lucene_solr_spark.indexing.builder import build_index
    from lucene_solr_spark.indexing.manifest import ManifestStore

    spark = request.getfixturevalue("spark")
    src = str(tmp_path / "src")
    build_index(spark, src, _batches(spark, tiny_corpus_pdf, 2), index_sort=index_sort)
    batch = _upsert_pdf(tiny_corpus_pdf)
    states, tops, entries = [], [], []
    for path in ("driver", "spark"):
        if path == "spark":
            request.getfixturevalue("spark_commits")
        idx = _copy(src, tmp_path, path)
        gen = ManifestStore(idx).current_generation()
        caplog.clear()
        with caplog.at_level(logging.DEBUG, logger="lucene_solr_spark.indexing"):
            out, jobs = spark_jobs(lambda: deletes.update_documents(
                spark, idx, spark.createDataFrame(batch)))
        assert any("update plan" in r.getMessage() and f"'{path}'" in r.getMessage()
                   for r in caplog.records)
        assert out["n_deleted"] == 2 and out["n_added"] == 5
        m = ManifestStore(idx).load()
        assert m.generation == gen + 1  # deletes and segment: one commit
        entries.append(m.lineage[-1])
        if path == "driver":
            assert jobs == 1
        st = _index_state(idx)
        # segment names carry the random batch id
        states.append((st[0], st[1], st[2], [s[1:-1] for s in st[3]]))
        tops.append(_top_bits(spark, idx))
    _assert_same_state(*states)
    assert tops[0] == tops[1]
    drv, spk = entries
    assert drv["kind"] == spk["kind"] == "update"
    assert (drv["access_path"], spk["access_path"]) == ("driver", "spark")
    assert drv["batch_rows"] == 5 and drv["cap"] >= 5 and spk["cap"] == 0
    assert drv["expected_jobs"] == 1 and drv["n_deleted"] == spk["n_deleted"] == 2
    assert drv["doc_count"] == spk["doc_count"] == 5 and drv["sum_dl"] == spk["sum_dl"]


def test_update_sha_mismatch_on_driver_commits_nothing(spark, tmp_path, tiny_corpus_pdf,
                                                       monkeypatch):
    """A row whose persisted sha256 differs from the JVM's sha2 of the
    collected content fails the driver upsert before its commit: the
    replaced docs stay live and no segment is added."""
    import hashlib

    from lucene_solr_spark.indexing import builder, deletes
    from lucene_solr_spark.indexing.builder import build_index
    from lucene_solr_spark.indexing.manifest import ManifestStore

    idx = str(tmp_path / "idx")
    build_index(spark, idx, _batches(spark, tiny_corpus_pdf, 2))
    before = ManifestStore(idx).load()
    batch = _upsert_pdf(tiny_corpus_pdf)
    batch.loc[0, "content"] = "zzcorrupt import"

    class Corrupting:
        @staticmethod
        def sha256(data):
            return hashlib.sha256(data + (b"!" if b"zzcorrupt" in data else b""))

    monkeypatch.setattr(builder, "hashlib", Corrupting)
    with pytest.raises(RuntimeError, match="sha256 mismatch on 1 rows"):
        deletes.update_documents(spark, idx, spark.createDataFrame(batch))
    after = ManifestStore(idx).load()
    assert after.generation == before.generation
    assert [s.name for s in after.segments] == [s.name for s in before.segments]
    assert not any(s.n_deleted for s in after.segments)


def test_update_over_cap_runs_spark_jobs(spark, spark_jobs, tmp_path, tiny_corpus_pdf,
                                         monkeypatch):
    """A batch over the cap runs the Spark build and key scan: the probe
    job, then the jobs of delete_by_keys and build_index on the same
    batch."""
    from lucene_solr_spark.indexing import deletes
    from lucene_solr_spark.indexing.builder import build_index
    from lucene_solr_spark.indexing.manifest import ManifestStore

    src = str(tmp_path / "src")
    build_index(spark, src, _batches(spark, tiny_corpus_pdf, 2))
    batch = _upsert_pdf(tiny_corpus_pdf)
    monkeypatch.setattr(deletes, "DRIVER_UPSERT_ROWS", 4)
    idx = _copy(src, tmp_path, "update")
    out, jobs = spark_jobs(lambda: deletes.update_documents(
        spark, idx, spark.createDataFrame(batch)))
    entry = ManifestStore(idx).load().lineage[-1]
    assert entry["access_path"] == "spark" and entry["batch_rows"] is None
    assert out["n_deleted"] == 2 and out["n_added"] == 5

    ref = _copy(src, tmp_path, "ref")
    df = spark.createDataFrame(batch)
    _, del_jobs = spark_jobs(lambda: deletes.delete_by_keys(spark, ref, df))
    _, build_jobs = spark_jobs(lambda: build_index(spark, ref, [("ref", df)]))
    assert jobs == 1 + del_jobs + build_jobs
