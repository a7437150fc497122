"""CheckIndex analog: clean index verifies; corruptions are caught."""

from __future__ import annotations

import json
import os

import pytest

from lucene_solr_spark.indexing.check import CheckIndexFailure, check_index

pytestmark = pytest.mark.spark


def test_clean_index_checks_out(spark, tiny_index):
    rep = check_index(spark, tiny_index)
    assert rep["clean"] and rep["errors"] == []
    assert rep["docs"] == 200 and rep["blocks"] > 0


def test_check_catches_stats_mismatch(spark, tiny_index, tmp_path):
    """term_stats holds one row per term per writing partition: a clean
    multi-partition segment checks out, and one partition's df raised by
    1 is reported by term."""
    import shutil

    import pyarrow as pa
    import pyarrow.parquet as pq

    from lucene_solr_spark.indexing.manifest import ManifestStore

    idx = str(tmp_path / "stats")
    shutil.copytree(tiny_index, idx)
    store = ManifestStore(idx)
    stats_dir = os.path.join(store.segment_dir(store.load().segments[0].name),
                             "term_stats.parquet")
    parts = sorted(f for f in os.listdir(stats_dir) if not f.startswith("."))
    assert len(parts) > 1, "fixture drift: one writing partition"
    assert check_index(spark, idx)["clean"]

    path = os.path.join(stats_dir, parts[-1])
    tbl = pq.read_table(path)
    term = tbl.column("term")[0].as_py()
    df = tbl.column("df").to_pylist()
    df[0] += 1
    pq.write_table(tbl.set_column(tbl.schema.get_field_index("df"), "df",
                                  pa.array(df, type=pa.int64())), path)
    rep = check_index(spark, idx, raise_on_error=False)
    assert not rep["clean"]
    assert any("1 terms with stats/postings mismatch" in e and repr(term) in e
               for e in rep["errors"]), rep["errors"]


def test_check_catches_manifest_corruption(spark, tiny_corpus_pdf, tmp_path):
    from lucene_solr_spark.indexing.builder import build_index
    from lucene_solr_spark.indexing.manifest import ManifestStore

    idx = str(tmp_path / "bad")
    build_index(spark, idx, [("b0", spark.createDataFrame(tiny_corpus_pdf))])
    store = ManifestStore(idx)
    gen = store.current_generation()
    path = os.path.join(store.mdir, f"segments_{gen}.json")
    raw = json.load(open(path))
    raw["segments"][0]["doc_count"] += 7  # counters now lie
    json.dump(raw, open(path, "w"))

    with pytest.raises(CheckIndexFailure, match="doc_count"):
        check_index(spark, idx)
    rep = check_index(spark, idx, raise_on_error=False)
    assert not rep["clean"] and any("doc_count" in e for e in rep["errors"])


def test_check_after_delete_and_merge(spark, tiny_corpus_pdf, tmp_path):
    from lucene_solr_spark.indexing import deletes
    from lucene_solr_spark.indexing.builder import build_index
    from lucene_solr_spark.indexing.merge import force_merge

    idx = str(tmp_path / "dm")
    n = len(tiny_corpus_pdf)
    build_index(spark, idx, [("b0", spark.createDataFrame(tiny_corpus_pdf.iloc[:n // 2])),
                             ("b1", spark.createDataFrame(tiny_corpus_pdf.iloc[n // 2:]))])
    deletes.delete_by_terms(spark, idx, ["ident007"])
    assert check_index(spark, idx)["clean"]
    force_merge(spark, idx, max_segments=1)
    rep = check_index(spark, idx)
    assert rep["clean"] and rep["segments"] == 1


def test_unstamped_segment_refused(spark, tiny_corpus_pdf, tmp_path):
    """A segment without the format stamp (written before segments
    recorded their format) makes every entry point refuse the index with
    one IndexFormatError naming the segment, before anything is read or
    written."""
    from lucene_solr_spark.indexing.builder import build_index
    from lucene_solr_spark.indexing.deletes import delete_by_terms
    from lucene_solr_spark.indexing.manifest import IndexFormatError, ManifestStore
    from lucene_solr_spark.indexing.merge import force_merge
    from lucene_solr_spark.search.executor import IndexReader
    from lucene_solr_spark.sql import register_index_views

    idx = str(tmp_path / "old")
    build_index(spark, idx, [("b0", spark.createDataFrame(tiny_corpus_pdf))])
    store = ManifestStore(idx)
    gen = store.current_generation()
    path = os.path.join(store.mdir, f"segments_{gen}.json")
    raw = json.load(open(path))
    del raw["segments"][0]["format_version"]
    json.dump(raw, open(path, "w"))
    before = sorted(os.listdir(idx)), sorted(os.listdir(os.path.join(idx, "segments")))

    append = spark.createDataFrame(tiny_corpus_pdf.iloc[:10])
    for refuse in (
        lambda: IndexReader(spark, idx),
        lambda: force_merge(spark, idx),
        lambda: check_index(spark, idx, raise_on_error=False),
        lambda: build_index(spark, idx, [("b1", append)]),
        lambda: delete_by_terms(spark, idx, ["import"]),
        lambda: register_index_views(spark, idx),
    ):
        with pytest.raises(IndexFormatError, match="seg_b0"):
            refuse()
    assert store.current_generation() == gen
    assert (sorted(os.listdir(idx)),
            sorted(os.listdir(os.path.join(idx, "segments")))) == before


def test_check_reports_live_docs_mismatch(spark, tiny_corpus_pdf, tmp_path):
    """The live-docs check runs on the driver: a hand-edited n_deleted
    no longer matches its bitset's popcount, and a missing live-docs
    file is reported by name."""
    from lucene_solr_spark.indexing import deletes
    from lucene_solr_spark.indexing.builder import build_index
    from lucene_solr_spark.indexing.manifest import ManifestStore

    idx = str(tmp_path / "liv")
    build_index(spark, idx, [("b0", spark.createDataFrame(tiny_corpus_pdf))])
    n = deletes.delete_by_terms(spark, idx, ["ident007"])
    assert n >= 2 and check_index(spark, idx)["clean"]
    store = ManifestStore(idx)
    path = os.path.join(store.mdir, f"segments_{store.current_generation()}.json")
    raw = json.load(open(path))
    raw["segments"][0]["n_deleted"] += 1
    json.dump(raw, open(path, "w"))
    rep = check_index(spark, idx, raise_on_error=False)
    assert not rep["clean"]
    assert any(f"{n} deleted docs in live_1.bin != n_deleted {n + 1}" in e
               for e in rep["errors"]), rep["errors"]

    os.remove(os.path.join(store.segment_dir("seg_b0"), "live_1.bin"))
    rep = check_index(spark, idx, raise_on_error=False)
    assert any("missing live_1.bin" in e for e in rep["errors"]), rep["errors"]


def test_format_1_segment_refused(spark, tiny_corpus_pdf, tmp_path):
    """A format-1 segment (its deletes were index-global tombstone files)
    is refused on open."""
    from lucene_solr_spark.indexing.builder import build_index
    from lucene_solr_spark.indexing.manifest import IndexFormatError, ManifestStore
    from lucene_solr_spark.search.executor import IndexReader

    idx = str(tmp_path / "f1")
    build_index(spark, idx, [("b0", spark.createDataFrame(tiny_corpus_pdf.iloc[:20]))])
    store = ManifestStore(idx)
    path = os.path.join(store.mdir, f"segments_{store.current_generation()}.json")
    raw = json.load(open(path))
    raw["segments"][0]["format_version"] = 1
    json.dump(raw, open(path, "w"))
    with pytest.raises(IndexFormatError, match=r"seg_b0 \(format 1\)"):
        IndexReader(spark, idx)
