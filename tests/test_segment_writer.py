"""The one-pass segment writer: the invert task writes its partition's
blk, doc and term-stats files itself (builder._make_invert_fn,
SegmentPartWriter, term_stats_table).

The Spark-free tests run the task body on local pandas data, as a
pandas UDF body can be (no TaskContext: it runs as partition 0), and
check its files against brute-force definitions; the Spark tests check
the job count of a build, that a dead attempt's temp file is never
read, and that built and merged segments share one blocks schema."""

from __future__ import annotations

import os
import shutil
from collections import defaultdict

import numpy as np
import pandas as pd
import pyarrow.parquet as pq
import pytest

from lucene_solr_spark.indexing import builder
from lucene_solr_spark.indexing.builder import (
    POSTINGS_SCHEMA, TERM_STATS_SCHEMA, arrow_schema, doc_schema)
from lucene_solr_spark.indexing.manifest import doc_meta_path, postings_path

N_DOCS = 3000


def _batch() -> pd.DataFrame:
    """A fixed corpus batch: `common` in every doc (> 17 blocks), a
    Zipf-ish tail, varied lengths and tfs."""
    rng = np.random.default_rng(7)
    words = [f"w{i:03d}" for i in range(300)]
    p = 1.0 / np.arange(1, len(words) + 1)
    rows = []
    for i in range(N_DOCS):
        toks = ["common"] * int(rng.integers(1, 4)) + list(
            rng.choice(words, int(rng.integers(5, 80)), p=p / p.sum()))
        rng.shuffle(toks)
        rows.append((i, f"r{i % 7}", f"p/{i:05d}.py", "c0", "py", " ".join(toks)))
    return pd.DataFrame(rows, columns=["doc_id", "repo", "path", "commit",
                                       "lang", "content"])


def _run_task(seg_dir: str, batch: pd.DataFrame, norms: str = "byte"):
    fn = builder._make_invert_fn(seg_dir, "standard", norms, True)
    out = list(fn(iter([batch.iloc[:1000], batch.iloc[1000:]])))
    assert len(out) == 1 and len(out[0]) == 1
    return out[0].iloc[0]


@pytest.fixture(scope="module")
def written(tmp_path_factory):
    seg = str(tmp_path_factory.mktemp("writer") / "seg")
    batch = _batch()
    return seg, batch, _run_task(seg, batch)


def _part(root: str) -> str:
    return os.path.join(root, "part-00000.parquet")


def test_task_files_have_exact_schemas(written):
    seg, _, row = written
    assert sorted(os.listdir(postings_path(seg))) == ["part-00000.parquet"]
    assert pq.read_schema(_part(postings_path(seg))).remove_metadata().equals(
        arrow_schema(POSTINGS_SCHEMA))
    assert pq.read_schema(_part(doc_meta_path(seg))).remove_metadata().equals(
        arrow_schema(doc_schema(None)))
    stats = os.path.join(seg, "term_stats.parquet")
    assert pq.read_schema(_part(stats)).remove_metadata().equals(
        arrow_schema(TERM_STATS_SCHEMA))
    assert row["pid"] == 0 and row["docs"] == N_DOCS
    assert row["blocks"] == pq.read_metadata(_part(postings_path(seg))).num_rows
    assert row["bytes"] == sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, fs in os.walk(seg) for f in fs)


def test_task_counters_and_postings_match_analyzer(written):
    """df/ttf of the task's stats equal a direct count over the analyzed
    documents, and the doc file holds every doc's length."""
    from lucene_solr_spark.analysis import standard_analyze

    seg, batch, row = written
    df, ttf = defaultdict(int), defaultdict(int)
    lengths = []
    for text in batch["content"]:
        toks = [t for t, _ in standard_analyze(text)]
        lengths.append(len(toks))
        for t in toks:
            ttf[t] += 1
        for t in set(toks):
            df[t] += 1
    docs = pq.read_table(_part(doc_meta_path(seg))).to_pandas()
    assert docs["doc_id"].tolist() == list(range(N_DOCS))
    assert docs["length"].tolist() == lengths
    assert row["sum_dl"] == sum(lengths)
    stats = pq.read_table(_part(os.path.join(seg, "term_stats.parquet"))).to_pandas()
    assert dict(zip(stats["term"], stats["df"])) == dict(df)
    assert dict(zip(stats["term"], stats["ttf"])) == dict(ttf)


def _brute_stats(blocks: pd.DataFrame) -> dict:
    """Per-term stats from their definitions, one block at a time."""
    out = {}
    for term, g in blocks.groupby("term", sort=True):
        out[term] = {"df": int(g["n"].sum()), "ttf": int(g["sum_tf"].sum())}
    return out


def test_stats_kernel_equals_brute_force(written):
    seg, _, _ = written
    blocks = pq.read_table(_part(postings_path(seg))).to_pandas()
    got = pq.read_table(_part(os.path.join(seg, "term_stats.parquet"))).to_pylist()
    want = _brute_stats(blocks)
    assert [r["term"] for r in got] == sorted(want)
    assert max(g["n"].size for _, g in blocks.groupby("term")) > 1, "fixture drift"
    for r in got:
        assert {k: v for k, v in r.items() if k != "term"} == want[r["term"]], r["term"]


def test_stats_kernel_empty_input_keeps_schema(written):
    seg, _, _ = written
    blocks = pq.read_table(_part(postings_path(seg))).to_pandas()
    empty = builder.term_stats_table(blocks.iloc[:0])
    assert empty.num_rows == 0 and empty.schema.equals(arrow_schema(TERM_STATS_SCHEMA))


def test_blk_row_groups_are_term_sorted_and_prune(monkeypatch, tmp_path):
    """The blocks come out term-sorted in fixed-size row groups: the row
    groups' term ranges do not overlap, and a one-term driver read
    returns exactly the rows of a full read."""
    from lucene_solr_spark.search.executor import _read_term_rows

    monkeypatch.setattr(builder, "ROW_GROUP_ROWS", 64)
    seg = str(tmp_path / "seg")
    _run_task(seg, _batch())
    path = _part(postings_path(seg))
    md = pq.read_metadata(path)
    assert md.num_row_groups > 5
    term_col = md.schema.names.index("term")
    ranges = [(md.row_group(i).column(term_col).statistics.min,
               md.row_group(i).column(term_col).statistics.max)
              for i in range(md.num_row_groups)]
    assert all(md.row_group(i).num_rows == 64 for i in range(md.num_row_groups - 1))
    for (lo1, hi1), (lo2, hi2) in zip(ranges, ranges[1:]):
        assert lo1 <= hi1 <= lo2 <= hi2
    full = pq.read_table(path).to_pandas()
    cols = ["term", "n", "min_doc", "max_doc", "sum_tf"]
    for term in ("common", "w150", "no_such_term"):
        got = _read_term_rows([path], cols, [term]).to_pandas()
        want = full.loc[full["term"] == term, cols].reset_index(drop=True)
        pd.testing.assert_frame_equal(got, want)


# -- Spark ---------------------------------------------------------------


@pytest.mark.spark
def test_build_segment_runs_at_most_four_jobs(spark, spark_jobs, tiny_corpus_pdf,
                                              tmp_path):
    src = spark.createDataFrame(tiny_corpus_pdf.sort_values(["repo", "path"]))
    out, jobs = spark_jobs(lambda: builder.build_segment(
        spark, src, str(tmp_path / "seg"), assume_sorted=True))
    assert out["doc_count"] == len(tiny_corpus_pdf)
    assert set(out["phases"]) == {"ids", "invert_write", "stats", "sha_check"}
    assert jobs <= 4, jobs


@pytest.mark.spark
def test_sha_check_catches_content_drift(spark, tiny_corpus_pdf, tmp_path):
    """The per-row check compares the persisted sha256 with a JVM sha2 of
    the source: content that differs between the invert pass and the
    check (a nondeterministic source) fails the build."""
    import random

    from pyspark.sql import functions as F

    drift = F.udf(lambda s: s + str(random.random())).asNondeterministic()
    src = spark.createDataFrame(tiny_corpus_pdf).withColumn("content", drift("content"))
    with pytest.raises(RuntimeError, match=f"mismatch on {len(tiny_corpus_pdf)} rows"):
        builder.build_segment(spark, src, str(tmp_path / "seg"))


@pytest.mark.spark
def test_stray_temp_file_is_not_read(spark, tiny_index, tmp_path):
    """A dead attempt's '.'-prefixed temp file (here a full copy of a
    real blk part) is invisible to the reader, the driver reads and the
    checker."""
    from lucene_solr_spark.indexing.check import check_index
    from lucene_solr_spark.indexing.manifest import ManifestStore
    from lucene_solr_spark.queryast import parse_query
    from lucene_solr_spark.search.executor import IndexReader, Searcher

    q = parse_query("import return")
    idx = str(tmp_path / "idx")
    shutil.copytree(tiny_index, idx)
    store = ManifestStore(idx)
    blk = postings_path(store.segment_dir(store.load().segments[0].name))
    part = sorted(f for f in os.listdir(blk) if not f.startswith("."))[0]
    base = Searcher(IndexReader(spark, idx)).search(q, k=10)
    n_blocks = IndexReader(spark, idx).blocks.count()
    shutil.copy(os.path.join(blk, part), os.path.join(blk, f".{part}.dead.tmp"))

    r = IndexReader(spark, idx)
    assert r.blocks.count() == n_blocks
    pd.testing.assert_frame_equal(Searcher(r).search(q, k=10), base)
    assert check_index(spark, idx)["clean"]


@pytest.mark.spark
def test_built_and_merged_blk_footers_identical(spark, tiny_corpus_pdf, tmp_path):
    from lucene_solr_spark.indexing.builder import build_index
    from lucene_solr_spark.indexing.manifest import ManifestStore
    from lucene_solr_spark.indexing.merge import force_merge

    idx = str(tmp_path / "idx")
    h = len(tiny_corpus_pdf) // 2
    build_index(spark, idx, [("b0", spark.createDataFrame(tiny_corpus_pdf.iloc[:h])),
                             ("b1", spark.createDataFrame(tiny_corpus_pdf.iloc[h:]))])
    store = ManifestStore(idx)

    def footers():
        return [pq.read_schema(os.path.join(d, f))
                for s in store.load().segments
                for d in [postings_path(store.segment_dir(s.name))]
                for f in os.listdir(d) if not f.startswith(".")]

    built = footers()
    force_merge(spark, idx, max_segments=1)
    merged = footers()
    assert [s.name for s in store.load().segments][0].startswith("seg_m_")
    assert built and merged
    for sch in built + merged:
        assert sch.equals(built[0], check_metadata=True)
    assert built[0].remove_metadata().equals(arrow_schema(POSTINGS_SCHEMA))


@pytest.mark.spark
def test_views_sum_term_stats_and_doc_meta_has_no_postings_columns(spark, tiny_index):
    from pyspark.sql import functions as F

    from lucene_solr_spark.search.executor import IndexReader
    from lucene_solr_spark.sql import register_index_views

    register_index_views(spark, tiny_index, prefix="wtest")
    view = spark.table("wtest_term_stats")
    assert view.columns == ["term", "df", "ttf"]
    n_terms = view.count()
    assert n_terms == view.select("term").distinct().count()
    reader = IndexReader(spark, tiny_index)
    assert reader.stats.count() > n_terms  # several partitions' rows per term
    summed = reader.stats.groupBy("term").agg(F.sum("df").alias("df"),
                                              F.sum("ttf").alias("ttf"))
    assert sorted(view.collect()) == sorted(summed.collect())

    postings_cols = set(arrow_schema(POSTINGS_SCHEMA).names)
    for cols in (spark.table("wtest_doc_meta").columns, reader.doc_meta.columns):
        assert "doc_id" in cols and not postings_cols & set(cols), cols


@pytest.mark.spark
def test_empty_partitions_write_no_files(spark, tiny_corpus_pdf, tmp_path):
    """Tasks without rows write nothing (a scan would pay a task per
    file); a merged segment whose every doc was purged still gets one
    blk and one term-stats file, and opens."""
    from lucene_solr_spark.indexing.builder import build_index
    from lucene_solr_spark.indexing.deletes import delete_by_keys
    from lucene_solr_spark.indexing.manifest import ManifestStore
    from lucene_solr_spark.indexing.merge import force_merge
    from lucene_solr_spark.queryast import TermQuery
    from lucene_solr_spark.search.executor import IndexReader, Searcher

    idx = str(tmp_path / "idx")
    three = tiny_corpus_pdf.iloc[:3].copy()
    # the sorted-source path keeps the source's partitions, empty ones too
    out = builder.build_segment(spark, spark.createDataFrame(three).repartition(8),
                                str(tmp_path / "seg"), assume_sorted=True)
    busy = {p["pid"] for p in out["partitions"] if p["docs"]}
    assert len(out["partitions"]) > len(busy)
    for d in (postings_path(str(tmp_path / "seg")), doc_meta_path(str(tmp_path / "seg"))):
        pids = {int(f[5:10]) for f in os.listdir(d)}
        assert pids <= busy | {0}, (d, pids, busy)

    build_index(spark, idx, [("b0", spark.createDataFrame(three))])
    assert delete_by_keys(spark, idx, spark.createDataFrame(three[["repo", "path"]])) == 3
    force_merge(spark, idx, max_segments=1)
    seg = ManifestStore(idx).load().segments[0]
    assert seg.doc_count == 0
    seg_dir = ManifestStore(idx).segment_dir(seg.name)
    for d in (postings_path(seg_dir), os.path.join(seg_dir, "term_stats.parquet")):
        assert [f for f in os.listdir(d) if not f.startswith((".", "_"))]
    res = Searcher(IndexReader(spark, idx)).search(TermQuery(term="import"), k=5)
    assert len(res) == 0
