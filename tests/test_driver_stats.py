"""Driver-side term statistics: IndexReader._term_stats_rows reads the
segments' term dictionaries with pyarrow on the driver. Its rows must
equal a Spark groupBy over reader.stats (the relational definition of
the same statistics) on every reader shape: several segments with
tombstones, a MultiReader, and a multi-field index; and the read runs
no Spark job."""

from __future__ import annotations

import shutil

import pytest

pytestmark = pytest.mark.spark

TERMS = ("class", "def", "import", "ident007", "ident042", "return",
         "no_such_term")


def _spark_rows(reader, terms):
    """The statistics as one Spark aggregate over reader.stats."""
    from pyspark.sql import functions as F

    return reader.stats.where(F.col("term").isin(list(terms))).groupBy("term").agg(
        F.sum("df").alias("df"), F.sum("ttf").alias("ttf"),
        F.collect_list(F.struct("gimp_norm", "gimp_tf")).alias("gimps"),
        F.collect_list(F.struct("gnblocks", "gq_tf", "gq_dl")).alias("gqs"),
    ).collect()


def _canon(rows):
    """Rows as plain values, per-segment lists in a fixed order (Spark's
    collect_list order follows its partitions)."""
    def seg(x):
        return tuple(tuple(v) if isinstance(v, list) else v for v in x)

    return sorted(
        (r["term"], int(r["df"]), int(r["ttf"]),
         sorted(map(seg, r["gimps"]), key=repr), sorted(map(seg, r["gqs"]), key=repr))
        for r in rows)


def _assert_same(spark_jobs, reader, terms=TERMS):
    got, jobs = spark_jobs(lambda: reader._term_stats_rows(tuple(sorted(terms))))
    assert jobs == 0
    assert got, "no term found: fixture drift"
    assert _canon(got) == _canon(_spark_rows(reader, terms))
    assert [r["term"] for r in got] == sorted(r["term"] for r in got)


@pytest.fixture(scope="module")
def two_segment_index(spark, tiny_index, tiny_corpus_pdf, tmp_path_factory):
    """tiny_index plus an appended second segment, then tombstones."""
    from lucene_solr_spark.indexing.builder import build_index
    from lucene_solr_spark.indexing.deletes import delete_by_terms

    idx = str(tmp_path_factory.mktemp("twoseg") / "idx")
    shutil.copytree(tiny_index, idx)
    extra = tiny_corpus_pdf.iloc[:60].copy()
    extra["path"] = extra["path"] + "_v2"
    build_index(spark, idx, [("b2", spark.createDataFrame(extra))])
    assert delete_by_terms(spark, idx, ["ident007"]) >= 2, "fixture drift"
    return idx


def test_driver_stats_equal_spark_two_segments_with_tombstones(spark, spark_jobs,
                                                              two_segment_index):
    from lucene_solr_spark.search.executor import IndexReader

    r = IndexReader(spark, two_segment_index)
    assert len(r.manifest.segments) == 2 and r.has_deletes
    _assert_same(spark_jobs, r)


def test_driver_stats_equal_spark_multireader(spark, spark_jobs, tiny_corpus_pdf,
                                              tmp_path_factory):
    from lucene_solr_spark.indexing.builder import build_index
    from lucene_solr_spark.search.executor import IndexReader, MultiReader

    base = tmp_path_factory.mktemp("mr_stats")
    h = len(tiny_corpus_pdf) // 2
    build_index(spark, str(base / "s0"),
                [("b", spark.createDataFrame(tiny_corpus_pdf.iloc[:h]))])
    build_index(spark, str(base / "s1"),
                [("b", spark.createDataFrame(tiny_corpus_pdf.iloc[h:]))],
                min_doc_base=100_000)
    multi = MultiReader([IndexReader(spark, str(base / "s0")),
                         IndexReader(spark, str(base / "s1"))])
    _assert_same(spark_jobs, multi)


def test_driver_stats_equal_spark_multifield(spark, spark_jobs, tmp_path_factory):
    from lucene_solr_spark.fields import term_key
    from lucene_solr_spark.indexing.builder import build_index
    from lucene_solr_spark.search.executor import IndexReader
    from tests.test_multifield import FIELDS, _mf_corpus

    idx = str(tmp_path_factory.mktemp("mf_stats") / "idx")
    build_index(spark, idx, [("b0", spark.createDataFrame(_mf_corpus()))],
                fields=FIELDS)
    r = IndexReader(spark, idx)
    keys = [r2["term"] for r2 in r.stats.select("term").limit(12).collect()]
    keys.append(term_key("title", "no_such_term"))
    _assert_same(spark_jobs, r, keys)
    # multi-field segments write no cost sketch: the gate has no inputs
    assert r.term_cost_stats(keys) is None
