"""The term reader: a term lookup is a terms-index seek
(manifest.Footer, manifest._read_term_rows).

The Spark-free tests write part files with the invert task body
(builder._make_invert_fn, run on local pandas data as partition 0) in
small row groups, and check every read against a full pq.read_table +
filter: terms, min_docs and span, on files of several row groups and
several flush runs, a term straddling a row-group boundary, a
multi-field prefixed term, an empty result and an empty keep_empty file;
a spy on read_row_groups shows which row groups a read opens. The Spark
tests check that a slice task scores from the Weight's pickled footers
and that Spark reads the delta-encoded min_doc/max_doc."""

from __future__ import annotations

import os
import pickle

import numpy as np
import pandas as pd
import pyarrow.parquet as pq
import pytest

from lucene_solr_spark.fields import FIELD_SEP, FieldSpec
from lucene_solr_spark.indexing import builder, manifest
from lucene_solr_spark.indexing.manifest import (Footer, _read_term_rows, postings_path,
                                                 read_footer)

ROWS = 32
COLS = ["term", "n", "min_doc", "max_doc", "sum_tf"]


def _batch(n: int = 1500) -> pd.DataFrame:
    rng = np.random.default_rng(3)
    words = [f"w{i:03d}" for i in range(400)]
    p = 1.0 / np.arange(1, len(words) + 1)
    texts = [" ".join(["common"] + list(rng.choice(words, int(rng.integers(3, 40)),
                                                   p=p / p.sum())))
             for _ in range(n)]
    return pd.DataFrame({"doc_id": np.arange(n), "repo": "r", "path": [f"p{i:05d}"
                         for i in range(n)], "commit": "c", "lang": "py",
                         "content": texts, "title": [t[:20] for t in texts]})


def _write(seg: str, flush_tokens: int = builder.FLUSH_TOKENS, field_specs=None) -> str:
    fn = builder._make_invert_fn(seg, "standard", "byte", True, flush_tokens=flush_tokens,
                                 field_specs=field_specs)
    b = _batch()
    list(fn(iter([b.iloc[:700], b.iloc[700:]])))
    (f,) = os.listdir(postings_path(seg))
    return os.path.join(postings_path(seg), f)


@pytest.fixture(scope="module")
def files(tmp_path_factory):
    """blk files in ROWS-row groups: one flush run, several flush runs
    (overlapping row-group term ranges), and a two-field build."""
    mp = pytest.MonkeyPatch()
    mp.setattr(builder, "ROW_GROUP_ROWS", ROWS)
    root = tmp_path_factory.mktemp("term_reader")
    try:
        return {"one_run": _write(str(root / "a")),
                "runs": _write(str(root / "b"), flush_tokens=3000),
                "fields": _write(str(root / "c"), field_specs=[
                    FieldSpec("body", "content"), FieldSpec("title", "title")])}
    finally:
        mp.undo()


def _want(path, cols, terms, min_docs=None, span=None) -> pd.DataFrame:
    full = pq.read_table(path).to_pandas()
    m = full["term"].isin(list(terms))
    if min_docs is not None:
        m &= full["min_doc"].isin(list(min_docs))
    if span is not None:
        m &= (full["max_doc"] >= span[0]) & (full["min_doc"] < span[1])
    return full.loc[m, cols].reset_index(drop=True)


def _terms_of(path):
    t = pq.read_table(path, columns=["term"])["term"].to_pylist()
    return pd.Series(t).value_counts()


def _groups_holding(path, term):
    """The row groups that hold a row of term."""
    f = pq.ParquetFile(path)
    return [i for i in range(f.num_row_groups)
            if term in set(f.read_row_group(i, columns=["term"])["term"].to_pylist())]


@pytest.mark.parametrize("name", ["one_run", "runs", "fields"])
def test_reads_equal_a_full_read_and_filter(files, name):
    path = files[name]
    md = pq.read_metadata(path)
    assert md.num_row_groups > 10
    counts = _terms_of(path)
    head, tail = counts.index[0], counts.index[-1]
    straddling = next(t for t in counts.index if len(_groups_holding(path, t)) >= 2)
    full = pq.read_table(path).to_pandas()
    rows = full[full["term"] == head]
    mins = set(rows["min_doc"].iloc[::3].tolist())
    span = (int(rows["min_doc"].iloc[1]) + 1, int(rows["max_doc"].iloc[-2]))
    cases = [([head], None, None), ([tail], None, None), ([straddling], None, None),
             ([head, tail, straddling], None, None), (["no_such_term"], None, None),
             ([head, tail], mins, None), ([head, straddling], None, span),
             ([head], mins, span), ([], None, None)]
    for src in ([path], [read_footer(path)]):
        for terms, min_docs, sp in cases:
            got = _read_term_rows(src, COLS, terms, min_docs, sp).to_pandas()
            want = _want(path, COLS, terms, min_docs, sp)
            pd.testing.assert_frame_equal(got, want, check_dtype=True)


def test_runs_overlap_and_every_overlapping_group_is_read(files):
    """Several flush runs write overlapping row-group ranges: a term's
    rows sit in more than one run, and the read finds them all."""
    f = read_footer(files["runs"])
    lo, hi = f.lo, f.hi
    assert any(hi[i] > lo[i + 1] for i in range(len(lo) - 1)), "one run only"
    counts = _terms_of(files["runs"])
    for term in counts.index[:5]:
        got = _read_term_rows([f], COLS, [term]).to_pandas()
        assert len(got) == counts[term]


def test_multi_field_prefixed_term(files):
    path = files["fields"]
    counts = _terms_of(path)
    title = next(t for t in counts.index if t.startswith("title" + FIELD_SEP))
    body = "body" + FIELD_SEP + "common"
    got = _read_term_rows([path], COLS, [title, body]).to_pandas()
    pd.testing.assert_frame_equal(got, _want(path, COLS, [title, body]))
    assert set(got["term"]) == {title, body}
    assert _read_term_rows([path], COLS, ["common"]).num_rows == 0


def test_empty_keep_empty_file_is_read(tmp_path, files):
    """A keep_empty file has one row group and no term statistics: the
    read opens it, finds nothing, and keeps the schema."""
    seg = str(tmp_path / "empty")
    builder.SegmentPartWriter(seg, 0, keep_empty=True).close()
    path = os.path.join(postings_path(seg), "part-00000.parquet")
    f = read_footer(path)
    assert f.lo == (None,) * len(f.lo) and f.groups(["x"]) == list(range(len(f.lo)))
    got = _read_term_rows([f, files["one_run"]], COLS, ["common"])
    assert got.num_rows == _terms_of(files["one_run"])["common"]
    empty = _read_term_rows([f], COLS, ["common"])
    assert empty.num_rows == 0 and empty.schema.names == COLS


def test_tail_read_opens_only_the_groups_holding_its_range(monkeypatch, files):
    path = files["one_run"]
    f = read_footer(path)
    tail = _terms_of(path).index[-1]
    opened = []
    read = pq.ParquetFile.read_row_groups

    def spy(self, row_groups, *args, **kw):
        opened.append(list(row_groups))
        return read(self, row_groups, *args, **kw)

    monkeypatch.setattr(pq.ParquetFile, "read_row_groups", spy)
    assert _read_term_rows([f], COLS, [tail]).num_rows >= 1
    (groups,) = opened
    assert groups == [i for i in range(len(f.lo)) if f.lo[i] <= tail <= f.hi[i]]
    assert set(_groups_holding(path, tail)) <= set(groups) and len(groups) <= 2
    opened.clear()
    assert _read_term_rows([f], COLS, ["~past_every_term"]).num_rows == 0
    assert opened == []


def test_reads_no_dataset_and_parses_no_footer_from_a_footer(monkeypatch, files):
    import pyarrow.dataset as ds

    f = read_footer(files["one_run"])

    def refuse(*a, **kw):
        raise AssertionError("parsed a footer or built a dataset")

    monkeypatch.setattr(ds, "dataset", refuse)
    monkeypatch.setattr(pq, "read_metadata", refuse)
    monkeypatch.setattr(manifest, "read_footer", refuse)
    assert _read_term_rows([f], COLS, ["common"]).num_rows > 0


# -- Spark ---------------------------------------------------------------


@pytest.mark.spark
def test_slice_task_scores_from_pickled_footers(monkeypatch, spark, tiny_index):
    """The Weight carries its blk files' footers: unpickled (as a slice
    task gets it), it scores every range with no footer parse, the same
    doc ids and score bits as on the driver."""
    from lucene_solr_spark.queryast import parse_query
    from lucene_solr_spark.search.executor import IndexReader, Searcher, score_range

    s = Searcher(IndexReader(spark, tiny_index))
    w = s._weighed(parse_query('import OR "public static" OR return'))
    assert w.files and all(isinstance(f, Footer) for f in w.files)
    want = score_range(w)
    shipped = pickle.loads(pickle.dumps(w))

    def refuse(*a, **kw):
        raise AssertionError("a slice task parsed a footer")

    monkeypatch.setattr(pq, "read_metadata", refuse)
    monkeypatch.setattr(manifest, "read_footer", refuse)
    got = score_range(shipped)
    assert len(want[0]) > 0
    assert np.array_equal(got[0], want[0])
    assert got[1].tobytes() == want[1].tobytes()
    lo, hi = s.reader.doc_range
    mid = (lo + hi) // 2
    halves = [score_range(shipped, (lo, mid)), score_range(shipped, (mid, hi))]
    assert np.array_equal(np.sort(np.concatenate([h[0] for h in halves])), np.sort(want[0]))


@pytest.mark.spark
def test_spark_reads_delta_encoded_doc_bounds(spark, tiny_index):
    """min_doc/max_doc are written DELTA_BINARY_PACKED without a
    dictionary and with no statistics; Spark reads them, and postings()
    decodes the blocks."""
    from pyspark.sql import functions as F

    from lucene_solr_spark.search.executor import IndexReader

    r = IndexReader(spark, tiny_index)
    md = r._block_footers[0].meta
    names = [md.schema.column(i).path for i in range(md.num_columns)]
    for c in ("min_doc", "max_doc"):
        col = md.row_group(0).column(names.index(c))
        assert "DELTA_BINARY_PACKED" in col.encodings, col.encodings
        assert not col.has_dictionary_page and col.statistics is None
    assert md.row_group(0).column(names.index("term")).statistics.has_min_max
    got = (r.blocks.select("term", "min_doc", "max_doc").toPandas()
           .sort_values(["term", "min_doc"], ignore_index=True))
    want = (pd.concat([pq.read_table(f.path, columns=["term", "min_doc", "max_doc"])
                       .to_pandas() for f in r._block_footers])
            .sort_values(["term", "min_doc"], ignore_index=True))
    pd.testing.assert_frame_equal(got, want, check_dtype=False)
    post = r.postings(F.col("term") == "import").toPandas()
    rows = want[want["term"] == "import"]
    assert len(post) > 0 and post["doc_id"].min() == rows["min_doc"].min()
    assert post["doc_id"].max() == rows["max_doc"].max()
