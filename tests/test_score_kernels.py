"""The executor's one block decoder (_decoded_blocks) and one BM25 kernel
(_bm25_scores).

The Spark-free tests run the kernels on local numpy/pandas data, as a
pandas UDF body can be run: float32 against the oracle's TermWeight bit
for bit, float64 against the SQL oracles' formula, and the decoder
against the codec's encoder input. The Spark tests score a float64
byte-norm index whose doc lengths pass 23, where a norm byte stops being
the length, against a numpy float64 reference over SmallFloat-decoded
lengths, and check that a reader takes its norm encoding from the
manifest."""

from __future__ import annotations

import math
from collections import Counter

import numpy as np
import pandas as pd
import pytest

from lucene_solr_spark import bm25
from lucene_solr_spark.codec import split_blocks
from lucene_solr_spark.indexing.deletes import DeadDocs, pack
from lucene_solr_spark.queryast import (BooleanClause, BooleanQuery, Occur,
                                        PhraseQuery, SynonymQuery, TermQuery)
from lucene_solr_spark.search.executor import (Searcher, _bm25_scores,
                                               _decoded_blocks)
from lucene_solr_spark.smallfloat import LENGTH_TABLE, int_to_byte4

N, SUM_DL = 500, 61_237


class _Stats:
    """The collection statistics a Searcher's weights read."""

    def __init__(self, norms: str):
        self.norms = norms

    def collection_stats(self, field):
        return N, SUM_DL


def _weight(precision: str, norms: str, df: int, boost: float = 1.0) -> dict:
    idf = math.log(1 + (N - df + 0.5) / (df + 0.5))
    return Searcher(_Stats(norms), precision=precision)._weight(None, boost, idf)


def _postings(seed: int = 3, n: int = 2000):
    rng = np.random.default_rng(seed)
    tfs = rng.integers(1, 40, n).astype(np.int64)
    lengths = rng.integers(1, 5000, n).astype(np.int64)
    return tfs, lengths


@pytest.mark.parametrize("boost", [1.0, 2.5])
def test_float32_byte_norms_match_term_weight(boost):
    tfs, lengths = _postings()
    norms = np.array([int_to_byte4(int(x)) for x in lengths], dtype=np.int64)
    got = _bm25_scores(tfs, norms, _weight("float32", "byte", 37, boost),
                       "float32", "byte")
    tw = bm25.make_term_weight("t", 37, N, SUM_DL, boost)
    want = tw.score(tfs, norms)
    assert got.dtype == np.float64
    assert np.array_equal(got.astype(np.float32).view(np.int32),
                          want.view(np.int32))


def test_float32_exact_norms_follow_norm32_order():
    tfs, lengths = _postings(4)
    w = _weight("float32", "exact", 37)
    got = _bm25_scores(tfs, lengths, w, "float32", "exact")
    f32 = np.float32
    avgdl = f32(SUM_DL / float(N))
    assert w["avgdl"] == float(avgdl)
    # k1 * ((1 - b) + (b * dl) / avgdl), every step in float32
    nv = (bm25.K1 * ((f32(1.0) - bm25.B) + (bm25.B * lengths.astype(f32)) / avgdl)
          ).astype(f32)
    freq = tfs.astype(f32)
    want = ((f32(w["wv"]) * freq) / (freq + nv)).astype(f32)
    assert np.array_equal(got.astype(f32).view(np.int32), want.view(np.int32))


@pytest.mark.parametrize("norms", ["byte", "exact"])
def test_float64_matches_sql_oracle_formula(norms):
    tfs, lengths = _postings(5)
    stored = (np.array([int_to_byte4(int(x)) for x in lengths], dtype=np.int64)
              if norms == "byte" else lengths)
    got = _bm25_scores(tfs, stored, _weight("float64", norms, 37), "float64",
                       norms)
    # entry_queries._SCORED_CTE: ln(1 + (n - df + 0.5) / (df + 0.5))
    #   * (tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl)), where a
    # byte norm's dl is its SmallFloat-decoded length
    dl = (LENGTH_TABLE[stored].astype(np.float64) if norms == "byte"
          else lengths.astype(np.float64))
    idf = math.log(1 + (N - 37 + 0.5) / (37 + 0.5))
    want = idf * (tfs * 2.2) / (tfs + 1.2 * (0.25 + 0.75 * dl / (SUM_DL / N)))
    assert np.array_equal(got, want)
    if norms == "byte":
        assert (dl != stored).any()  # lengths past 23 are quantized


def _encoded_batch():
    """Two terms' blocks as the writers store them, with the encoder's
    input arrays per block."""
    rng = np.random.default_rng(11)
    rows, want = [], []
    for term, n in (("aa", 300), ("bb", 200)):
        docs = np.sort(rng.choice(5000, n, replace=False)).astype(np.int64)
        tfs = rng.integers(1, 6, n).astype(np.int64)
        norms = rng.integers(1, 256, n).astype(np.int64)
        pos = np.concatenate([np.sort(rng.choice(400, f, replace=False))
                              for f in tfs]).astype(np.int64)
        for r in split_blocks(docs, tfs, norms, norms, positions=pos):
            lo = int(np.searchsorted(docs, r["min_doc"]))
            hi = lo + r["n"]
            p0, p1 = int(tfs[:lo].sum()), int(tfs[:hi].sum())
            rows.append({"term": term, "min_doc": r["min_doc"],
                         "blob": r["blob"], "pblob": r["pblob"]})
            want.append((term, docs[lo:hi], tfs[lo:hi], norms[lo:hi],
                         pos[p0:p1]))
    return pd.DataFrame(rows), want


def _per_term(want, live=None):
    """The encoder's arrays of each term, its blocks concatenated in doc
    order; live(docs) masks the postings kept."""
    out = {}
    for term, docs, tfs, norms, pos in want:
        m = np.ones(len(docs), bool) if live is None else live(docs)
        acc = out.setdefault(term, [[], [], [], []])
        for a, v in zip(acc, (docs[m], tfs[m], norms[m], pos[np.repeat(m, tfs)])):
            a.append(v)
    return {t: [np.concatenate(a) for a in acc] for t, acc in out.items()}


def _assert_postings(p, want, positions=True):
    got = list(p.by_term())
    assert [g[0] for g in got] == sorted(want)
    for term, d, f, nb, pos in got:
        w = want[term]
        for a, b in zip((d, f, nb) + ((pos,) if positions else ()), w):
            assert np.array_equal(a, b), term
        if not positions:
            assert pos is None
    # the flat arrays: ti names each posting's term, terms in order
    assert np.array_equal(p.terms[p.ti], np.repeat([g[0] for g in got],
                                                   [len(g[1]) for g in got]))


def test_decoded_blocks_return_the_encoder_arrays():
    """Flat arrays, one run per term in doc order, whatever the row order
    of the batch: shuffled rows (a read across flush runs and files)
    decode to the same arrays as term-sorted ones."""
    pdf, want = _encoded_batch()
    assert [w[0] for w in want] == ["aa"] * 3 + ["bb"] * 2
    per_term = _per_term(want)
    _assert_postings(_decoded_blocks(pdf, positions=True), per_term)
    shuffled = pdf.iloc[[4, 1, 3, 0, 2]].reset_index(drop=True)
    _assert_postings(_decoded_blocks(shuffled, positions=True), per_term)
    _assert_postings(_decoded_blocks(pdf[["term", "blob"]]), per_term, positions=False)


def test_decoded_blocks_skip_blocks_outside_keep_set():
    pdf, want = _encoded_batch()
    keep = {"aa": {int(want[1][1][0])}, "bb": set()}
    got = list(_decoded_blocks(pdf, keep=keep).by_term())
    assert len(got) == 1
    assert got[0][0] == "aa" and np.array_equal(got[0][1], want[1][1])


def test_decoded_blocks_drop_tombstoned_docs():
    pdf, want = _encoded_batch()
    # every doc of the first block, and every other doc of the last one
    dels = np.sort(np.concatenate([want[0][1], want[4][1][::2]]))
    span = int(max(w[1].max() for w in want)) + 1
    p = _decoded_blocks(pdf, positions=True,
                        dels=DeadDocs([(0, span, pack(dels, 0, span))]))
    _assert_postings(p, _per_term(want, lambda d: ~np.isin(d, dels)))
    assert not np.isin(p.doc, dels).any()


# -- float64 scoring on a byte-norm index (Spark) ---------------------------

WORDS = ["alpha", "beta", "gamma", "delta"]


def _corpus(n: int = 60) -> list:
    rng = np.random.default_rng(23)
    docs = []
    for i in range(n):
        toks = list(rng.choice(WORDS, int(rng.integers(1, 6)))) + [
            f"w{int(x)}" for x in rng.integers(0, 40, int(rng.integers(2, 150)))]
        rng.shuffle(toks)
        if i % 3 == 0:
            p = int(rng.integers(0, len(toks)))
            toks[p:p] = ["alpha", "beta"]
        docs.append(toks)
    return docs


@pytest.fixture(scope="module")
def byte_index(spark, tmp_path_factory):
    from lucene_solr_spark.indexing.builder import build_index

    docs = _corpus()
    idx = str(tmp_path_factory.mktemp("f64") / "idx")
    build_index(spark, idx, [("b0", spark.createDataFrame(pd.DataFrame({
        "repo": "r", "path": [f"{i:05d}" for i in range(len(docs))],
        "commit": "c0", "lang": "en", "content": [" ".join(d) for d in docs],
    })))], analyzer="simple", norms="byte")
    return idx, docs


class _Reference:
    """numpy float64 BM25 over the SmallFloat-decoded doc lengths."""

    def __init__(self, docs):
        self.docs = docs
        lens = np.array([len(d) for d in docs])
        self.dl = LENGTH_TABLE[[int_to_byte4(int(x)) for x in lens]].astype(np.float64)
        self.avgdl = lens.sum() / len(docs)
        assert (self.dl != lens).any() and lens.max() > 23

    def idf(self, df: int) -> float:
        return math.log(1 + (len(self.docs) - df + 0.5) / (df + 0.5))

    def score(self, tf: dict, idf: float) -> dict:
        return {d: idf * (f * 2.2) / (f + 1.2 * (0.25 + 0.75 * self.dl[d] / self.avgdl))
                for d, f in tf.items()}

    def tf(self, term: str) -> dict:
        return {i: c[term] for i, c in enumerate(map(Counter, self.docs)) if c[term]}

    def term(self, term: str) -> dict:
        tf = self.tf(term)
        return self.score(tf, self.idf(len(tf)))


def _all_scores(searcher, q) -> dict:
    top = searcher.search(q, k=1000)
    return dict(zip(top["doc_id"].astype(int), top["score"]))


def _assert_scores(got: dict, want: dict):
    assert want and sorted(got) == sorted(want)
    for d in want:
        assert got[d] == pytest.approx(want[d], rel=1e-12, abs=0), d


def test_float64_byte_norm_scores_use_decoded_lengths(spark, byte_index):
    from lucene_solr_spark.search.executor import IndexReader

    idx, docs = byte_index
    ref = _Reference(docs)
    s = Searcher(IndexReader(spark, idx), precision="float64")
    assert s.reader.norms == "byte"

    _assert_scores(_all_scores(s, TermQuery(term="alpha")), ref.term("alpha"))

    a, b = ref.term("alpha"), ref.term("beta")
    conj = BooleanQuery(clauses=(BooleanClause(Occur.MUST, TermQuery(term="alpha")),
                                 BooleanClause(Occur.MUST, TermQuery(term="beta"))))
    _assert_scores(_all_scores(s, conj), {d: a[d] + b[d] for d in a if d in b})

    phrase_tf = {}
    for i, d in enumerate(docs):
        n = sum(1 for x, y in zip(d, d[1:]) if (x, y) == ("alpha", "beta"))
        if n:
            phrase_tf[i] = n
    idf_sum = sum(ref.idf(len(ref.tf(t))) for t in ("alpha", "beta"))
    _assert_scores(_all_scores(s, PhraseQuery(terms=("alpha", "beta"))),
                   ref.score(phrase_tf, idf_sum))

    ta, tg = ref.tf("alpha"), ref.tf("gamma")
    syn_tf = {d: ta.get(d, 0) + tg.get(d, 0) for d in set(ta) | set(tg)}
    _assert_scores(_all_scores(s, SynonymQuery(terms=("alpha", "gamma"))),
                   ref.score(syn_tf, ref.idf(max(len(ta), len(tg)))))


@pytest.mark.parametrize("words", [("alpha",), ("alpha", "gamma", "w7")])
def test_float64_byte_norm_pruned_equals_exhaustive(spark, byte_index, words):
    from lucene_solr_spark.search.executor import IndexReader

    s = Searcher(IndexReader(spark, byte_index[0]), precision="float64")
    q = (TermQuery(term=words[0]) if len(words) == 1 else BooleanQuery(
        clauses=tuple(BooleanClause(Occur.SHOULD, TermQuery(term=w)) for w in words)))
    exhaustive = s.search(q, k=10)
    pruned = s.search(q, k=10, prune=True)
    assert s.last_plan["reason"] == "block-max"  # the keep-set was planned
    assert list(pruned["doc_id"]) == list(exhaustive["doc_id"])
    assert np.array_equal(pruned["score"].to_numpy(), exhaustive["score"].to_numpy())


# -- norms come from the manifest -------------------------------------------

def test_reader_takes_norms_from_manifest(spark, tmp_path):
    from lucene_solr_spark.indexing import deletes
    from lucene_solr_spark.indexing.builder import build_index
    from lucene_solr_spark.indexing.manifest import ManifestStore
    from lucene_solr_spark.search.executor import IndexReader

    rows = pd.DataFrame({"repo": "r", "path": ["a", "b"], "commit": "c",
                         "lang": "en", "content": ["x y z", "x " * 40]})
    idx = str(tmp_path / "exact")
    build_index(spark, idx, [("b0", spark.createDataFrame(rows))],
                analyzer="simple", norms="exact")
    assert IndexReader(spark, idx).norms == "exact"
    with pytest.raises(TypeError):
        IndexReader(spark, idx, norms="byte")
    # float32 scores the exact lengths 3 and 40, not a norm byte's
    top = Searcher(IndexReader(spark, idx)).search(TermQuery(term="x"), k=2)
    f32 = np.float32
    tf, dl = np.array([1, 40], dtype=f32), np.array([3, 40], dtype=f32)
    wv = f32(f32(f32(math.log(1 + 0.5 / 2.5)) * f32(1.0)) * (bm25.K1 + f32(1.0)))
    nv = bm25.K1 * ((f32(1.0) - bm25.B) + (bm25.B * dl) / f32(43 / 2.0))
    want = ((wv * tf) / (tf + nv)).astype(f32)
    got = top.sort_values("doc_id")["score"].to_numpy()
    assert list(top.sort_values("doc_id")["doc_id"]) == [0, 1]
    assert np.array_equal(got.view(np.int32), want.view(np.int32))

    with pytest.raises(ValueError, match="norms"):
        build_index(spark, idx, [("b1", spark.createDataFrame(rows))],
                    analyzer="simple", norms="byte")
    m = ManifestStore(idx).load()
    assert [s.name for s in m.segments] == ["seg_b0"] and m.norms == "exact"
    # an upsert appends in the index's encoding
    deletes.update_documents(spark, idx, spark.createDataFrame(rows.iloc[1:]),
                             analyzer="simple")
    r = IndexReader(spark, idx)
    assert len(r.manifest.segments) == 2 and r.norms == "exact"
    assert Searcher(r).count(TermQuery(term="x")) == 2
