"""Property-based tests (hypothesis) — the RandomIndexWriter /
BasePostingsFormatTestCase analog (SURVEY §5.1): random data through
every codec path, plus randomized-corpus WAND shadow checks.
"""

from __future__ import annotations

import numpy as np
import pytest
from hypothesis import given, settings, strategies as st

from lucene_solr_spark.codec import (
    decode_block,
    decode_block_positions,
    decode_posting_list,
    encode_block,
    encode_posting_list,
    for_decode,
    for_encode,
    split_blocks,
    vbyte_decode,
    vbyte_encode,
)
from lucene_solr_spark.smallfloat import byte4_to_int, int_to_byte4, int_to_byte4_np


@given(st.lists(st.integers(min_value=0, max_value=2**32 - 1), max_size=400))
@settings(max_examples=200, deadline=None)
def test_for_roundtrip(vals):
    arr = np.array(vals, dtype=np.uint64)
    out, used = for_decode(for_encode(arr))
    assert list(out) == vals
    assert used == len(for_encode(arr))


@given(st.lists(st.integers(min_value=0, max_value=2**63 - 1), min_size=1, max_size=100))
@settings(max_examples=200, deadline=None)
def test_vbyte_roundtrip(vals):
    arr = np.array(vals, dtype=np.uint64)
    out, _ = vbyte_decode(vbyte_encode(arr), len(vals))
    assert list(out) == vals


@given(
    st.lists(st.integers(min_value=0, max_value=10**12), min_size=1, max_size=300, unique=True),
    st.data(),
)
@settings(max_examples=100, deadline=None)
def test_posting_list_roundtrip(doc_ids, data):
    doc_ids = sorted(doc_ids)
    tfs = [data.draw(st.integers(min_value=1, max_value=1000)) for _ in doc_ids]
    d, f = decode_posting_list(
        encode_posting_list(np.array(doc_ids, dtype=np.int64), np.array(tfs, dtype=np.int64))
    )
    assert list(d) == doc_ids
    assert list(f) == tfs


@given(
    st.lists(st.integers(min_value=0, max_value=10**9), min_size=1, max_size=200, unique=True),
    st.data(),
)
@settings(max_examples=60, deadline=None)
def test_block_roundtrip_with_positions(doc_ids, data):
    doc_ids = np.array(sorted(doc_ids), dtype=np.int64)
    tfs = np.array(
        [data.draw(st.integers(min_value=1, max_value=8)) for _ in doc_ids], dtype=np.int64
    )
    norms = np.array(
        [data.draw(st.integers(min_value=0, max_value=255)) for _ in doc_ids], dtype=np.int64
    )
    # per-posting sorted positions
    pos_parts = []
    for tf in tfs:
        p = sorted(
            data.draw(
                st.lists(st.integers(min_value=0, max_value=10**6), min_size=int(tf),
                         max_size=int(tf), unique=True)
            )
        )
        pos_parts.append(np.array(p, dtype=np.int64))
    positions = np.concatenate(pos_parts)

    blob, pblob = encode_block(doc_ids, tfs, norms, positions)
    d, f, nb = decode_block(blob)
    assert list(d) == list(doc_ids) and list(f) == list(tfs) and list(nb) == list(norms)
    d2, f2, nb2, p2 = decode_block_positions(blob, pblob)
    assert list(p2) == list(positions)


@given(
    st.lists(st.integers(min_value=0, max_value=10**9), min_size=1, max_size=600, unique=True),
)
@settings(max_examples=40, deadline=None)
def test_split_blocks_metadata(doc_ids):
    doc_ids = np.array(sorted(doc_ids), dtype=np.int64)
    tfs = np.minimum((doc_ids % 7) + 1, 1000).astype(np.int64)
    norms = (doc_ids % 256).astype(np.int64)
    blocks = split_blocks(doc_ids, tfs, norms, norms)
    # coverage + metadata invariants (CheckIndex analog)
    total = 0
    prev_max = -1
    for b in blocks:
        d, f, nb = decode_block(b["blob"])
        assert b["n"] == len(d) <= 128
        assert b["min_doc"] == d[0] and b["max_doc"] == d[-1]
        assert b["max_tf"] == int(f.max()) and b["sum_tf"] == int(f.sum())
        assert b["min_doc"] > prev_max
        prev_max = b["max_doc"]
        total += len(d)
    assert total == len(doc_ids)


@given(st.integers(min_value=0, max_value=2**31 - 1))
@settings(max_examples=300, deadline=None)
def test_smallfloat_monotone_and_idempotent(n):
    b = int_to_byte4(n)
    assert 0 <= b <= 255
    rep = byte4_to_int(b)
    # idempotence: the representative encodes to the same byte
    assert int_to_byte4(rep) == b
    # monotonicity near n
    assert int_to_byte4(n + 1) >= b
    assert int(int_to_byte4_np(np.array([n]))[0]) == b


@pytest.mark.parametrize("seed", [7, 77, 777])
def test_random_corpus_wand_shadow(spark, tmp_path_factory, seed):
    """RandomIndexWriter analog: a random corpus (random doc lengths,
    Zipf-ish vocab, random batch splits) -> WAND == exhaustive for
    random term/OR queries."""
    import random

    import pandas as pd

    from lucene_solr_spark.indexing.builder import build_index
    from lucene_solr_spark.queryast import BooleanClause, BooleanQuery, Occur, TermQuery
    from lucene_solr_spark.search.executor import IndexReader, Searcher

    rng = random.Random(seed)
    vocab = [f"w{i}" for i in range(50)]
    docs = []
    for i in range(800):
        n = rng.randint(1, 120)
        words = rng.choices(vocab, weights=[1.0 / (r + 1) for r in range(len(vocab))], k=n)
        docs.append(
            {
                "repo": f"r{i % 7}",
                "path": f"p{i:05d}",
                "commit": "c" * 8,
                "lang": "py",
                "content": " ".join(words),
            }
        )
    pdf = pd.DataFrame(docs).sort_values(["repo", "path"]).reset_index(drop=True)
    cut = rng.randint(100, 700)
    idx = str(tmp_path_factory.mktemp("rand") / f"idx{seed}")
    build_index(
        spark, idx,
        [("a", spark.createDataFrame(pdf.iloc[:cut])),
         ("b", spark.createDataFrame(pdf.iloc[cut:]))],
    )
    s = Searcher(IndexReader(spark, idx))
    for _ in range(4):
        terms = rng.sample(vocab, rng.randint(1, 3))
        if len(terms) == 1:
            q = TermQuery(term=terms[0])
        else:
            q = BooleanQuery(clauses=tuple(
                BooleanClause(Occur.SHOULD, TermQuery(term=t)) for t in terms
            ))
        k = rng.choice([3, 10, 50])
        a = s.search(q, k=k)
        b = s.search(q, k=k, prune=True)
        assert list(a["doc_id"]) == list(b["doc_id"]), (seed, terms, k)
        assert list(a["score"]) == list(b["score"]), (seed, terms, k)
