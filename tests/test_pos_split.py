"""Split position column (.doc/.pos analog) tests.

The block codec stores positions in a separate `pblob` parquet column
(has_pos=2) so non-positional queries scan doc sections only — the
Lucene .doc/.pos file separation (codecs/lucene90/
Lucene90PostingsFormat.java) restated as parquet column pruning.
These tests cover: split round-trips at the codec level and the
scan-side column pruning claim."""

import numpy as np
import pytest

from lucene_solr_spark.codec import (
    POS_SPLIT,
    decode_block,
    decode_block_positions,
    encode_block,
    split_blocks_batch,
)

RNG = np.random.default_rng(11)


def _random_block(n=300, maxdoc=10_000):
    docs = np.sort(RNG.choice(maxdoc, n, replace=False)).astype(np.int64)
    tfs = RNG.integers(1, 9, n).astype(np.int64)
    nb = RNG.integers(0, 255, n).astype(np.int64)
    pos = np.concatenate(
        [np.sort(RNG.choice(500, t, replace=False)) for t in tfs]
    ).astype(np.int64)
    return docs, tfs, nb, pos


def test_split_round_trip():
    docs, tfs, nb, pos = _random_block()
    blob, pblob = encode_block(docs, tfs, nb, pos)
    assert blob[8] == POS_SPLIT
    d, f, n_, p = decode_block_positions(blob, pblob)
    assert (d == docs).all() and (f == tfs).all() and (n_ == nb).all()
    assert (p == pos).all()
    # the doc-section decode never needs pblob
    d, f, n_ = decode_block(blob)
    assert (d == docs).all() and (f == tfs).all() and (n_ == nb).all()


def test_split_block_forgot_pblob_raises():
    docs, tfs, nb, pos = _random_block(64)
    blob, _ = encode_block(docs, tfs, nb, pos)
    with pytest.raises(ValueError):
        decode_block_positions(blob)


def test_split_blob_is_smaller():
    """The point of the split: the doc section a term/boolean/WAND scan
    reads carries no position bytes — it equals the positions-free
    encoding of the same postings apart from the flag byte."""
    docs, tfs, nb, pos = _random_block()
    blob, pblob = encode_block(docs, tfs, nb, pos)
    bare, no_pos = encode_block(docs, tfs, nb)
    assert no_pos is None and len(pblob) > 0
    assert blob[:8] == bare[:8] and blob[9:] == bare[9:]


def test_batch_split_matches_per_term():
    docs, tfs, nb, pos = _random_block(260)
    term_first = np.array([0, 130])
    term_last = np.array([130, 260])
    res = split_blocks_batch(docs, tfs, nb, term_first, term_last,
                             positions=pos)
    off = np.concatenate([[0], np.cumsum(tfs)])
    i = 0
    for f_, l_ in [(0, 130), (130, 260)]:
        for lo in range(f_, l_, 128):
            hi = min(lo + 128, l_)
            eb, ep = encode_block(docs[lo:hi], tfs[lo:hi], nb[lo:hi],
                                  pos[off[lo]:off[hi]])
            assert res["blob"][i] == eb
            assert res["pblob"][i] == ep
            i += 1
    assert i == len(res["blob"])


def test_split_blocks_batch_rejects_inline_positions():
    docs, tfs, nb, pos = _random_block(10)
    with pytest.raises(ValueError):
        split_blocks_batch(docs, tfs, nb, np.array([0]), np.array([10]),
                           positions=pos, split_pos=False)


def test_scan_prunes_pblob_for_term_query(spark, tiny_index):
    """Plan-shape check on the pruning claim: a term query's physical
    plan must not read the pblob column; the phrase path must."""
    from lucene_solr_spark.queryast import parse_query
    from lucene_solr_spark.search.executor import IndexReader, Searcher

    s = Searcher(IndexReader(spark, tiny_index))
    term_plan = s._eval(parse_query("import"), 1.0)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "pblob" not in term_plan
    phrase_plan = s._eval(parse_query('"public static"'), 1.0)._jdf \
        .queryExecution().executedPlan().toString()
    assert "pblob" in phrase_plan
