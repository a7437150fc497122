"""The live-docs bitset kernel (indexing/deletes.py), Spark-free: pack,
OR and popcount of a segment's packed bits, and DeadDocs.probe, each
checked against a set computation on local numpy — including a merged
segment whose span has gaps and interleaves another segment's span."""

from __future__ import annotations

import numpy as np

from lucene_solr_spark.indexing.deletes import DeadDocs, pack, popcount, set_ids


def _rng():
    return np.random.default_rng(7)


def test_pack_round_trips_and_sizes():
    rng = _rng()
    for base, span in ((0, 1), (0, 8), (1000, 13), (5, 1000)):
        ids = np.unique(rng.integers(base, base + span, max(1, span // 3)))
        bits = pack(ids, base, span)
        assert bits.dtype == np.uint8 and len(bits) == (span + 7) // 8
        assert popcount(bits) == len(ids)
        assert np.array_equal(set_ids(bits, base), ids)
    # least significant bit first: doc base + 9 is bit 1 of byte 1
    assert pack(np.array([9]), 0, 16).tolist() == [0, 2]


def test_or_counts_only_new_docs():
    rng = _rng()
    span = 777
    old = np.unique(rng.integers(0, span, 100))
    new = np.unique(rng.integers(0, span, 100))
    merged = pack(old, 0, span) | pack(new, 0, span)
    assert np.array_equal(set_ids(merged, 0), np.union1d(old, new))
    assert popcount(merged) - len(old) == len(np.setdiff1d(new, old))


def test_probe_matches_isin_across_segments():
    rng = _rng()
    segs, dead = [], []
    for base, span in ((0, 500), (500, 37), (900, 1200)):
        ids = np.unique(rng.integers(base, base + span, span // 5))
        segs.append((base, span, pack(ids, base, span)))
        dead.append(ids)
    dead = np.concatenate(dead)
    probe = np.arange(-10, 2200, dtype=np.int64)
    dd = DeadDocs(segs)
    assert np.array_equal(dd.probe(probe), np.isin(probe, dead))
    assert np.array_equal(dd.ids(), np.sort(dead))


def test_probe_merged_segment_with_gapped_span():
    """A merge of segments A [0,100) and C [200,300) around B [100,200)
    keeps global ids: the merged span [0,300) has a gap where B's ids
    live. Each segment's deletes stay its own under the probe."""
    merged_ids = np.concatenate([np.arange(0, 100), np.arange(200, 300)])
    merged_dead = merged_ids[::7]
    b_dead = np.array([100, 150, 199])
    dd = DeadDocs([(0, 300, pack(merged_dead, 0, 300)),
                   (100, 100, pack(b_dead - 100, 0, 100))])
    probe = np.arange(0, 320, dtype=np.int64)
    assert np.array_equal(dd.probe(probe), np.isin(probe, np.union1d(merged_dead, b_dead)))
    # the gap's bits are clear in the merged bitset: popcount == deletes
    assert popcount(pack(merged_dead, 0, 300)) == len(merged_dead)
