"""Compression property tests (FIXTURES.md §5): decode(encode(x)) == x
for FOR-128 + VByte tail, incl. freq==1 low-bit folding and the df==1
singleton pulse (Lucene50PostingsWriter.java:322-351 semantics)."""

import numpy as np
import pytest

from lucene_solr_spark.codec import (
    BLOCK_SIZE,
    decode_block,
    decode_posting_list,
    encode_block,
    encode_posting_list,
    for_decode,
    for_encode,
    split_blocks,
    vbyte_decode,
    vbyte_encode,
)

RNG = np.random.default_rng(42)


@pytest.mark.parametrize("n", [1, 5, 127, 128, 129, 1000, 100_000])
@pytest.mark.parametrize("gaps", ["dense", "uniform", "heavy"])
def test_posting_list_round_trip(n, gaps):
    if gaps == "dense":
        deltas = np.ones(n, dtype=np.int64)
    elif gaps == "uniform":
        deltas = RNG.integers(1, 1000, n)
    else:
        deltas = np.where(RNG.random(n) < 0.9, 1, RNG.integers(1, 10**6, n))
    doc_ids = np.cumsum(deltas)
    tfs = np.where(RNG.random(n) < 0.6, 1, RNG.integers(1, 500, n)).astype(np.int64)
    blob = encode_posting_list(doc_ids, tfs)
    d2, f2 = decode_posting_list(blob)
    assert (d2 == doc_ids).all()
    assert (f2 == tfs).all()


def test_singleton_pulse_is_tiny():
    blob = encode_posting_list(np.array([123456789]), np.array([7]))
    assert len(blob) <= 24
    d, f = decode_posting_list(blob)
    assert list(d) == [123456789] and list(f) == [7]


def test_for_round_trip_widths():
    for width_max in [1, 2, 255, 2**16, 2**31]:
        v = RNG.integers(0, width_max, 128).astype(np.uint64)
        dec, used = for_decode(for_encode(v))
        assert (dec == v).all()


def test_for_compression_ratio_dense():
    # deltas of 1 need 1 bit/value: 128 values ~ 16 bytes + header
    blob = for_encode(np.ones(128, dtype=np.uint64))
    assert len(blob) <= 16 + 5


def test_vbyte_round_trip():
    v = np.array([0, 1, 127, 128, 300, 2**20, 2**40], dtype=np.uint64)
    blob = vbyte_encode(v)
    dec, used = vbyte_decode(blob, len(v))
    assert (dec == v).all()
    assert used == len(blob)


def test_block_round_trip_with_norms():
    n = 200
    doc_ids = np.cumsum(RNG.integers(1, 50, n))
    tfs = RNG.integers(1, 20, n)
    norms = RNG.integers(0, 256, n)
    blob, pblob = encode_block(doc_ids, tfs, norms)
    assert pblob is None
    d, f, nb = decode_block(blob)
    assert (d == doc_ids).all() and (f == tfs).all() and (nb == norms).all()


def test_split_blocks_metadata():
    n = 300
    doc_ids = np.cumsum(RNG.integers(1, 10, n))
    tfs = RNG.integers(1, 9, n)
    norms = RNG.integers(0, 256, n)
    lengths = norms.copy()  # monotone proxy: min length -> min_norm entry
    blocks = split_blocks(doc_ids, tfs, norms, lengths)
    assert [b["block_ord"] for b in blocks] == [0, 1, 2]
    assert [b["n"] for b in blocks] == [128, 128, 44]
    total_d, total_f = [], []
    for b in blocks:
        d, f, nb = decode_block(b["blob"])
        assert b["min_doc"] == d[0] and b["max_doc"] == d[-1]
        assert b["max_tf"] == f.max()
        total_d.extend(d)
        total_f.extend(f)
    assert (np.array(total_d) == doc_ids).all()
    assert (np.array(total_f) == tfs).all()


# ---------------------------------------------------------------------------
# Batch block encoder: bit-identical to the per-term split_blocks path
# ---------------------------------------------------------------------------

def test_for_encode_batch_matches_scalar():
    import numpy as np
    from lucene_solr_spark.codec import for_encode, for_encode_batch

    rng = np.random.default_rng(42)
    for _ in range(20):
        counts = rng.integers(0, 200, int(rng.integers(1, 50)))
        vals = rng.integers(
            0, 1 << int(rng.integers(1, 63)), int(counts.sum())
        ).astype(np.uint64)
        batch = for_encode_batch(vals, counts)
        off = 0
        for j, c in enumerate(counts):
            assert batch[j] == for_encode(vals[off:off + c])
            off += c


def test_for_encode_batch_edge_widths():
    import numpy as np
    from lucene_solr_spark.codec import for_encode, for_encode_batch

    # zeros (width 1), exact powers of two (log2 rounding traps), max u32
    cases = [
        np.zeros(5, dtype=np.uint64),
        np.array([1, 2, 4, 8, 16, 1 << 31, (1 << 32) - 1], dtype=np.uint64),
        np.array([(1 << k) for k in range(0, 40)], dtype=np.uint64),
        np.array([(1 << k) - 1 for k in range(1, 40)], dtype=np.uint64),
    ]
    vals = np.concatenate(cases)
    counts = np.array([len(c) for c in cases])
    batch = for_encode_batch(vals, counts)
    off = 0
    for j, c in enumerate(counts):
        assert batch[j] == for_encode(vals[off:off + c])
        off += c


def test_split_blocks_batch_bit_identical():
    import numpy as np
    from lucene_solr_spark.codec import split_blocks, split_blocks_batch

    rng = np.random.default_rng(7)
    for trial in range(8):
        nterms = int(rng.integers(1, 30))
        sizes = rng.integers(1, 400, nterms)
        rd, rt, rn, pl = [], [], [], []
        for ts in sizes:
            rd.append(np.sort(rng.choice(100000, ts, replace=False)).astype(np.int64))
            rt.append(rng.integers(1, 6, ts).astype(np.int64))
            rn.append(rng.integers(0, 256, ts).astype(np.int64))
            for tf in rt[-1]:
                pl.append(np.sort(rng.choice(5000, tf, replace=False)).astype(np.int64))
        run_doc, run_tf, run_nb = map(np.concatenate, (rd, rt, rn))
        P = np.concatenate(pl)
        term_last = np.cumsum(sizes)
        term_first = np.concatenate(([0], term_last[:-1]))
        pos_off = np.concatenate(([0], np.cumsum(run_tf)))
        for with_pos in (False, True):
            res = split_blocks_batch(run_doc, run_tf, run_nb, term_first,
                                     term_last,
                                     positions=P if with_pos else None)
            k = 0
            for t in range(nterms):
                s, e = term_first[t], term_last[t]
                p = P[pos_off[s]:pos_off[e]] if with_pos else None
                for blk in split_blocks(run_doc[s:e], run_tf[s:e],
                                        run_nb[s:e], run_nb[s:e], p):
                    assert res["term_idx"][k] == t
                    for key in ("block_ord", "n", "min_doc", "max_doc",
                                "max_tf", "sum_tf", "min_norm"):
                        assert res[key][k] == blk[key], key
                    assert bytes(res["blob"][k]) == blk["blob"]
                    assert res["pblob"][k] == blk["pblob"]
                    k += 1
            assert k == len(res["n"])


def test_repack_mega_term_bounded_midterm_flush(monkeypatch):
    """A single term larger than the repack buffer must flush full
    blocks mid-term (bounded memory) and decode back to the exact
    posting list — tail block only at true term end."""
    import numpy as np
    import pandas as pd
    import pyarrow as pa

    from lucene_solr_spark.codec import BLOCK_SIZE, decode_block
    from lucene_solr_spark.indexing import merge as m

    monkeypatch.setattr(m, "REPACK_FLUSH_ROWS", 1000)
    n = 3210  # > 3 flush rounds, non-multiple of BLOCK_SIZE
    docs = np.arange(1, n + 1, dtype=np.int64) * 3
    batches = [
        pa.Table.from_pandas(pd.DataFrame({
            "term": np.array(["mega"] * len(chunk), dtype=object),
            "doc_id": chunk,
            "tf": np.ones(len(chunk), dtype=np.int64),
            "norm": np.full(len(chunk), 7, dtype=np.int64),
        }))
        for chunk in np.array_split(docs, 9)
    ]
    blocks = pd.concat(
        list(m._repack_aggregated(iter(batches), with_positions=False)),
        ignore_index=True)
    assert (blocks["term"] == "mega").all()
    # every block but the last is full; exactly one tail block
    assert (blocks["n"].to_numpy()[:-1] == BLOCK_SIZE).all()
    assert blocks["n"].sum() == n
    # blocks cover the postings in order, bit-exact on decode
    out_docs = []
    for _, row in blocks.sort_values("min_doc").iterrows():
        d, f, nb = decode_block(bytes(row["blob"]))
        out_docs.extend(d.tolist())
    assert out_docs == docs.tolist()
