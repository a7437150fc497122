"""Posting-list compression: FOR bit-packing + VByte, numpy-vectorized.

Mirrors the reference's layout decisions (semantics, not bytes):
  - full blocks of 128 values bit-packed with a per-block width
    (Lucene50PostingsFormat.java:397 BLOCK_SIZE=128; ForUtil.java:40-130),
  - tail (< 128 entries) VInt-encoded with freq==1 folded into the doc
    delta's low bit: (delta<<1)|1 vs delta<<1, freq
    (Lucene50PostingsWriter.java:322-351),
  - df==1 terms pulsed: the single (docID, tf) lives in the term-level
    metadata, no blob (singletonDocID, Lucene50PostingsWriter.java:333),
  - per-block (max_doc, max_tf, min_norm) metadata — the Spark analog of
    skip lists: queries prune whole blocks by metadata instead of
    pointer-chasing (SURVEY §4), and block-max WAND needs max_tf.

Everything encodes/decodes whole numpy arrays per call — these run
inside Arrow UDFs on 1000s of postings per batch, no per-row Python.
"""

from __future__ import annotations

import struct
from typing import List, Tuple

import numpy as np

BLOCK_SIZE = 128

# The postings a driver-side decode may hold. A term, phrase or
# boolean-of-those top-k whose planned postings (the summed df of its
# terms, plus the summed ttf of its phrases' terms) are under it runs on
# the driver with no Spark job (search.executor), and so does a merge
# whose inputs' summed sum_dl (a bound on the postings and on the
# positions it decodes) is under it (indexing.merge). It bounds driver
# memory, not time: scripts/driver_crossover.py on 4 cores (CHANGES.md)
# found no size where the Spark plan was faster (booleans up to 5.5M
# planned postings, phrases up to 8.6M), and a driver boolean peaks at
# ~90 traced bytes per planned posting, so 2M holds it near 180 MB;
# bigger queries and merges spread their decode over Spark's tasks.
DRIVER_POSTINGS_BUDGET = 2_000_000


# ---------------------------------------------------------------------------
# FOR (Frame of Reference) bit-packing of uint32 arrays
# ---------------------------------------------------------------------------

def for_encode(values: np.ndarray) -> bytes:
    """Pack a uint32 array: [u8 bitwidth][u32 n][packed LSB-first bits]."""
    v = np.asarray(values, dtype=np.uint64)
    n = len(v)
    if n == 0:
        return struct.pack("<BI", 0, 0)
    maxv = int(v.max())
    width = max(1, maxv.bit_length())
    # expand each value into `width` bits, LSB first, then packbits
    shifts = np.arange(width, dtype=np.uint64)
    bits = ((v[:, None] >> shifts[None, :]) & 1).astype(np.uint8).reshape(-1)
    packed = np.packbits(bits, bitorder="little")
    return struct.pack("<BI", width, n) + packed.tobytes()


def for_decode(blob: bytes, offset: int = 0) -> Tuple[np.ndarray, int]:
    """Inverse of for_encode; returns (uint32 array, bytes consumed)."""
    width, n = struct.unpack_from("<BI", blob, offset)
    header = struct.calcsize("<BI")
    if n == 0:
        return np.array([], dtype=np.uint32), header
    nbytes = (n * width + 7) // 8
    raw = np.frombuffer(blob, dtype=np.uint8, count=nbytes, offset=offset + header)
    bits = np.unpackbits(raw, bitorder="little")[: n * width].reshape(n, width)
    weights = (1 << np.arange(width, dtype=np.uint64))
    vals = (bits.astype(np.uint64) * weights[None, :]).sum(axis=1)
    return vals.astype(np.uint32), header + nbytes


# ---------------------------------------------------------------------------
# VByte (VInt) — vectorized encode/decode of uint64 arrays
# ---------------------------------------------------------------------------

def vbyte_encode(values: np.ndarray) -> bytes:
    v = np.asarray(values, dtype=np.uint64)
    if len(v) == 0:
        return b""
    out = bytearray()
    # vectorized per-7-bit-group extraction
    groups = [(v >> np.uint64(7 * i)) & np.uint64(0x7F) for i in range(10)]
    need = np.ones(len(v), dtype=np.int64)
    for i in range(1, 10):
        need = np.where((v >> np.uint64(7 * i)) > 0, i + 1, need)
    for idx in range(len(v)):
        k = int(need[idx])
        for g in range(k):
            byte = int(groups[g][idx])
            if g < k - 1:
                byte |= 0x80
            out.append(byte)
    return bytes(out)


def vbyte_decode(blob: bytes, count: int, offset: int = 0) -> Tuple[np.ndarray, int]:
    arr = np.frombuffer(blob, dtype=np.uint8, offset=offset)
    out = np.empty(count, dtype=np.uint64)
    pos = 0
    for i in range(count):
        val = 0
        shift = 0
        while True:
            b = int(arr[pos])
            pos += 1
            val |= (b & 0x7F) << shift
            if b < 0x80:
                break
            shift += 7
        out[i] = val
    return out, pos


# ---------------------------------------------------------------------------
# Lucene-style posting-list codec (docs + freqs), for the property suite
# ---------------------------------------------------------------------------

def encode_posting_list(doc_ids: np.ndarray, tfs: np.ndarray) -> bytes:
    """Full-list codec: [u32 df][i64 singleton_or_-1] then, unless
    pulsed: FOR-128 full blocks of (deltas, tfs) + VByte tail with the
    freq==1 low-bit folding."""
    doc_ids = np.asarray(doc_ids, dtype=np.int64)
    tfs = np.asarray(tfs, dtype=np.int64)
    df = len(doc_ids)
    assert df == len(tfs) and df > 0
    if df == 1:
        # singleton pulse: docID in header, tf implicit = totalTermFreq
        return struct.pack("<Iq q", df, int(doc_ids[0]), int(tfs[0]))
    out = [struct.pack("<Iq q", df, -1, -1)]
    # deltas from previous docID; first delta is from 0 (absolute first doc)
    deltas = np.diff(doc_ids, prepend=0).astype(np.uint64)
    n_full = df // BLOCK_SIZE
    for bi in range(n_full):
        sl = slice(bi * BLOCK_SIZE, (bi + 1) * BLOCK_SIZE)
        out.append(for_encode(deltas[sl]))
        out.append(for_encode(tfs[sl].astype(np.uint64)))
    tail = slice(n_full * BLOCK_SIZE, df)
    tail_d = deltas[tail]
    tail_f = tfs[tail]
    folded = np.where(tail_f == 1, (tail_d << np.uint64(1)) | np.uint64(1), tail_d << np.uint64(1))
    pieces = []
    for d, f in zip(folded, tail_f):
        pieces.append(vbyte_encode(np.array([d], dtype=np.uint64)))
        if f != 1:
            pieces.append(vbyte_encode(np.array([f], dtype=np.uint64)))
    out.extend(pieces)
    return b"".join(out)


def decode_posting_list(blob: bytes) -> Tuple[np.ndarray, np.ndarray]:
    df, singleton, st = struct.unpack_from("<Iq q", blob, 0)
    off = struct.calcsize("<Iq q")
    if singleton >= 0:
        return (np.array([singleton], dtype=np.int64), np.array([st], dtype=np.int64))
    deltas = np.empty(df, dtype=np.uint64)
    tfs = np.empty(df, dtype=np.int64)
    n_full = df // BLOCK_SIZE
    for bi in range(n_full):
        d, used = for_decode(blob, off)
        off += used
        f, used = for_decode(blob, off)
        off += used
        deltas[bi * BLOCK_SIZE : (bi + 1) * BLOCK_SIZE] = d
        tfs[bi * BLOCK_SIZE : (bi + 1) * BLOCK_SIZE] = f
    i = n_full * BLOCK_SIZE
    while i < df:
        v, used = vbyte_decode(blob, 1, off)
        off += used
        folded = int(v[0])
        if folded & 1:
            deltas[i] = folded >> 1
            tfs[i] = 1
        else:
            deltas[i] = folded >> 1
            f, used = vbyte_decode(blob, 1, off)
            off += used
            tfs[i] = int(f[0])
        i += 1
    doc_ids = np.cumsum(deltas.astype(np.int64))
    return doc_ids, tfs


# ---------------------------------------------------------------------------
# Segment block codec: self-describing blocks (the storage the engine
# actually queries). One block row = up to BLOCK_SIZE postings of one
# term: FOR-packed (doc deltas from base_doc, tfs, norm bytes).
# ---------------------------------------------------------------------------

# has_pos header flag (byte 8 of every blob):
#   0 = block has no positions
#   2 = positions in the block row's separate `pblob` column
# The split is the Lucene .doc/.pos file separation restated as parquet
# COLUMNS (codecs/lucene90/Lucene90PostingsFormat.java doc/pos files):
# term/boolean/WAND paths select (term, blob) only, so column pruning
# keeps position bytes out of the scan, the Arrow transfer and the
# Python decode on every non-positional query.
POS_NONE, POS_SPLIT = 0, 2


def _encode_pos_deltas(tfs: np.ndarray, positions: np.ndarray) -> bytes:
    """FOR section of per-posting-delta positions (first position of
    each posting absolute, rest deltas)."""
    pos = np.asarray(positions, dtype=np.int64)
    d = np.diff(pos, prepend=0)
    starts = np.zeros(len(pos), dtype=bool)
    starts[np.cumsum(np.asarray(tfs, dtype=np.int64))[:-1]] = True
    starts[0] = True
    d = np.where(starts, pos, d).astype(np.uint64)
    return for_encode(d)


def _decode_pos_deltas(d: np.ndarray, tfs_i: np.ndarray) -> np.ndarray:
    """Invert the per-posting delta encoding (vectorized segmented
    cumsum; see decode_block_positions)."""
    starts = np.zeros(len(d), dtype=bool)
    if len(d):
        starts[0] = True
        starts[np.cumsum(tfs_i)[:-1]] = True
    g = np.cumsum(d)
    seg_base = np.maximum.accumulate(np.where(starts, g - d, -(2**62)))
    return g - seg_base


def decode_pos_blob(pblob: bytes, tfs_i: np.ndarray) -> np.ndarray:
    """Positions from a position column value (`pblob`), given the
    block's decoded tf array."""
    pd_, _ = for_decode(pblob, 0)
    return _decode_pos_deltas(pd_.astype(np.int64), tfs_i)


def encode_block(
    doc_ids: np.ndarray,
    tfs: np.ndarray,
    norm_bytes: np.ndarray,
    positions: np.ndarray | None = None,
) -> Tuple[bytes, bytes | None]:
    """Encode one block; returns (blob, pblob).

    positions: flat concatenation of each posting's sorted positions
    (len == sum(tfs)), stored delta-encoded within each posting in
    pblob; pblob is None when the block has no positions."""
    base = int(doc_ids[0])
    deltas = np.diff(np.asarray(doc_ids, dtype=np.int64), prepend=base).astype(np.uint64)
    hp = POS_NONE if positions is None else POS_SPLIT
    out = (
        struct.pack("<qB", base, hp)
        + for_encode(deltas)
        + for_encode(np.asarray(tfs, dtype=np.uint64))
        + for_encode(np.asarray(norm_bytes, dtype=np.uint64))
    )
    if positions is None:
        return out, None
    return out, _encode_pos_deltas(tfs, positions)


def decode_block(blob: bytes) -> Tuple[np.ndarray, np.ndarray, np.ndarray]:
    (base, _has_pos) = struct.unpack_from("<qB", blob, 0)
    off = 9
    deltas, used = for_decode(blob, off)
    off += used
    tfs, used = for_decode(blob, off)
    off += used
    norms, used = for_decode(blob, off)
    doc_ids = base + np.cumsum(deltas.astype(np.int64))
    return doc_ids, tfs.astype(np.int64), norms.astype(np.int64)


def decode_block_positions(
    blob: bytes, pblob: bytes | None = None
) -> Tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
    """Like decode_block but also returns the flat positions array
    (empty if the block was written without positions). Positions live
    in the block's `pblob` column value, which the caller must pass."""
    doc_ids, tfs_i, norms = decode_block(blob)
    if blob[8] == POS_NONE:
        return doc_ids, tfs_i, norms, np.array([], dtype=np.int64)
    if pblob is None:
        raise ValueError(
            "block positions live in the pblob column, which the caller "
            "did not select/pass")
    return doc_ids, tfs_i, norms, decode_pos_blob(pblob, tfs_i)


def _binary_column(col) -> Tuple[np.ndarray, np.ndarray, np.ndarray]:
    """(bytes, starts, valid) of a binary column — a pyarrow (chunked)
    array, possibly sliced, or a sequence of bytes: the value buffer
    followed by 16 zero bytes (so the 8-byte reads of _u64_at at any
    header or value byte stay inside it), each value's start in it and
    its validity."""
    import pyarrow as pa

    if isinstance(col, pa.ChunkedArray):
        col = (col.combine_chunks() if col.num_chunks
               else pa.array([], type=col.type))
    elif not isinstance(col, pa.Array):
        col = pa.array(col, type=pa.binary())
    n = len(col)
    bufs = col.buffers()
    odt = np.int64 if pa.types.is_large_binary(col.type) else np.int32
    offs = np.frombuffer(bufs[1], dtype=odt, count=n + 1,
                         offset=col.offset * np.dtype(odt).itemsize).astype(np.int64)
    raw = (np.frombuffer(bufs[2], dtype=np.uint8) if bufs[2] is not None
           else np.zeros(0, np.uint8))
    data = np.zeros(len(raw) + 16, dtype=np.uint8)
    data[: len(raw)] = raw
    valid = (np.ones(n, bool) if not col.null_count
             else col.is_valid().to_numpy(zero_copy_only=False))
    return data, offs[:-1], valid


def _u64_at(data: np.ndarray) -> np.ndarray:
    """The little-endian uint64 starting at each byte of data (all but
    its last 7 bytes): an unaligned strided view, no copy."""
    return np.ndarray((len(data) - 7,), dtype="<u8", buffer=data, strides=(1,))


def _for_sections(data: np.ndarray, start: np.ndarray):
    """Headers of one FOR section per start (for_encode's [u8 width]
    [u32 n] layout): (width, n, first data byte, end byte)."""
    w = data[start].astype(np.int64)
    n = (_u64_at(data)[start + 1] & np.uint64(0xFFFFFFFF)).astype(np.int64)
    first = start + 5
    return w, n, first, first + (n * w + 7) // 8


def _for_gather(data: np.ndarray, w: np.ndarray, first: np.ndarray,
                counts: np.ndarray, off: np.ndarray) -> np.ndarray:
    """Every value of many FOR sections (width w, data at byte first,
    counts values each; off: the exclusive cumsum of counts) in one
    gather: value j of a section starts at bit first*8 + j*w, so one
    unaligned 8-byte read, a shift and a mask decode it whatever the
    width (w + 7 <= 39 bits)."""
    j = np.arange(int(off[-1]), dtype=np.int64) - np.repeat(off[:-1], counts)
    bit = np.repeat(first * 8, counts) + j * np.repeat(w, counts)
    mask = np.repeat((np.uint64(1) << w.astype(np.uint64)) - np.uint64(1), counts)
    return (_u64_at(data)[bit >> 3] >> (bit & 7).astype(np.uint64)) & mask


def decode_blocks_batch(blobs, pblobs=None):
    """Decode many blocks at once: the inverse of split_blocks_batch,
    bit-identical to decode_block / decode_block_positions per block.

    blobs, pblobs: the blob and pblob columns of block rows (pyarrow
    arrays or sequences of bytes); pblobs None decodes no positions.
    Returns (doc_ids, tfs, norms, positions, off, pos_off): flat int64
    arrays over every block in row order, block i's postings at
    [off[i], off[i+1]) and its positions at [pos_off[i], pos_off[i+1])
    (none for a block written without positions).

    The blob buffers are read in place: a vectorized header parse gives
    each block's base and the width, count and data offset of its three
    FOR sections; one gather per section decodes the values of every
    block (_for_gather); a segmented cumsum turns the doc deltas into
    ids and _decode_pos_deltas the position deltas into positions."""
    data, start, valid = _binary_column(blobs)
    if not valid.all():
        raise ValueError("a block row has no blob")
    nb = len(start)
    base = _u64_at(data)[start].view(np.int64)
    w_doc, n, d_doc, end = _for_sections(data, start + 9)
    w_tf, _, d_tf, end = _for_sections(data, end)
    w_nb, _, d_nb, _ = _for_sections(data, end)
    off = np.zeros(nb + 1, dtype=np.int64)
    np.cumsum(n, out=off[1:])
    deltas = _for_gather(data, w_doc, d_doc, n, off).astype(np.int64)
    tfs = _for_gather(data, w_tf, d_tf, n, off).astype(np.int64)
    norms = _for_gather(data, w_nb, d_nb, n, off).astype(np.int64)
    g = np.cumsum(deltas)
    first = off[:-1][n > 0]
    doc_ids = g + np.repeat(base[n > 0] - (g[first] - deltas[first]), n[n > 0])
    pos_off = np.zeros(nb + 1, dtype=np.int64)
    positions = np.zeros(0, dtype=np.int64)
    if pblobs is not None and nb:
        pdata, pstart, pvalid = _binary_column(pblobs)
        split = data[start + 8] == POS_SPLIT
        if (split & ~pvalid).any():
            raise ValueError(
                "block positions live in the pblob column, which the caller "
                "did not select/pass")
        w_pos, n_pos, d_pos, _ = _for_sections(pdata, np.where(split, pstart, 0))
        n_pos = np.where(split, n_pos, 0)
        np.cumsum(n_pos, out=pos_off[1:])
        tfs_pos = tfs[np.repeat(split, n)]
        if int(tfs_pos.sum()) != int(pos_off[-1]):
            raise ValueError("block position counts do not match their tfs")
        pd_ = _for_gather(pdata, w_pos, d_pos, n_pos, pos_off).astype(np.int64)
        positions = _decode_pos_deltas(pd_, tfs_pos)
    return doc_ids, tfs, norms, positions, off, pos_off


def _bit_width_u64(v: np.ndarray) -> np.ndarray:
    """Exact per-element bit width: max(1, int(x).bit_length()).
    Binary CLZ in 6 vectorized steps — no float log2 (rounding at 2^k
    boundaries would corrupt the FOR width byte)."""
    v = np.asarray(v, dtype=np.uint64).copy()
    w = np.zeros(len(v), dtype=np.int64)
    for shift in (32, 16, 8, 4, 2, 1):
        m = v >= (np.uint64(1) << np.uint64(shift))
        w[m] += shift
        v[m] >>= np.uint64(shift)
    w += (v > 0)
    return np.maximum(w, 1)


def for_encode_batch(values: np.ndarray, counts: np.ndarray) -> np.ndarray:
    """FOR-encode many value chunks in one pass; returns an object array
    of bytes, bit-identical to [for_encode(chunk) for chunk in
    split(values, counts)].

    The per-chunk work of for_encode (bit expansion + packbits + header)
    is hoisted to one vectorized pass per DISTINCT BIT WIDTH: chunks of
    equal width scatter their value bits into one flat bit array with
    each chunk zero-padded to a byte boundary (packbits' little-order
    zero fill makes concatenated per-chunk packings equal one packing of
    the padded flat array), then a single np.packbits covers the whole
    group. This is what makes the index-build flush kernel ~10x faster
    than per-term encode loops — the same bytes, emitted by batch.
    """
    counts = np.asarray(counts, dtype=np.int64)
    nb = len(counts)
    out = np.empty(nb, dtype=object)
    if nb == 0:
        return out
    v = np.asarray(values, dtype=np.uint64)
    starts = np.zeros(nb, dtype=np.int64)
    np.cumsum(counts[:-1], out=starts[1:])
    empty_hdr = struct.pack("<BI", 0, 0)
    nonzero = np.flatnonzero(counts)
    for i in np.flatnonzero(counts == 0):
        out[i] = empty_hdr
    if len(nonzero) == 0:
        return out
    widths = np.zeros(nb, dtype=np.int64)
    widths[nonzero] = _bit_width_u64(
        np.maximum.reduceat(v, starts[nonzero]))
    for w in np.unique(widths[nonzero]):
        sel = nonzero[widths[nonzero] == w]
        c = counts[sel]
        m = int(c.sum())
        # gather the group's values (chunks are contiguous in `v`)
        val_idx = np.repeat(starts[sel] - np.concatenate(([0], np.cumsum(c[:-1]))), c) \
            + np.arange(m, dtype=np.int64)
        vals = v[val_idx]
        pbytes = (c * w + 7) // 8
        byte_base = np.zeros(len(sel), dtype=np.int64)
        np.cumsum(pbytes[:-1], out=byte_base[1:])
        total_bytes = int(pbytes.sum())
        flat = np.zeros(total_bytes * 8, dtype=np.uint8)
        # per-value destination bit base: chunk's bit base + local_idx*w
        local = np.arange(m, dtype=np.int64) - np.repeat(
            np.concatenate(([0], np.cumsum(c[:-1]))), c)
        vbase = np.repeat(byte_base * 8, c) + local * w
        shifts = np.arange(w, dtype=np.uint64)
        bits = ((vals[:, None] >> shifts[None, :]) & np.uint64(1)).astype(np.uint8)
        dest = vbase[:, None] + np.arange(w, dtype=np.int64)[None, :]
        flat[dest.reshape(-1)] = bits.reshape(-1)
        packed = np.packbits(flat, bitorder="little")
        hdr = struct.pack("<BI", int(w), 0)[:1]
        raw = packed.tobytes()
        for j, bi in enumerate(sel):
            off = int(byte_base[j])
            out[bi] = hdr + struct.pack("<I", int(counts[bi])) \
                + raw[off: off + int(pbytes[j])]
    return out


IMPACT_CAP = 16


def block_impacts(
    run_tf: np.ndarray,
    run_nb: np.ndarray,
    blk_start: np.ndarray,
    blk_end: np.ndarray,
    cap: int = IMPACT_CAP,
) -> Tuple[np.ndarray, np.ndarray]:
    """Per-block competitive (tf, norm) impact frontier — the analog of
    Lucene 8's CompetitiveImpactAccumulator feeding
    Lucene50SkipWriter.writeImpacts (reference
    codecs/CompetitiveImpactAccumulator.java:30,
    Lucene50SkipWriter.java:207).

    The decoupled per-block (max_tf, min_norm) pair bounds BM25 by
    pairing the block's best tf with its best norm — a combination no
    document realizes, so on length-heterogeneous corpora the bound
    exceeds every real score and block-max WAND prunes ~nothing
    (measured: <1%% of blocks prunable decoupled vs 94-99%% with real
    impacts on the Zipf bench corpus). The frontier keeps only the
    Pareto-maximal REALIZED pairs: pairs (tf, nb) such that no other
    posting in the block has tf' >= tf AND nb' <= nb. BM25 is
    increasing in tf and decreasing in norm-length, so
    max over frontier pairs of score(tf, nb) == max realized score —
    an exact block bound.

    Blocks whose frontier exceeds `cap` keep the cap-1 highest-tf pairs
    plus ONE conservative synthetic pair (next frontier tf, min norm of
    the dropped tail) that dominates everything dropped — the bound
    stays valid, merely looser on those rare blocks.

    Returns (imp_tf, imp_norm): object arrays of int32 ndarrays, one
    frontier per block, tf-descending / norm-ascending.
    """
    nruns = len(run_tf)
    blk_start = np.asarray(blk_start, dtype=np.int64)
    blk_end = np.asarray(blk_end, dtype=np.int64)
    nblocks = len(blk_start)
    out_tf = np.empty(nblocks, dtype=object)
    out_nb = np.empty(nblocks, dtype=object)
    if nruns == 0 or nblocks == 0:
        return out_tf, out_nb
    tf_a = np.asarray(run_tf, dtype=np.int64)
    nb_a = np.asarray(run_nb, dtype=np.int64)
    blk_n = blk_end - blk_start
    bid = np.repeat(np.arange(nblocks, dtype=np.int64), blk_n)
    # within-block order: tf desc, then norm asc (stable on block id)
    order = np.lexsort((nb_a, -tf_a, bid))
    tfs = tf_a[order]
    nbs = nb_a[order]
    # within-block running-min of nb WITHOUT a per-block loop: offset
    # each block's values by -LARGE*block so earlier blocks can never
    # win a later block's cumulative minimum
    large = int(nbs.max()) + 1
    cm = np.minimum.accumulate(nbs - large * bid) + large * bid
    starts = np.zeros(nblocks, dtype=np.int64)
    np.cumsum(blk_n[:-1], out=starts[1:])
    prev = np.empty(nruns, dtype=np.int64)
    prev[1:] = cm[:-1]
    prev[starts] = np.iinfo(np.int64).max  # block head: always kept
    keep = nbs < prev  # strictly shorter than every higher-tf posting
    kept_counts = np.add.reduceat(keep, starts)
    ktf = tfs[keep].astype(np.int32)
    knb = nbs[keep].astype(np.int32)
    koff = np.zeros(nblocks + 1, dtype=np.int64)
    np.cumsum(kept_counts, out=koff[1:])
    for i in range(nblocks):
        lo, hi = koff[i], koff[i + 1]
        if hi - lo <= cap:
            out_tf[i] = ktf[lo:hi]
            out_nb[i] = knb[lo:hi]
        else:
            t = np.empty(cap, dtype=np.int32)
            b = np.empty(cap, dtype=np.int32)
            t[: cap - 1] = ktf[lo : lo + cap - 1]
            b[: cap - 1] = knb[lo : lo + cap - 1]
            # synthetic tail pair dominates every dropped frontier pair:
            # frontier tf decreases and nb decreases along the walk, so
            # (tf of the first dropped pair, nb of the last) bounds all
            t[cap - 1] = ktf[lo + cap - 1]
            b[cap - 1] = knb[hi - 1]
            out_tf[i] = t
            out_nb[i] = b
    return out_tf, out_nb


def split_blocks_batch(
    run_doc: np.ndarray,
    run_tf: np.ndarray,
    run_nb: np.ndarray,
    term_first: np.ndarray,
    term_last: np.ndarray,
    positions: np.ndarray | None = None,
    block_size: int = BLOCK_SIZE,
    split_pos: bool = True,
) -> dict:
    """Vectorized split_blocks over MANY terms at once.

    Inputs are run-level (one run = one posting) arrays sorted by
    (term, doc): run_doc/run_tf/run_nb, plus term boundaries
    term_first/term_last (run indices). positions: flat concat of every
    posting's sorted positions in run order (len == run_tf.sum()).

    Returns a dict of per-block numpy columns {term_idx, block_ord, n,
    min_doc, max_doc, max_tf, sum_tf, min_norm, imp_tf, imp_norm, blob,
    pblob} whose blobs are bit-identical to the per-term
    split_blocks/encode_block path (the property suite asserts this);
    pblob holds each block's positions (None without positions).
    min_norm is the per-block min of run_nb — equal to split_blocks'
    nb[argmin(lengths)] because every caller passes norm_bytes ==
    lengths. imp_tf/imp_norm are the per-block competitive impact
    frontiers (block_impacts).

    split_pos accepts only True: positions always go to pblob. The
    keyword stays because perfbench's codec kernel bench passes it.
    """
    if not split_pos:
        raise ValueError("split_pos must be True: positions always go to pblob")
    nruns = len(run_doc)
    if nruns == 0:
        keys = ["term_idx", "block_ord", "n", "min_doc", "max_doc", "max_tf",
                "sum_tf", "min_norm", "imp_tf", "imp_norm", "blob", "pblob"]
        return {k: np.array([], dtype=object if k in ("blob", "pblob",
                                                      "imp_tf", "imp_norm")
                             else np.int64)
                for k in keys}
    term_first = np.asarray(term_first, dtype=np.int64)
    term_last = np.asarray(term_last, dtype=np.int64)
    nterms = len(term_first)
    term_of_run = np.repeat(np.arange(nterms, dtype=np.int64),
                            term_last - term_first)
    local = np.arange(nruns, dtype=np.int64) - np.repeat(
        term_first, term_last - term_first)
    blk_start = np.flatnonzero(local % block_size == 0)
    blk_end = np.append(blk_start[1:], nruns)
    blk_n = blk_end - blk_start
    base = run_doc[blk_start]
    # doc deltas: first-in-block is absolute base, so its delta is 0
    delta = np.empty(nruns, dtype=np.int64)
    delta[0] = 0
    delta[1:] = run_doc[1:] - run_doc[:-1]
    delta[blk_start] = 0
    s_doc = for_encode_batch(delta.astype(np.uint64), blk_n)
    s_tf = for_encode_batch(np.asarray(run_tf, dtype=np.uint64), blk_n)
    s_nb = for_encode_batch(np.asarray(run_nb, dtype=np.uint64), blk_n)
    nblocks = len(blk_start)
    pblobs = np.empty(nblocks, dtype=object)  # None: no positions
    if positions is not None:
        pos_off = np.zeros(nruns + 1, dtype=np.int64)
        np.cumsum(run_tf, out=pos_off[1:])
        P = np.asarray(positions, dtype=np.int64)
        pd_ = np.empty(len(P), dtype=np.int64)
        if len(P):
            pd_[0] = P[0]
            pd_[1:] = P[1:] - P[:-1]
            run_pos_start = pos_off[:-1]
            run_pos_start = run_pos_start[run_pos_start < len(P)]
            pd_[run_pos_start] = P[run_pos_start]
        pos_counts = pos_off[blk_end] - pos_off[blk_start]
        pblobs = for_encode_batch(pd_.astype(np.uint64), pos_counts)
    hp = POS_NONE if positions is None else POS_SPLIT
    blobs = np.empty(nblocks, dtype=object)
    for i in range(nblocks):
        blobs[i] = struct.pack("<qB", int(base[i]), hp) \
            + s_doc[i] + s_tf[i] + s_nb[i]
    imp_tf, imp_nb = block_impacts(run_tf, run_nb, blk_start, blk_end)
    return {
        "term_idx": term_of_run[blk_start],
        "block_ord": local[blk_start] // block_size,
        "n": blk_n,
        "min_doc": base,
        "max_doc": run_doc[blk_end - 1],
        "max_tf": np.maximum.reduceat(np.asarray(run_tf, dtype=np.int64), blk_start),
        "sum_tf": np.add.reduceat(np.asarray(run_tf, dtype=np.int64), blk_start),
        "min_norm": np.minimum.reduceat(np.asarray(run_nb, dtype=np.int64), blk_start),
        "imp_tf": imp_tf,
        "imp_norm": imp_nb,
        "blob": blobs,
        "pblob": pblobs,
    }


def split_blocks(
    doc_ids: np.ndarray,
    tfs: np.ndarray,
    norm_bytes: np.ndarray,
    lengths: np.ndarray,
    positions: np.ndarray | None = None,
    block_size: int = BLOCK_SIZE,
) -> List[dict]:
    """Split one term's sorted postings into block rows with WAND metadata.

    positions: flat concat of each posting's sorted positions (len ==
    sum(tfs)), or None to omit positions from the blocks. Each row's
    `pblob` holds the block's positions (None without positions); `blob`
    stays position-free.
    """
    out = []
    n = len(doc_ids)
    pos_offsets = np.concatenate([[0], np.cumsum(np.asarray(tfs, dtype=np.int64))])
    for lo in range(0, n, block_size):
        hi = min(lo + block_size, n)
        d, f, nb, ln = doc_ids[lo:hi], tfs[lo:hi], norm_bytes[lo:hi], lengths[lo:hi]
        p = None
        if positions is not None:
            p = positions[pos_offsets[lo] : pos_offsets[hi]]
        itf, inb = block_impacts(
            np.asarray(f), np.asarray(nb), np.array([0]), np.array([hi - lo]))
        blob, pblob = encode_block(d, f, nb, p)
        out.append({
            "block_ord": lo // block_size,
            "n": hi - lo,
            "min_doc": int(d[0]),
            "max_doc": int(d[-1]),
            "max_tf": int(f.max()),
            "sum_tf": int(f.sum()),
            "min_norm": int(nb[int(np.argmin(ln))]),
            "imp_tf": itf[0],
            "imp_norm": inb[0],
            "blob": blob,
            "pblob": pblob,
        })
    return out
