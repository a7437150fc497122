"""Spark-free micro-benchmarks of the analysis and codec kernels.

The kernels are the plain numpy/pandas functions the build and query
stages call inside their Arrow UDFs.  Timing them on a fixed seeded batch
in this process separates kernel time from serialization and plan
overhead.  Each reports its operation count and bytes in and out.
"""

from __future__ import annotations

import statistics
import time

import numpy as np
import pandas as pd

import checker
import corpus as C

BATCH_DOCS = 1500
REPS = 3


def _median_wall(fn):
    """Median wall of REPS calls, and the first call's result."""
    walls, out = [], None
    for _ in range(REPS):
        t = time.perf_counter()
        r = fn()
        walls.append(time.perf_counter() - t)
        out = r if out is None else out
    return statistics.median(walls), out


def run(seed: int) -> dict:
    from lucene_solr_spark.analysis import vectorized_field_tokens
    from lucene_solr_spark.codec import (BLOCK_SIZE, decode_block,
                                         decode_block_positions, split_blocks_batch)

    c = C.generate(seed, BATCH_DOCS, salt="kernels")
    contents = pd.Series(c.content)
    bytes_in = int(sum(len(s.encode()) for s in c.content))
    t_an, (terms, doc, pos, lengths, _) = _median_wall(
        lambda: vectorized_field_tokens(contents, "standard", True))

    # invert the batch: runs = postings sorted by (term, doc)
    uniq, tid = np.unique(terms.astype(str), return_inverse=True)
    order = np.lexsort((pos, doc, tid))
    tid, doc, pos = tid[order], doc[order], pos[order]
    run_start = np.flatnonzero(np.r_[True, (tid[1:] != tid[:-1]) | (doc[1:] != doc[:-1])])
    run_tf = np.diff(np.r_[run_start, len(tid)])
    run_doc = doc[run_start]
    run_term = tid[run_start]
    run_nb = checker.int_to_byte4(lengths[run_doc])
    term_first = np.flatnonzero(np.r_[True, run_term[1:] != run_term[:-1]])
    term_last = np.r_[term_first[1:], len(run_term)]
    t_enc, blocks = _median_wall(lambda: split_blocks_batch(
        run_doc, run_tf, run_nb, term_first, term_last, positions=pos, split_pos=True))
    blobs = [bytes(b) for b in blocks["blob"]]
    pblobs = [bytes(b) for b in blocks["pblob"]]
    bytes_out = sum(map(len, blobs)) + sum(map(len, pblobs))
    n_post = len(run_doc)
    # decode the full blocks only: head-term blocks are what queries decode
    full = np.flatnonzero(blocks["n"] == BLOCK_SIZE)
    fb, fp = [blobs[i] for i in full], [pblobs[i] for i in full]
    dec_post = int(blocks["n"][full].sum())
    dec_pos = int(blocks["sum_tf"][full].sum())
    t_dec, _ = _median_wall(lambda: [decode_block(b) for b in fb])
    t_decp, _ = _median_wall(lambda: [decode_block_positions(b, p) for b, p in zip(fb, fp)])
    return {
        "analysis.tokens_per_s": (len(terms) / t_an, "tokens/s"),
        "analysis.tokens": (len(terms), "count"),
        "analysis.bytes_in": (bytes_in, "bytes"),
        "codec.postings": (n_post, "count"),
        "codec.positions": (len(pos), "count"),
        "codec.blocks": (len(blobs), "count"),
        "codec.decoded_postings": (dec_post, "count"),
        "codec.bytes_out": (bytes_out, "bytes"),
        "codec.bytes_per_posting": (bytes_out / n_post, "bytes"),
        "codec.encode_postings_per_s": (n_post / t_enc, "postings/s"),
        "codec.decode_postings_per_s": (dec_post / t_dec, "postings/s"),
        "codec.decode_positions_per_s": (dec_pos / t_decp, "positions/s"),
    }
