"""BM25 scoring math, bit-faithful to the reference in float32.

Formula + arithmetic order from
lucene/core/src/java/org/apache/lucene/search/similarities/BM25Similarity.java:
  - idf        = (float) ln(1 + (docCount - df + 0.5)/(df + 0.5))   [:71-74]
  - avgdl      = (float)(sumTotalTermFreq / (double) docCount)      [:87-101]
  - weight     = idf * boost                      (float32)         [:302]
  - weightValue= weight * (k1 + 1)                (float32)         [:238]
  - cache[b]   = k1 * ((1 - b_) + b_ * LENGTH_TABLE[b] / avgdl)     [:208-218]
  - score      = weightValue * tf / (tf + cache[norm_byte])         [:250-263]
All per-term ops are float32; multi-clause sums accumulate in float64
and cast back to float32 (DisjunctionSumScorer / idfExplain sum into a
double before casting).
"""

from __future__ import annotations

import math
from dataclasses import dataclass

import numpy as np

from .smallfloat import LENGTH_TABLE

K1 = np.float32(1.2)
B = np.float32(0.75)


def idf(doc_freq: int, doc_count: int) -> np.float32:
    """float32 idf; inner math in float64 exactly like Math.log(double)."""
    return np.float32(math.log(1.0 + (doc_count - doc_freq + 0.5) / (doc_freq + 0.5)))


def avg_field_length(sum_total_term_freq: int, doc_count: int) -> np.float32:
    return np.float32(sum_total_term_freq / float(doc_count))


def norm_cache(avgdl: np.float32, k1: np.float32 = K1, b: np.float32 = B) -> np.ndarray:
    """256-entry float32 cache: k1 * ((1-b) + b * decoded_len / avgdl)."""
    # operation order matters for bit-parity: (b * L) / avgdl, then add, then mul
    return (k1 * ((np.float32(1.0) - b) + (b * LENGTH_TABLE) / np.float32(avgdl))).astype(
        np.float32
    )


@dataclass(frozen=True)
class TermWeight:
    """Per-term scoring state (the SimWeight/SimScorer analog); cheap to
    broadcast — 256 floats + 2 scalars per query term."""

    term: str
    weight_value: np.float32  # boost * idf * (k1+1)
    cache: np.ndarray  # float32[256]

    def score(self, tf: np.ndarray, norm_bytes: np.ndarray) -> np.ndarray:
        """Vectorized float32 BM25 over posting arrays."""
        freq = np.asarray(tf, dtype=np.float32)
        norm = self.cache[np.asarray(norm_bytes).astype(np.int64) & 0xFF]
        return ((self.weight_value * freq) / (freq + norm)).astype(np.float32)


def make_term_weight(
    term: str,
    doc_freq: int,
    doc_count: int,
    sum_total_term_freq: int,
    boost: float = 1.0,
    k1: np.float32 = K1,
    b: np.float32 = B,
) -> TermWeight:
    if doc_freq <= 0:
        # term absent from index: zero weight (query still executes)
        return TermWeight(term, np.float32(0.0), np.zeros(256, dtype=np.float32))
    idf_v = idf(doc_freq, doc_count)
    weight = np.float32(idf_v * np.float32(boost))
    weight_value = np.float32(weight * (k1 + np.float32(1.0)))
    avgdl = avg_field_length(sum_total_term_freq, doc_count)
    return TermWeight(term, weight_value, norm_cache(avgdl, k1, b))
