"""Independent correctness checker: what the engine must return, computed
from the token ids the generator recorded, with numpy only.

Nothing here imports the engine.  The scoring follows the published
Lucene 7.7 ``BM25Similarity`` (k1 = 1.2, b = 0.75):

    idf    = (float) ln(1 + (docCount - df + 0.5) / (df + 0.5))
    avgdl  = (float) (sumTotalTermFreq / (double) docCount)
    cache  = k1 * ((1 - b) + b * byte4ToInt(norm) / avgdl)       float ops
    weight = idf * boost * (k1 + 1)                                float ops
    score  = weight * freq / (freq + cache[intToByte4(length)])   float ops

with a phrase scored like a term whose idf is the double sum of its terms'
float idfs and whose freq is the number of exact matches, and boolean
clauses summed in double and cast back to float.  The segment path must
match this bit for bit.  The live path scores in double with the exact
length and rounds to six decimals; it is compared within a tolerance.
Each path is scored from its own token stream: joined ``a.b``/``a_b``
tokens exist on the segment path only.

Deleted documents stay in docCount, sumTotalTermFreq and df until a merge
drops them (Lucene's "docFreq ignores deletions"), but never appear in a
result.  Run this file to run the checker's self-test.
"""

from __future__ import annotations

import math
from typing import Dict, List, Sequence, Tuple

import numpy as np

import corpus as C

K1 = np.float32(1.2)
B = np.float32(0.75)
LIVE_TOL = 2.5e-6   # two units of the live path's sixth decimal


# -- SmallFloat.intToByte4 / byte4ToInt (Lucene 7.7 util/SmallFloat.java) ----

def _long_to_int4(i: np.ndarray) -> np.ndarray:
    nbits = np.zeros(i.shape, dtype=np.int64)
    for s in range(40):
        nbits += (i >> s) > 0
    shift = np.maximum(nbits - 4, 0)
    enc = ((i >> shift) & 0x07) | ((shift + 1) << 3)
    return np.where(nbits < 4, i, enc)


_MAX_INT4 = int(_long_to_int4(np.array([2**31 - 1], dtype=np.int64))[0])
_FREE = 255 - _MAX_INT4          # 24 lengths below this are stored exactly


def int_to_byte4(lengths: np.ndarray) -> np.ndarray:
    x = np.asarray(lengths, dtype=np.int64)
    return np.where(x < _FREE, x, _FREE + _long_to_int4(np.maximum(x - _FREE, 0)))


def byte4_to_int(b: np.ndarray) -> np.ndarray:
    i = np.asarray(b, dtype=np.int64) & 0xFF
    j = i - _FREE
    bits, shift = j & 0x07, (j >> 3) - 1
    dec = np.where(shift == -1, bits, (bits | 0x08) << np.maximum(shift, 0))
    return np.where(i < _FREE, i, _FREE + dec)


LENGTH_TABLE = byte4_to_int(np.arange(256)).astype(np.float32)


def idf32(df: int, n: int) -> np.float32:
    return np.float32(math.log(1 + (n - df + 0.5) / (df + 0.5)))


def bm25_f32(freq: np.ndarray, dl: np.ndarray, idf: np.float32, n: int,
             sum_dl: int) -> np.ndarray:
    avgdl = np.float32(sum_dl / float(n))
    cache = (K1 * ((np.float32(1) - B) + (B * LENGTH_TABLE) / avgdl)).astype(np.float32)
    weight = np.float32(np.float32(idf * np.float32(1)) * (K1 + np.float32(1)))
    f = np.asarray(freq, dtype=np.float32)
    return ((weight * f) / (f + cache[int_to_byte4(dl)])).astype(np.float32)


def bm25_f64(freq: np.ndarray, dl: np.ndarray, idf: float, n: int,
             sum_dl: int) -> np.ndarray:
    f = np.asarray(freq, dtype=np.float64)
    avgdl = sum_dl / n
    return idf * (f * 2.2) / (f + 1.2 * (0.25 + 0.75 * np.asarray(dl, np.float64) / avgdl))


# -- the documents an index should hold ------------------------------------

def _gather(tok: np.ndarray, off: np.ndarray, rows: np.ndarray):
    """The token runs of the given documents, concatenated, and their lengths."""
    lens = np.diff(off)[rows]
    idx = np.repeat(off[:-1][rows] - np.r_[0, np.cumsum(lens)[:-1]], lens) + np.arange(lens.sum())
    return tok[idx], lens


class Truth:
    """Every document ever added to one index, by doc id, with both
    analyzers' tokens, whether it still counts in the statistics (present
    in a segment) and whether it is live (not tombstoned)."""

    def __init__(self) -> None:
        self.doc_id = np.zeros(0, np.int64)
        self.keys: List[Tuple[str, str]] = []
        self.parts: Dict[str, List[np.ndarray]] = {"seg": [], "seg_pos": [], "seg_len": [],
                                                   "live": [], "live_len": []}
        self.counted = np.zeros(0, bool)
        self.live = np.zeros(0, bool)
        self.next_id = 0

    def add(self, corpus: "C.Corpus") -> np.ndarray:
        """Documents of one committed batch: ids are dense from the
        index's high-water mark, in (repo, path) order."""
        keys = list(zip(corpus.repo, corpus.path))
        order = sorted(range(len(keys)), key=keys.__getitem__)
        ids = np.empty(len(keys), np.int64)
        ids[order] = self.next_id + np.arange(len(keys))
        self.next_id += len(keys)
        rank = np.argsort(ids)
        self.doc_id = np.concatenate([self.doc_id, ids[rank]])
        self.keys += [keys[i] for i in rank]
        p = self.parts
        tok, lens = _gather(corpus.seg_tok, corpus.seg_off, rank)
        p["seg"].append(tok)
        p["seg_pos"].append(_gather(corpus.seg_pos, corpus.seg_off, rank)[0])
        p["seg_len"].append(lens)
        tok, lens = _gather(corpus.live_tok, corpus.live_off, rank)
        p["live"].append(tok)
        p["live_len"].append(lens)
        self.counted = np.concatenate([self.counted, np.ones(len(ids), bool)])
        self.live = np.concatenate([self.live, np.ones(len(ids), bool)])
        return ids

    def delete_keys(self, keys: Sequence[Tuple[str, str]]) -> int:
        want = set(keys)
        hit = np.array([k in want for k in self.keys]) & self.live
        self.live &= ~hit
        return int(hit.sum())

    def delete_terms(self, words: Sequence[str]) -> int:
        """deleteDocuments(Term...): every counted doc holding a term."""
        tok, off = self._stream("seg")
        doc_of = np.repeat(np.arange(len(self.doc_id)), np.diff(off))
        has = np.zeros(len(self.doc_id), bool)
        has[np.unique(doc_of[np.isin(tok, [C.term_id(w) for w in words])])] = True
        hit = has & self.counted & self.live
        self.live &= ~hit
        return int(hit.sum())

    def purge(self) -> None:
        """A merge that rewrites every segment drops deleted docs."""
        self.counted &= self.live

    def cat(self, name: str) -> np.ndarray:
        return np.concatenate(self.parts[name]) if self.parts[name] else np.zeros(0, np.int64)

    def _stream(self, name: str) -> Tuple[np.ndarray, np.ndarray]:
        """(tokens, per-document offsets) of one analyzer."""
        lens = self.cat(f"{name}_len")
        off = np.zeros(len(lens) + 1, np.int64)
        np.cumsum(lens, out=off[1:])
        return self.cat(name), off

    def snapshot(self) -> "Snapshot":
        return Snapshot(self)


class _Inverted:
    """One analyzer's postings over the counted documents: term, doc index
    and position, sorted; plus the field length of every document (tokens
    after the stop filter)."""

    def __init__(self, tok: np.ndarray, pos: np.ndarray, off: np.ndarray,
                 counted: np.ndarray) -> None:
        n_docs = len(off) - 1
        doc_of = np.repeat(np.arange(n_docs, dtype=np.int64), np.diff(off))
        kept = ~C.is_stop(tok)
        self.dl = np.bincount(doc_of[kept], minlength=n_docs)
        self.sum_dl = int(self.dl[counted].sum())
        sel = kept & counted[doc_of]
        # one sort of (term, doc, position) packed in 23 + 20 + 20 bits
        key = (tok[sel].astype(np.int64) << 40) | (doc_of[sel] << 20) | pos[sel]
        key.sort()
        self.t = key >> 40
        self.d = (key >> 20) & 0xFFFFF
        self.p = key & 0xFFFFF

    def rows(self, word: str) -> slice:
        i = C.term_id(word)
        return slice(np.searchsorted(self.t, i), np.searchsorted(self.t, i, side="right"))

    def postings(self, word: str) -> Tuple[np.ndarray, np.ndarray]:
        """(doc index, tf) of one term."""
        return np.unique(self.d[self.rows(word)], return_counts=True)

    def phrase_freq(self, words: Sequence[str]) -> Tuple[np.ndarray, np.ndarray]:
        """(doc index, number of exact matches) of a phrase."""
        hits = None
        for j, w in enumerate(words):
            r = self.rows(w)
            at = (self.d[r] << 20) + self.p[r] - j
            hits = at if hits is None else np.intersect1d(hits, at)
        return np.unique(hits >> 20, return_counts=True)


class Snapshot:
    """Both analyzers' inverted views of the counted documents at one
    commit.  The segment path keeps the position gaps stop words leave;
    the live path counts positions after the stop filter."""

    def __init__(self, truth: Truth) -> None:
        self.doc_id = truth.doc_id
        self.live = truth.live.copy()
        self.counted = truth.counted.copy()
        self.n = int(self.counted.sum())
        tok, off = truth._stream("seg")
        self.seg = _Inverted(tok, truth.cat("seg_pos"), off, self.counted)
        tok, off = truth._stream("live")
        # live positions: the rank of a token among the document's kept ones
        kept = np.cumsum(~C.is_stop(tok))
        pos = kept - 1 - np.repeat(np.r_[0, kept][off[:-1]], np.diff(off))
        self.live_view = _Inverted(tok, pos, off, self.counted)
        self.sum_dl = self.seg.sum_dl

    # -- statistics (segment path) ------------------------------------------
    def df(self, word: str) -> int:
        return len(self.seg.postings(word)[0])

    def ttf(self, word: str) -> int:
        r = self.seg.rows(word)
        return r.stop - r.start

    # -- expected scores of every matching live doc -------------------------
    def scores(self, cls: str, words: Sequence[str], live_path: bool = False
               ) -> Tuple[np.ndarray, np.ndarray]:
        """(doc ids, scores) of every live doc the query matches: float32
        for the segment path, float64 rounded to 6 decimals for the live
        path."""
        n = self.n
        view = self.live_view if live_path else self.seg
        sdl = view.sum_dl

        def idf(w):
            df = len(view.postings(w)[0])
            return math.log(1 + (n - df + 0.5) / (df + 0.5)) if live_path else idf32(df, n)

        if cls == "phrase":
            didx, freq = view.phrase_freq(words)
            if live_path:
                sc = bm25_f64(freq, view.dl[didx], sum(idf(w) for w in words), n, sdl)
            else:
                total_idf = np.float32(sum(float(idf(w)) for w in words))
                sc = bm25_f32(freq, view.dl[didx], total_idf, n, sdl)
            parts = [(didx, sc.astype(np.float64))]
            need = 1
        else:
            parts = []
            for w in words:
                didx, tf = view.postings(w)
                bm25 = bm25_f64 if live_path else bm25_f32
                parts.append((didx, bm25(tf, view.dl[didx], idf(w), n, sdl).astype(np.float64)))
            need = len(words) if cls == "and" else 1
        total = np.zeros(len(self.doc_id))
        hits = np.zeros(len(self.doc_id), np.int64)
        for didx, sc in parts:
            total[didx] += sc
            hits[didx] += 1
        m = (hits >= need) & self.live
        out = total[m]
        out = np.round(out, 6) if live_path else out.astype(np.float32).astype(np.float64)
        return self.doc_id[m], out

    def top_k(self, cls: str, words: Sequence[str], k: int, live_path: bool = False):
        docs, sc = self.scores(cls, words, live_path)
        order = np.lexsort((docs, -sc))[:k]
        return docs[order], sc[order]


# -- comparisons --------------------------------------------------------------

def check_top_k(label: str, got_docs: Sequence[int], got_scores: Sequence[float],
                exp_docs: np.ndarray, exp_scores: np.ndarray, k: int,
                tol: float = 0.0, dead: set = frozenset()) -> List[str]:
    """Errors (empty when correct) comparing an engine top-k with the
    expectation over ALL matching docs.  tol == 0: the list must equal the
    expected (score desc, doc id asc) list exactly.  tol > 0: scores match
    within tol, the list is ordered, and no doc scoring more than tol above
    the last returned score is missing (ties at the cut may be any of the
    tied docs)."""
    errs = []
    gd = [int(d) for d in got_docs]
    gs = [float(s) for s in got_scores]
    exp = dict(zip(exp_docs.tolist(), exp_scores.tolist()))
    want = min(k, len(exp))
    if len(gd) != want:
        errs.append(f"{label}: {len(gd)} hits, expected {want}")
    if len(set(gd)) != len(gd):
        errs.append(f"{label}: duplicate doc in result")
    for i, (d, s) in enumerate(zip(gd, gs)):
        if d in dead:
            errs.append(f"{label}: rank {i + 1} doc {d} is deleted")
        elif d not in exp:
            errs.append(f"{label}: rank {i + 1} doc {d} does not match")
        elif abs(exp[d] - s) > tol:
            errs.append(f"{label}: rank {i + 1} doc {d} score {s!r}, expected {exp[d]!r}")
        if i and (s > gs[i - 1] or (s == gs[i - 1] and d < gd[i - 1])):
            errs.append(f"{label}: rank {i + 1} out of order")
    order = np.lexsort((exp_docs, -exp_scores))
    if tol == 0.0:
        ed = exp_docs[order][:k].tolist()
        if not errs and gd != ed:
            errs.append(f"{label}: docs {gd}, expected {ed}")
    elif gs and len(gd) == want:
        cut = gs[-1]
        above = {int(d) for d, s in zip(exp_docs, exp_scores) if s > cut + tol}
        if not above <= set(gd):
            errs.append(f"{label}: missing docs {sorted(above - set(gd))[:5]}")
    return errs


def check_stats(label: str, snap: Snapshot, doc_count: int, sum_dl: int,
                term_stats: Dict[str, Tuple[int, int]], words: Sequence[str]) -> List[str]:
    """Collection and term statistics an engine reports against the truth:
    doc count, sum of field lengths, and (df, ttf) of each word."""
    errs = []
    if doc_count != snap.n:
        errs.append(f"{label}: doc count {doc_count}, expected {snap.n}")
    if sum_dl != snap.sum_dl:
        errs.append(f"{label}: sum of lengths {sum_dl}, expected {snap.sum_dl}")
    for w in sorted(set(words)):
        want = (snap.df(w), snap.ttf(w))
        got = tuple(term_stats.get(w, (0, 0)))
        if got != want:
            errs.append(f"{label}: stats of {w!r} {got}, expected {want}")
    return errs


def self_test() -> None:
    """The checker must reject a swapped rank, a wrong score, a wrong doc
    count and a deleted document in a result, on both score paths."""
    c = C.generate(seed=7, n_docs=400)
    truth = Truth()
    truth.add(c)
    snap = truth.snapshot()
    pool = C.query_pool(c, np.random.default_rng(7))
    for live in (False, True):
        tol = LIVE_TOL if live else 0.0
        for cls, words in pool:
            docs, sc = snap.top_k(cls, words, 10, live)
            ok = check_top_k("ok", docs, sc, *snap.scores(cls, words, live), 10, tol)
            assert not ok, ok
        cls, words = next(q for q in pool if q[0] == "term_head")
        docs, sc = snap.top_k(cls, words, 10, live)
        every = snap.scores(cls, words, live)
        i = next(j for j in range(len(sc) - 1) if sc[j] != sc[j + 1])
        sw = docs.copy()
        sw[[i, i + 1]] = sw[[i + 1, i]]
        assert check_top_k("swap", sw, sc, *every, 10, tol), "swapped rank accepted"
        bad = sc.copy()
        bad[3] = np.nextafter(np.float32(bad[3]), np.float32(0)) if not live else bad[3] - 1e-5
        assert check_top_k("score", docs, bad, *every, 10, tol), "wrong score accepted"
        gone = Truth()
        gone.add(c)
        gone.delete_keys([c_key for c_key, d in zip(truth.keys, truth.doc_id) if d == docs[0]])
        after = gone.snapshot()
        dead = set(gone.doc_id[~gone.live].tolist())
        assert check_top_k("dead", docs, sc, *after.scores(cls, words, live), 10, tol, dead), \
            "deleted doc accepted"
    words = [w for _, ws in pool for w in ws]
    stats = {w: (snap.df(w), snap.ttf(w)) for w in words}
    assert not check_stats("ok", snap, snap.n, snap.sum_dl, stats, words)
    assert check_stats("count", snap, snap.n + 1, snap.sum_dl, stats, words), "doc count accepted"
    assert check_stats("dl", snap, snap.n, snap.sum_dl - 1, stats, words), "length sum accepted"
    # byte4 round trip: exact below 24, order preserving, Lucene's table ends
    assert (byte4_to_int(int_to_byte4(np.arange(24))) == np.arange(24)).all()
    assert int(byte4_to_int(np.array([255]))[0]) == 2013265944
    assert (np.diff(LENGTH_TABLE) > 0).all()


if __name__ == "__main__":
    self_test()
    print("checker self-test passed")
