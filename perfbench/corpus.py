"""Seeded generator of source-file documents that records their true tokens.

The documents follow the corpus rules of FIXTURES.md §1, the input shape
the engine indexes: a 2,000-term vocabulary (13 code keywords, the 33
English stop words, identifiers ``ident000``.., the numbers 100-149) drawn
by Zipf(s=1.1) in that rank order; log-normal lengths with median 120
tokens, capped at 4,000; lines of 3-8 words with mixed case (``Foo``,
``FOO``) and punctuation (``foo.bar(baz_qux);``, ``x = y;``); and a fixed
1 % of documents ending in one of the Unicode golden lines.

The two analyzers see different tokens, and the generator records both:

* the segment path (the standard tokenizer, UAX#29 word breaks) keeps
  ``a.b`` as one token when both sides of the dot are letters or both are
  digits (WB6/7, WB11/12) and always keeps ``a_b`` (WB13a/b); Armenian
  letters are word letters;
* the live path splits the lower-cased text on ``[^a-z0-9]+``, so every
  word is its own token and the Armenian words vanish.

Joined tokens get their own ids (from ``DOT`` and ``UNDER`` on).  Stop
words stay in both streams, with their positions; the checker drops them
itself (a gap on the segment path, compacted on the live path).

Nothing here imports the engine; the checker in ``checker.py`` works from
the ids recorded here.
"""

from __future__ import annotations

import hashlib
import os
from dataclasses import dataclass
from typing import List, Sequence

import numpy as np

# FIXTURES.md §1.1, written out here so that the checker does not depend on
# the engine's copy.
KEYWORDS = "def class import return if for while public static void function var const".split()
STOP_WORDS = (
    "a an and are as at be but by for if in into is it no not of on or such "
    "that the their then there these they this to was will with"
).split()
NUMBERS = [str(n) for n in range(100, 150)]
V = 2000                 # vocabulary size
_HEAD = KEYWORDS + [w for w in STOP_WORDS if w not in KEYWORDS]
# Zipf rank order: keywords, the other stop words, identifiers, numbers
BASE_WORDS = _HEAD + [f"ident{i:03d}" for i in range(V - len(_HEAD) - len(NUMBERS))] + NUMBERS
ZIPF_S = 1.1
LANGS = ("py", "java", "js", "go", "md")
LANG_P = (0.30, 0.25, 0.20, 0.15, 0.10)
GOLDEN_LINES = ("Վիքիպեդիայի 13 հոդված", "Testing 1234 B2B 2B")
GOLDEN_SEG = (("վիքիպեդիայի", "13", "հոդված"), ("testing", "1234", "b2b", "2b"))
GOLDEN_LIVE = (("13",), ("testing", "1234", "b2b", "2b"))

# term ids: the base words, the golden-line words, then every a.b and a_b
_EXTRA = list(dict.fromkeys(w for g in GOLDEN_SEG + GOLDEN_LIVE for w in g))
WORDS = BASE_WORDS + _EXTRA
DOT = len(WORDS)
UNDER = DOT + V * V
WORD_ID = {w: i for i, w in enumerate(WORDS)}
assert len(WORD_ID) == len(WORDS) and len(BASE_WORDS) == V
_STOP = np.array([w in set(STOP_WORDS) for w in WORDS])
_FIRST_DIGIT = np.array([w[0].isdigit() for w in BASE_WORDS])
_LAST_DIGIT = np.array([w[-1].isdigit() for w in BASE_WORDS])
_P = 1.0 / np.power(np.arange(1, V + 1), ZIPF_S)
_CDF = np.cumsum(_P / _P.sum())
_SEG_GOLD = [np.array([WORD_ID[w] for w in g], np.int32) for g in GOLDEN_SEG]
_LIVE_GOLD = [np.array([WORD_ID[w] for w in g], np.int32) for g in GOLDEN_LIVE]
# each word lower-case, Capitalised and UPPER; the analyzers lower-case
_VARIANTS = np.array([BASE_WORDS, [x.capitalize() for x in BASE_WORDS],
                      [x.upper() for x in BASE_WORDS]], dtype=object)
# separators after a word, then the same ones ending a document
_SEPS = [" ", "\n", ".", "(", "_", ");\n", " = ", ";\n"]
_SEPS = np.array(_SEPS + [x.replace("\n", "\0") if "\n" in x else x for x in _SEPS],
                 dtype=object)


def term(i: int) -> str:
    """The analyzed text of term id i."""
    i = int(i)
    if i < DOT:
        return WORDS[i]
    sep, i = (".", i - DOT) if i < UNDER else ("_", i - UNDER)
    return BASE_WORDS[i // V] + sep + BASE_WORDS[i % V]


def term_id(word: str) -> int:
    if word in WORD_ID:
        return WORD_ID[word]
    sep = "." if "." in word else "_"
    a, b = word.split(sep)
    return (DOT if sep == "." else UNDER) + WORD_ID[a] * V + WORD_ID[b]


def is_stop(ids: np.ndarray) -> np.ndarray:
    ids = np.asarray(ids)
    return (ids < DOT) & _STOP[np.minimum(ids, DOT - 1)]


@dataclass
class Corpus:
    """Documents in (repo, path) order with their recorded tokens.

    Document i has segment-path tokens seg_tok[seg_off[i]:seg_off[i+1]]
    at positions seg_pos[...] and live-path tokens
    live_tok[live_off[i]:live_off[i+1]] (stop words included in both)."""

    repo: List[str]
    path: List[str]
    commit: List[str]
    lang: List[str]
    content: List[str]
    seg_tok: np.ndarray
    seg_pos: np.ndarray
    seg_off: np.ndarray
    live_tok: np.ndarray
    live_off: np.ndarray

    def __len__(self) -> int:
        return len(self.repo)


def _offsets(lens: np.ndarray) -> np.ndarray:
    off = np.zeros(len(lens) + 1, dtype=np.int64)
    np.cumsum(lens, out=off[1:])
    return off


def _append_golden(tok: np.ndarray, off: np.ndarray, docs: Sequence[tuple],
                   gold: Sequence[np.ndarray]):
    """Insert golden-line tokens at the end of the given (document,
    golden line) pairs."""
    at = np.concatenate([np.full(len(gold[g]), off[d + 1]) for d, g in docs] or [[]])
    vals = np.concatenate([gold[g] for _, g in docs] or [[]])
    extra = np.zeros(len(off) - 1, np.int64)
    for d, g in docs:
        extra[d] = len(gold[g])
    return (np.insert(tok, at.astype(np.int64), vals.astype(np.int32)),
            _offsets(np.diff(off) + extra))


def generate(seed: int, n_docs: int, repo_base: int = 0,
             files_per_repo: int = 400, salt: str = "base") -> Corpus:
    """n_docs documents with keys repo{repo_base + i // files_per_repo} /
    src/d{dir}/f{i % files_per_repo}.ext, already in (repo, path) order.
    `salt` separates independent draws over the same keys (a replacement
    batch re-draws the content of existing keys)."""
    ss = np.random.SeedSequence([seed, int(hashlib.sha1(salt.encode()).hexdigest()[:8], 16)])
    rng = np.random.default_rng(ss)
    lens = np.clip(np.exp(rng.normal(np.log(120), 0.9, n_docs)), 1, 4000).astype(np.int64)
    off = _offsets(lens)
    w = np.minimum(np.searchsorted(_CDF, rng.random(int(off[-1])), side="right"),
                   V - 1).astype(np.int32)

    # lines of 3-8 words that never cross a document; a style per line
    m = (lens + 2) // 3
    ll = rng.integers(3, 9, int(m.sum()))
    style = rng.integers(0, 10, len(ll))
    first = _offsets(m)[:-1]
    cs = np.cumsum(ll)
    start = cs - ll - np.repeat(cs[first] - ll[first], m)
    line_doc = np.repeat(np.arange(n_docs), m)
    keep = start < lens[line_doc]
    ll = np.minimum(ll, lens[line_doc] - start)[keep]
    style = style[keep]
    line = np.repeat(np.arange(len(ll)), ll)
    at = np.arange(len(w)) - np.repeat(_offsets(ll)[:-1], ll)
    n_in = ll[line]
    st = style[line]
    last = at == n_in - 1
    call = (st == 2) & (n_in >= 3)      # a.b(c_d e ...);
    assign = (st == 3) & (n_in >= 2)    # a = b c ...;
    sep = np.where(last, 1, 0).astype(np.int8)         # index into _SEPS
    sep[call & (at == 0)] = 2
    sep[call & (at == 1)] = 3
    sep[call & (at == 2) & (n_in >= 4)] = 4
    sep[call & last] = 5
    sep[assign & (at == 0)] = 6
    sep[assign & last] = 7
    case = np.zeros(len(w), np.int64)
    case[(st == 0) & (n_in >= 2) & (at == 0)] = 1    # Capitalised
    case[(st == 1) & last] = 2                       # UPPER

    # segment-path tokens: a.b joins letter.letter and digit.digit, a_b always
    nxt = np.r_[w[1:], 0]
    dot = call & (at == 0) & (_LAST_DIGIT[w] == _FIRST_DIGIT[nxt])
    under = call & (at == 2) & (n_in >= 4)
    joined = dot | under
    head = ~np.r_[False, joined[:-1]]
    seg = np.where(dot, DOT + w.astype(np.int64) * V + nxt,
                   np.where(under, UNDER + w.astype(np.int64) * V + nxt, w))[head]
    seg_off = _offsets(np.add.reduceat(head.astype(np.int64), off[:-1]))

    gold = [(int(d), (int(d) // 100) % 2) for d in range(0, n_docs, 100)]
    seg_tok, seg_off = _append_golden(seg.astype(np.int32), seg_off, gold, _SEG_GOLD)
    live_tok, live_off = _append_golden(w, off, gold, _LIVE_GOLD)
    seg_pos = (np.arange(len(seg_tok)) - np.repeat(seg_off[:-1], np.diff(seg_off))
               ).astype(np.int32)

    # every line ends in a newline, a document does not: its last newline
    # becomes the separator of one long string
    sep[off[1:] - 1] += len(_SEPS) // 2
    pieces = np.empty(2 * len(w), dtype=object)
    pieces[0::2] = _VARIANTS[case, w]
    pieces[1::2] = _SEPS[sep]
    content = "".join(pieces.tolist()).split("\0")[:-1]
    for d, g in gold:
        content[d] += "\n" + GOLDEN_LINES[g]

    langs = rng.choice(len(LANGS), n_docs, p=LANG_P)
    repo, path, commit, lang = [], [], [], []
    for i in range(n_docs):
        r, f = divmod(i, files_per_repo)
        lg = LANGS[int(langs[i])]
        repo.append(f"repo{repo_base + r:04d}")
        path.append(f"src/d{f * 8 // files_per_repo}/f{f:06d}.{lg}")
        lang.append(lg)
        commit.append(hashlib.sha1(f"{salt}/{repo[-1]}/{path[-1]}".encode()).hexdigest())
    return Corpus(repo, path, commit, lang, content, seg_tok, seg_pos, seg_off,
                  live_tok, live_off)


def write_parquet(corpus: Corpus, out_dir: str, n_files: int,
                  doc_ids: np.ndarray | None = None) -> str:
    """Write the corpus as n_files parquet files in (repo, path) order
    (the sorted source table the build's zero-shuffle doc-id path reads).
    doc_ids adds a doc_id column (the live path's document key)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(out_dir, exist_ok=True)
    cols = {"repo": corpus.repo, "path": corpus.path, "commit": corpus.commit,
            "lang": corpus.lang, "content": corpus.content}
    if doc_ids is not None:
        cols = {"doc_id": np.asarray(doc_ids, dtype=np.int64), **cols}
    table = pa.table(cols)
    n = len(corpus)
    bounds = np.linspace(0, n, max(1, min(n_files, n)) + 1).astype(int)
    for j, (lo, hi) in enumerate(zip(bounds[:-1], bounds[1:])):
        pq.write_table(table.slice(lo, hi - lo), os.path.join(out_dir, f"part-{j:05d}.parquet"))
    return out_dir


QUERY_CLASSES = ("term_head", "term_tail", "and", "or", "phrase")


def doc_freqs(corpus: Corpus):
    """(term ids, df) of every non-stop segment-path term, ids ascending."""
    doc_of = np.repeat(np.arange(len(corpus), dtype=np.int64), np.diff(corpus.seg_off))
    keep = ~is_stop(corpus.seg_tok)
    pairs = np.unique(corpus.seg_tok[keep].astype(np.int64) * len(corpus) + doc_of[keep])
    return np.unique(pairs // len(corpus), return_counts=True)


def query_pool(corpus: Corpus, rng: np.random.Generator, per_class: int = 4):
    """per_class distinct queries of each class, as (class, words):

    term_head  one of the 8 non-stop words of highest df
    term_tail  half: one of the 50 vocabulary words of lowest df (at
               least 2); half: a joined token (a.b or a_b) with df in
               [N/2000, N/400] (at least 2 and 5), a term of the segment
               path only
    and        a head word AND a vocabulary tail word
    or         a head word OR two mid words (df in [N/50, N/10])
    phrase     one of the 20 most frequent pairs of two different adjacent
               non-stop vocabulary words
    """
    ids, df = doc_freqs(corpus)
    n = len(corpus)
    word = ids < V
    head = ids[word][np.argsort(-df[word], kind="stable")[:8]]
    mid = ids[word & (df >= n / 50) & (df <= n / 10)]
    low = word & (df >= 2)
    tail = ids[low][np.argsort(df[low], kind="stable")[:50]]
    joined = ids[(ids >= DOT) & (df >= max(2, n / 2000)) & (df <= max(5, n / 400))]
    # adjacent pairs on the segment path (stop words leave a gap)
    t, p = corpus.seg_tok.astype(np.int64), corpus.seg_pos
    adj = (p[1:] == p[:-1] + 1) & (t[:-1] < V) & (t[1:] < V) & (t[:-1] != t[1:]) \
        & ~is_stop(t[:-1]) & ~is_stop(t[1:])
    pairs, counts = np.unique(t[:-1][adj] * V + t[1:][adj], return_counts=True)
    top = pairs[np.argsort(-counts, kind="stable")[:20]]

    def draw(pool, k):
        return [term(i) for i in rng.choice(pool, k, replace=False)]

    half = per_class // 2
    out = [("term_head", (w,)) for w in draw(head, per_class)]
    out += [("term_tail", (w,)) for w in draw(tail, half) + draw(joined, per_class - half)]
    out += [("and", (a, b)) for a, b in zip(draw(head, per_class), draw(tail, per_class))]
    out += [("or", (a, *draw(mid, 2))) for a in draw(head, per_class)]
    out += [("phrase", (term(x // V), term(x % V))) for x in rng.choice(top, per_class,
                                                                       replace=False)]
    return out
