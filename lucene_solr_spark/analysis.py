"""Analysis chains: tokenize -> lowercase -> stop, Spark-first.

The "standard" chain reproduces the reference's
StandardAnalyzer = StandardTokenizer (UAX#29 word break, maxTokenLength
255, over-long tokens skipped with position gap preserved) + LowerCase +
Stop(33 English words), per:
  - grammar: lucene/core/.../analysis/standard/StandardTokenizerImpl.jflex:103-262
  - skip semantics: lucene/core/.../analysis/standard/StandardTokenizer.java:143-166
  - stop set + chain order: lucene/core/.../analysis/standard/StandardAnalyzer.java:49-55,112-126
  - StopFilter preserves position increments: lucene/core/.../analysis/StopFilter.java:28

The tokenizer is a regex equivalent of the JFlex grammar restricted to
the word-break classes that occur in source-code corpora (ALetter /
Numeric / ExtendNumLet `_` / MidLetter-MidNumLet-SingleQuote between
letters / MidNum-MidNumLet between digits). Validated against the
FIXTURES.md golden cases mirrored from TestStandardAnalyzer.java.

The "simple" chain (lowercase + split on [^a-z0-9]+) exists so the
driver's DuckDB oracle can replicate tokenization in pure SQL; the
engine treats analyzers as pluggable, like Lucene's Analyzer SPI.

Everything is exposed both as plain-Python (for the pandas oracle) and
as Arrow-batched pandas UDF factories (no per-row Python at the Spark
row level).
"""

from __future__ import annotations

import re
from typing import List, Tuple

import pandas as pd

MAX_TOKEN_LENGTH = 255  # StandardAnalyzer.DEFAULT_MAX_TOKEN_LENGTH

# 33-word English stop set (StandardAnalyzer.java:49-55).
ENGLISH_STOP_WORDS = frozenset(
    """a an and are as at be but by for if in into is it no not of on or
    such that the their then there these they this to was will with""".split()
)

# UAX#29 word token, restricted:
#   \w+ runs (ALetter|Numeric|ExtendNumLet get glued by WB5/8/9/10/13a/b),
#   joined across single MidLetter/MidNumLet/SingleQuote between letters
#   (WB6/7) or MidNum/MidNumLet/SingleQuote between digits (WB11/12).
_TOKEN_RE = re.compile(
    r"\w+"
    r"(?:"
    r"(?<=[^\W\d_])['.’·](?=[^\W\d_])\w+"  # letter (MidLetter|MidNumLet|') letter
    r"|"
    r"(?<=\d)[.,;'](?=\d)\w+"  # digit (MidNum|MidNumLet|') digit
    r")*",
    re.UNICODE,
)


def tokenize(text: str, max_token_length: int = MAX_TOKEN_LENGTH) -> List[Tuple[str, int]]:
    """UAX#29-style tokenize -> [(raw_token, position)].

    Tokens longer than max_token_length are skipped but their position
    increment is preserved (StandardTokenizer.java:154-166), so the next
    emitted token's position reflects the gap.
    """
    out: List[Tuple[str, int]] = []
    pos = -1
    for m in _TOKEN_RE.finditer(text):
        pos += 1  # every scanned token advances the position counter
        tok = m.group(0)
        if len(tok) <= max_token_length:
            out.append((tok, pos))
    return out


def standard_analyze(text: str) -> List[Tuple[str, int]]:
    """tokenize -> lowercase -> stop; returns [(term, position)].

    Positions keep gaps where stopwords (and over-long tokens) were
    removed — load-bearing for phrase queries and for the BM25 field
    length, which counts tokens EMITTED AFTER the stop filter
    (DefaultIndexingChain.java:816-829).
    """
    out: List[Tuple[str, int]] = []
    for tok, pos in tokenize(text):
        low = tok.lower()
        if low not in ENGLISH_STOP_WORDS:
            out.append((low, pos))
    return out


def invert_tokens(text: str):
    """Chamber-optimized standard chain: returns (per_term positions
    dict, field_length) in one pass.

    Semantically identical to grouping standard_analyze(text) by term:
    the whole text is lowercased ONCE (C-speed) before tokenizing,
    which is safe whenever lower() preserves string length — then token
    boundaries are unchanged (lowercasing maps word chars to word
    chars) and per-token lower() equals slicing the lowered text. The
    rare length-changing cases (e.g. U+0130) fall back to the
    tokenize-then-lower reference path.
    """
    low = text.lower()
    if len(low) != len(text):
        per: dict = {}
        toks = standard_analyze(text)
        for t, p in toks:
            lst = per.get(t)
            if lst is None:
                per[t] = lst = []
            lst.append(p)
        return per, len(toks)
    per = {}
    stop = ENGLISH_STOP_WORDS
    pos = -1
    length = 0
    for m in _TOKEN_RE.finditer(low):
        pos += 1
        tok = m.group(0)
        if len(tok) > MAX_TOKEN_LENGTH or tok in stop:
            continue
        lst = per.get(tok)
        if lst is None:
            per[tok] = lst = []
        lst.append(pos)
        length += 1
    return per, length


def standard_field_length(text: str) -> int:
    """BM25 field length = #tokens emitted after StopFilter (no overlaps
    in this chain, so numOverlap == 0)."""
    return len(standard_analyze(text))


# The simple chain, defined once for every engine that runs it: Python
# (below), Catalyst (datapipe/) and the DuckDB oracles (entry_queries)
SPLIT_PATTERN = "[^a-z0-9]+"
# deterministic ordering for SQL IN-list reproducibility
STOPWORDS: Tuple[str, ...] = tuple(sorted(ENGLISH_STOP_WORDS))

_SIMPLE_SPLIT_RE = re.compile(SPLIT_PATTERN)
# findall-form of the simple chain (identical token stream: the nonempty
# runs the split produces) — used by the vectorized chamber path
_SIMPLE_TOKEN_RE = re.compile(r"[a-z0-9]+")


def simple_analyze(text: str, stop: bool = False) -> List[str]:
    """Lowercase + split on [^a-z0-9]+ (SQL-replicable analyzer)."""
    toks = [t for t in _SIMPLE_SPLIT_RE.split(text.lower()) if t]
    if stop:
        toks = [t for t in toks if t not in ENGLISH_STOP_WORDS]
    return toks


# WordDelimiterGraphFilter analog (generateWordParts + splitOnCaseChange
# + splitOnNumerics, catenate off, preserveOriginal off — the source-code
# identifier chain: camelCase / ACRONYMWord / letter<->digit boundaries
# become token splits, then lowercase + delimiter split). Expressed as
# boundary-marking substitutions so the IDENTICAL chain runs as Spark
# regexp_replace (backref $n) and DuckDB regexp_replace (backref \n) —
# no lookaheads, RE2-safe. Reference semantics:
# lucene/analysis/common/src/java/org/apache/lucene/analysis/
# miscellaneous/WordDelimiterGraphFilter.java:63-88 (rule table),
# WordDelimiterIterator.java (case/numeric transition splits).
WORD_DELIMITER_BOUNDARIES: List[Tuple[str, str]] = [
    (r"([a-z])([A-Z])", " "),        # camelCase       -> camel Case
    (r"([A-Z])([A-Z][a-z])", " "),   # HTTPServer      -> HTTP Server
    (r"([a-zA-Z])([0-9])", " "),     # ident123 / SD500 -> ident 123
    (r"([0-9])([a-zA-Z])", " "),     # j2se            -> j 2 se
]
_WDF_SUBS = [(re.compile(p), r"\1 \2") for p, _ in WORD_DELIMITER_BOUNDARIES]


def word_delimiter_analyze(text: str) -> List[str]:
    """Split source-code identifiers at case/digit transitions, then
    run the simple chain (lowercase + [^a-z0-9]+ split, no stops)."""
    for pat, rep in _WDF_SUBS:
        text = pat.sub(rep, text)
    return simple_analyze(text, stop=False)


# CJKAnalyzer analog (lucene/analysis/common/src/java/org/apache/lucene/
# analysis/cjk/CJKAnalyzer.java:35-63 chain: StandardTokenizer ->
# CJKWidthFilter -> LowerCase -> CJKBigramFilter -> Stop).
# CJKBigramFilter.java:40-66: adjacent CJK characters (Han, Hiragana,
# Katakana, Hangul — all four flags on by default) pair into overlapping
# bigrams; a CJK character with no CJK neighbor is emitted as a unigram;
# non-CJK text passes through the standard chain untouched. Each bigram
# consumes one position (outputUnigrams=false), so a run of n chars
# yields n-1 consecutive positions.
_CJK_RANGES = (
    "ᄀ-ᇿ"   # Hangul Jamo
    "぀-ゟ"   # Hiragana
    "゠-ヿ"   # Katakana
    "㐀-䶿"   # CJK ext A
    "一-鿿"   # CJK unified
    "가-힯"   # Hangul syllables
    "豈-﫿"   # CJK compat ideographs
    "ｦ-ﾟ"    # halfwidth katakana (NFKC-folded to fullwidth below)
)
_CJK_RUN_RE = re.compile(f"[{_CJK_RANGES}]+")
_CJK_CHAR_RE = re.compile(f"[{_CJK_RANGES}]")


def cjk_bigram_analyze(text: str) -> List[str]:
    """CJK runs -> overlapping character bigrams (lone char -> unigram);
    non-CJK segments -> lowercase simple chain. Width folding
    (CJKWidthFilter) is approximated by NFKC on the CJK runs."""
    import unicodedata

    out: List[str] = []
    last = 0
    for m in _CJK_RUN_RE.finditer(text):
        out.extend(simple_analyze(text[last:m.start()], stop=False))
        run = unicodedata.normalize("NFKC", m.group())
        if len(run) == 1:
            out.append(run)
        else:
            out.extend(run[i:i + 2] for i in range(len(run) - 1))
        last = m.end()
    out.extend(simple_analyze(text[last:], stop=False))
    return out


# ---------------------------------------------------------------------------
# Per-field analyzer registry (analysis/common analog, SURVEY §2.2):
# every analyzer returns ({term: [positions]}, field_length) — the
# contract the DWPT chamber inverts from.
# ---------------------------------------------------------------------------

def _positions_of(toks: List[str]):
    per: dict = {}
    for i, t in enumerate(toks):
        lst = per.get(t)
        if lst is None:
            per[t] = lst = []
        lst.append(i)
    return per, len(toks)


def analyze_field(text: str, analyzer: str):
    """Invert one field value under a named analyzer.

    standard     — UAX#29-ish tokenizer + lowercase + 33-word stop set
                   with position gaps (StandardAnalyzer)
    simple       — lowercase, split [^a-z0-9]+ (SQL-replicable)
    simple_stop  — simple + stop set, positions compacted
    whitespace   — split on whitespace, case preserved
                   (WhitespaceAnalyzer)
    keyword      — the whole value as ONE token, case preserved
                   (KeywordAnalyzer — untokenized identifiers/enums)
    shingle      — word bigrams over simple tokens, space-joined
                   (ShingleFilter, outputUnigrams=false)
    word_delimiter — camelCase/ACRONYM/letter<->digit identifier
                   splitting + simple chain (WordDelimiterGraphFilter,
                   the source-code field analyzer)
    cjk_bigram   — CJKAnalyzer chain: CJK runs as overlapping character
                   bigrams (lone CJK char as unigram), non-CJK text
                   through the simple chain (CJKAnalyzer.java:35-63,
                   CJKBigramFilter.java:40-66)
    porter       — simple chain + Porter stem per token (PorterStemFilter
                   over the SQL-replicable tokenizer; the oracle replays
                   the stem as an embedded mapping join)
    english      — EnglishAnalyzer: standard chain + possessive-'s strip
                   + Porter stem on non-stop tokens, position gaps
                   preserved (EnglishAnalyzer.java:110-119)
    german_light / french_light / spanish_light / italian_light /
    portuguese_light / swedish_light / russian_light / english_minimal
                 — Unicode standard tokenizer + lowercase + the
                   published UniNE/CLEF light stemmer (Savoy; the
                   reference's per-language Analyzer chains with the
                   language stop list omitted — the snowball stop
                   lists are data files out of scope; stemming is the
                   semantic core). Every stemmer is validated against
                   the reference's full vocabulary test files (231k
                   pairs across 7 languages, all green). Stemming runs
                   at dictionary level on the vectorized build path.
    """
    text = text or ""
    if analyzer == "standard":
        return invert_tokens(text)
    if analyzer == "simple":
        return _positions_of(simple_analyze(text, stop=False))
    if analyzer == "simple_stop":
        return _positions_of(simple_analyze(text, stop=True))
    if analyzer == "whitespace":
        return _positions_of(text.split())
    if analyzer == "keyword":
        return ({text: [0]}, 1) if text else ({}, 0)
    if analyzer == "shingle":
        toks = simple_analyze(text, stop=False)
        return _positions_of(
            [f"{a} {b}" for a, b in zip(toks, toks[1:])]
        )
    if analyzer == "word_delimiter":
        return _positions_of(word_delimiter_analyze(text))
    if analyzer == "cjk_bigram":
        return _positions_of(cjk_bigram_analyze(text))
    if analyzer == "porter":
        from .stem import porter_stem

        return _positions_of(
            [porter_stem(t) for t in simple_analyze(text, stop=False)]
        )
    if analyzer == "english":
        # EnglishAnalyzer (EnglishAnalyzer.java:110-119): StandardTokenizer
        # -> EnglishPossessiveFilter -> LowerCase -> Stop -> PorterStem.
        # Possessive strip runs pre-lowercase in the reference; tokenize()
        # keeps 's attached via the MidLetter rule, so strip it here and
        # reuse the standard chain's stop/gap semantics on the result.
        from .stem import porter_stem, strip_possessive

        per: dict = {}
        length = 0
        for raw, pos in tokenize(text):
            t = strip_possessive(raw).lower()
            if not t or t in ENGLISH_STOP_WORDS:
                continue
            per.setdefault(porter_stem(t), []).append(pos)
            length += 1
        return per, length
    from .stem import LIGHT_STEMMERS

    if analyzer in LIGHT_STEMMERS:
        stemmer = LIGHT_STEMMERS[analyzer]
        per: dict = {}
        length = 0
        for raw, pos in tokenize(text):
            t = stemmer(raw.lower())
            per.setdefault(t, []).append(pos)
            length += 1
        return per, length
    if analyzer == "edge_ngram":
        # EdgeNGramTokenFilter(minGram=2, maxGram=5) over simple tokens:
        # all grams of a token share its position (overlap tokens), and
        # the BM25 field length counts source tokens only — Lucene's
        # posIncr==0 overlap discount (FieldInvertState.numOverlap).
        # Index-time edge n-grams turn prefix search into exact term
        # lookup (the autocomplete pattern, no wildcard expansion).
        toks = simple_analyze(text, stop=False)
        per: dict = {}
        for i, t in enumerate(toks):
            for gl in range(2, min(len(t), 5) + 1):
                g = t[:gl]
                lst = per.get(g)
                if lst is None:
                    per[g] = lst = []
                lst.append(i)
        return per, len(toks)
    raise ValueError(f"unknown analyzer: {analyzer}")


# ---------------------------------------------------------------------------
# Vectorized (per-Arrow-batch) tokenization for the DWPT chamber: the
# whole batch's token stream as flat numpy arrays — pandas str ops +
# numpy run bookkeeping, no per-token and no per-doc Python for the
# analyzers that admit it. Shared by the single-field AND multi-field
# build paths (indexing/builder.py).
# ---------------------------------------------------------------------------

_WS_TOKEN_RE = re.compile(r"\S+")

def vectorized_field_tokens(contents: "pd.Series", analyzer: str,
                            with_positions: bool, prefix: str = ""):
    """Tokenize a batch of field values under a named analyzer.

    Returns (flat_terms, doc_idx, positions, lengths, fallback):
      flat_terms  object ndarray of emitted terms (all docs concatenated)
      doc_idx     int64 ndarray: flat_terms[i] belongs to batch row
                  doc_idx[i]
      positions   int64 ndarray aligned with flat_terms (None when
                  with_positions=False) — per-field position stream,
                  gaps preserved for 'standard', compacted post-filter
                  for the simple chains
      lengths     int64 per-row field length (post-filter token count;
                  fallback rows come back 0 — the caller fills them)
      fallback    row indices the caller must invert per doc via
                  analyze_field (rare Unicode lower()-length changes
                  under 'standard'; every row for analyzers without a
                  vectorized form: shingle / edge_ngram /
                  word_delimiter)
    """
    import numpy as np

    ndocs = len(contents)
    if analyzer == "keyword":
        # whole value = one token, case preserved (KeywordAnalyzer)
        lens = contents.str.len().to_numpy()
        nonempty = np.flatnonzero(lens > 0).astype(np.int64)
        flat = contents.to_numpy(dtype=object)[nonempty]
        if prefix and len(flat):
            flat = (prefix + pd.Series(flat, dtype=object)).to_numpy()
        pos = np.zeros(len(nonempty), dtype=np.int64) if with_positions else None
        lengths = (lens > 0).astype(np.int64)
        return flat, nonempty, pos, lengths, []
    from .stem import LIGHT_STEMMERS

    light = analyzer in LIGHT_STEMMERS
    if analyzer not in ("standard", "simple", "simple_stop", "whitespace",
                        "porter", "english") and not light:
        return (
            np.empty(0, dtype=object), np.empty(0, dtype=np.int64),
            (np.empty(0, dtype=np.int64) if with_positions else None),
            np.zeros(ndocs, dtype=np.int64), list(range(ndocs)),
        )
    if analyzer in ("standard", "english") or light:
        # docs whose lower() changes string length (rare Unicode) fall
        # back to the reference per-doc path for parity; the light
        # chains share the standard Unicode tokenizer (no stop filter;
        # english strips possessives then stops/stems below)
        low = contents.str.lower()
        fb_mask = (low.str.len() != contents.str.len()).to_numpy()
        tok_lists = low.str.findall(_TOKEN_RE)
    elif analyzer == "whitespace":
        fb_mask = np.zeros(ndocs, dtype=bool)
        tok_lists = contents.str.findall(_WS_TOKEN_RE)
    else:
        low = contents.str.lower()
        fb_mask = np.zeros(ndocs, dtype=bool)
        tok_lists = low.str.findall(_SIMPLE_TOKEN_RE)
    counts = np.fromiter((len(x) for x in tok_lists), dtype=np.int64, count=ndocs)
    counts[fb_mask] = 0  # fallback docs handled separately
    total = int(counts.sum())
    flat = np.empty(total, dtype=object)
    k = 0
    for i, lst in enumerate(tok_lists):
        if fb_mask[i]:
            continue
        flat[k:k + len(lst)] = lst
        k += len(lst)
    docloc = np.repeat(np.arange(ndocs), counts)
    offs = np.cumsum(counts) - counts
    pre_pos = np.arange(total, dtype=np.int64) - np.repeat(offs, counts)
    tok_s = pd.Series(flat, dtype=object)
    if analyzer in ("standard", "simple_stop"):
        keep = ~tok_s.isin(ENGLISH_STOP_WORDS).to_numpy()
    else:
        keep = np.ones(total, dtype=bool)
    if (analyzer in ("standard", "english") or light) and total:
        keep &= (tok_s.str.len() <= MAX_TOKEN_LENGTH).to_numpy()
    if analyzer == "english" and total:
        # EnglishPossessiveFilter then stop/empty on the stripped form
        # (EnglishAnalyzer.java:110-119); maxlen above uses the RAW token
        tok_s = tok_s.str.replace(r"['\u2019\u02bc]s$", "", regex=True)
        keep &= (tok_s.str.len() > 0).to_numpy()
        keep &= ~tok_s.isin(ENGLISH_STOP_WORDS).to_numpy()
        flat = tok_s.to_numpy()
    kept_doc = docloc[keep].astype(np.int64)
    lengths = np.bincount(kept_doc, minlength=ndocs).astype(np.int64)
    pos = None
    if with_positions:
        if analyzer in ("standard", "english") or light:
            # pre-filter positions: stop/overlong leave gaps
            pos = pre_pos[keep]
        else:
            # simple chains: positions compacted POST-filter
            koffs = np.cumsum(lengths) - lengths
            pos = (np.arange(len(kept_doc), dtype=np.int64) - koffs[kept_doc])
    out_terms = flat[keep]
    if (analyzer in ("porter", "english") or light) and len(out_terms):
        # stem the batch's DISTINCT terms, then broadcast back — the
        # Python cost is O(|batch vocab|), not O(|token stream|)
        from .stem import LIGHT_STEMMERS, porter_stem

        stem = (porter_stem if analyzer in ("porter", "english")
                else LIGHT_STEMMERS[analyzer])
        uniq, inv = np.unique(out_terms.astype("U"), return_inverse=True)
        stemmed = np.array([stem(u) for u in uniq], dtype=object)
        out_terms = stemmed[inv]
    if prefix and len(out_terms):
        out_terms = (prefix + pd.Series(out_terms, dtype=object)).to_numpy()
    return out_terms, kept_doc, pos, lengths, list(np.flatnonzero(fb_mask))


# ---------------------------------------------------------------------------
# Arrow-batched Spark UDF factories (imported lazily so the pure-Python
# oracle never needs a JVM).
# ---------------------------------------------------------------------------

def analyze_batch(texts: pd.Series, analyzer: str) -> pd.Series:
    """Vectorized (per-Arrow-batch) analysis: Series[str] ->
    Series[list[dict(term,pos)]]."""
    if analyzer == "standard":
        return texts.map(
            lambda t: [{"term": w, "pos": p} for w, p in standard_analyze(t or "")]
        )
    if analyzer == "simple":
        return texts.map(
            lambda t: [
                {"term": w, "pos": p} for p, w in enumerate(simple_analyze(t or ""))
            ]
        )
    raise ValueError(f"unknown analyzer: {analyzer}")


def make_analyze_udf(analyzer: str = "standard"):
    """pandas_udf: content string -> array<struct<term:string,pos:int>>."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("array<struct<term:string,pos:int>>")
    def analyze_udf(texts: pd.Series) -> pd.Series:
        return analyze_batch(texts, analyzer)

    return analyze_udf
