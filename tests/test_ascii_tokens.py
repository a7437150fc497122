"""Parity of analysis.vectorized_field_tokens, the batch tokenizer every
build runs, with the per-doc analyze_field reference the oracle uses.

Checked on the MATERIALIZED per-doc (term, position) lists and field
lengths after resolving the vectorized path's fallback rows through
analyze_field — exactly how indexing/builder.py consumes the tuple —
over hand-picked edge cases, a generated corpus (with a field-key
prefix) and random ASCII soup.

Reference chains: StandardAnalyzer (StandardTokenizerImpl.jflex:103-262),
StopFilter.java:28 position-gap semantics.
"""

import numpy as np
import pandas as pd
import pytest

from lucene_solr_spark.analysis import analyze_field, vectorized_field_tokens
from lucene_solr_spark.corpus import gen_corpus_pdf

EDGE_CASES = [
    "Hello World, it's a test.1.2 a.b.c x..y 1,000,000 foo_bar",
    "",
    "a",
    ".",
    "a.",
    ".b",
    "trailing mid'",
    "UPPER lower MiXeD case123 _under_ score_",
    "x" * 300 + " ok " + "y" * 255,
    "1.2.3,4;5 a'b'c don't 'quoted'",
    "Ünïcode token ştr",
    "日本語のテキスト and english",
    "tab\tsep\nnewline  double  space",
    "edge. .edge a. b .c",
    "İstanbul",  # lower() length change: the pandas path's own fallback
    "a.b",
    "1'2",
    "end.",
    "such that the their then",  # all stopwords
    "john's car and JAMES'S dog",   # possessives (EnglishPossessiveFilter)
    "the boys' toys s' 's",
    "test’s xʼs unicode possessives",
]

ANALYZERS = ["standard", "simple", "simple_stop", "whitespace", "porter",
             "english", "english_minimal", "french_light"]


def materialize(contents: pd.Series, analyzer: str, prefix: str = ""):
    """Per-doc [(term, pos)] lists + field lengths with fallbacks
    resolved, mirroring builder.invert_field_column."""
    flat, doc_idx, pos, lengths, fb = vectorized_field_tokens(
        contents, analyzer, True, prefix)
    docs = [[] for _ in range(len(contents))]
    for t, d, p in zip(flat, doc_idx, pos):
        docs[int(d)].append((t, int(p)))
    out_len = list(lengths)
    for i in fb:
        per, ln = analyze_field(contents.iloc[i], analyzer)
        out_len[i] = ln
        docs[i] = sorted(
            [(prefix + t, p) for t, plist in per.items() for p in plist],
            key=lambda x: x[1])
    return [sorted(d, key=lambda x: (x[1], x[0])) for d in docs], out_len


def assert_matches_reference(contents: pd.Series, analyzer: str, prefix: str = ""):
    """The vectorized path equals the per-doc analyze_field inversion —
    the ground truth the oracle uses — doc by doc."""
    docs, lens = materialize(contents, analyzer, prefix)
    for i, text in enumerate(contents):
        per, length = analyze_field(text, analyzer)
        want = sorted(
            [(prefix + t, p) for t, plist in per.items() for p in plist],
            key=lambda x: (x[1], x[0]))
        assert docs[i] == want, (analyzer, i, text)
        assert lens[i] == length, (analyzer, i, text)


def _edge_cases() -> pd.Series:
    return pd.Series(EDGE_CASES, dtype=object).fillna("").astype(str)


@pytest.mark.parametrize("analyzer", ANALYZERS)
def test_edge_case_parity(analyzer):
    assert_matches_reference(_edge_cases(), analyzer)


@pytest.mark.parametrize("analyzer", ["standard", "simple_stop", "porter"])
def test_corpus_parity_with_prefix(analyzer):
    contents = gen_corpus_pdf(500)["content"].fillna("").astype(str)
    assert_matches_reference(contents, analyzer, prefix="f9:")


@pytest.mark.parametrize("analyzer", ["standard", "english", "porter"])
def test_vectorized_matches_per_doc_reference(analyzer):
    """A doc's tokens do not depend on its batch: each edge case alone,
    as a one-row batch, matches the reference too."""
    for text in EDGE_CASES:
        assert_matches_reference(pd.Series([text], dtype=object), analyzer)


def test_random_ascii_fuzz_parity():
    rng = np.random.default_rng(42)
    alphabet = list("ab1 2._,';\t\n") + ["'", "."]
    rows = ["".join(rng.choice(alphabet, size=rng.integers(0, 60)))
            for _ in range(300)]
    contents = pd.Series(rows, dtype=object)
    for analyzer in ("standard", "simple", "whitespace"):
        assert_matches_reference(contents, analyzer)
