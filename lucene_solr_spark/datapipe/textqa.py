"""Text analysis for training-data curation: language ID, quality
scoring, token counting, document fingerprinting.

Everything is a pure-Catalyst expression pipeline (no UDF): these run
as map-only stages over the corpus scan, so they cost one pass at any
scale and pipeline into downstream filters for free.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from ..analysis import SPLIT_PATTERN, STOPWORDS
from .dedup import tokens_array

# tiny per-language stopword sets for the n-gram/stopword-ratio
# heuristic (the classic "profile" approach scaled down; real systems
# plug fasttext via a pandas UDF — same plumbing, different scorer)
LANG_MARKERS = {
    "en": STOPWORDS,
    "es": ("el", "la", "los", "las", "de", "que", "y", "en", "un", "una", "es", "por"),
    "de": ("der", "die", "das", "und", "ist", "nicht", "ein", "eine", "mit", "von", "zu"),
    "fr": ("le", "la", "les", "de", "et", "est", "un", "une", "dans", "pour", "que", "qui"),
}


def _marker_ratio(toks: Column, markers) -> Column:
    n = F.size(toks)
    hits = F.size(F.filter(toks, lambda x: x.isin(*markers)))
    return F.when(n > 0, hits.cast("double") / n.cast("double")).otherwise(F.lit(0.0))


def language_id(df: DataFrame, text_col: str = "text",
                id_col: str = "doc_id") -> DataFrame:
    """(doc_id, pred_lang, en_ratio): argmax of per-language stopword
    hit ratios; 'und' (undetermined) when no profile clears 5%.
    Deterministic int/int ratios; ties break by profile order."""
    toks = tokens_array(F.col(text_col))
    out = df.select(F.col(id_col).alias("doc_id"), toks.alias("toks"))
    for lang, markers in LANG_MARKERS.items():
        out = out.withColumn(f"r_{lang}", _marker_ratio(F.col("toks"), markers))
    best = F.lit("und")
    best_r = F.lit(0.05)
    for lang in LANG_MARKERS:  # later profiles win only strictly-greater
        cond = F.col(f"r_{lang}") > best_r
        best = F.when(cond, F.lit(lang)).otherwise(best)
        best_r = F.when(cond, F.col(f"r_{lang}")).otherwise(best_r)
    return out.select(
        "doc_id", best.alias("pred_lang"),
        F.round(F.col("r_en"), 6).alias("en_ratio"),
    )


def quality_score(df: DataFrame, text_col: str = "text",
                  id_col: str = "doc_id") -> DataFrame:
    """(doc_id, n_chars, n_tokens, stop_ratio, alnum_ratio, quality):
    length/stopword/character-class heuristics; quality in [0,1] =
    min(1, n_tokens/64) * (1 - |stop_ratio - 0.4|). All ratios are
    int/int doubles — bit-deterministic."""
    # tokenize ONCE into a column: computing every ratio straight off
    # tokens_array(text) in one select inlines the tokenizer into each
    # of its six references (Catalyst only CSEs behind a projection
    # boundary kept by CollapseProject's used-more-than-once rule)
    tok_df = df.select(F.col(id_col).alias("doc_id"),
                       F.col(text_col).alias("_text"),
                       tokens_array(F.col(text_col)).alias("_toks"))
    toks = F.col("_toks")
    n_chars = F.length(F.col("_text"))
    n_alnum = F.length(F.regexp_replace(F.lower(F.col("_text")), "[^a-z0-9]", ""))
    n_tokens = F.size(toks)
    stop_hits = F.size(F.filter(toks, lambda x: x.isin(*STOPWORDS)))
    stop_ratio = F.when(n_tokens > 0, stop_hits.cast("double") / n_tokens.cast("double")).otherwise(F.lit(0.0))
    alnum_ratio = F.when(n_chars > 0, n_alnum.cast("double") / n_chars.cast("double")).otherwise(F.lit(0.0))
    quality = F.least(F.lit(1.0), n_tokens.cast("double") / F.lit(64.0)) * (
        F.lit(1.0) - F.abs(stop_ratio - F.lit(0.4))
    )
    return tok_df.select(
        "doc_id",
        n_chars.cast("long").alias("n_chars"),
        n_tokens.cast("long").alias("n_tokens"),
        F.round(stop_ratio, 6).alias("stop_ratio"),
        F.round(alnum_ratio, 6).alias("alnum_ratio"),
        F.round(quality, 6).alias("quality"),
    )


def token_counts(df: DataFrame, group_col: str = "source",
                 text_col: str = "text") -> DataFrame:
    """Per-group corpus accounting: docs, whitespace tokens, analyzer
    tokens, BPE-ish subword estimate (ceil(chars/4) per word token —
    the standard chars/4 rule of thumb), total chars. Integer sums —
    exact at any scale (one partial+final agg)."""
    # analyzer tokens materialized once (used by an_tokens AND the
    # bpe fold — inline, the tokenizer would run twice per row)
    tok_df = df.select(F.col(group_col).alias("grp"),
                       F.col(text_col).alias("_text"),
                       tokens_array(F.col(text_col)).alias("_toks"))
    ws_tokens = F.size(F.filter(F.split(F.col("_text"), "\\s+"), lambda x: x != F.lit("")))
    an_tokens = F.size(F.col("_toks"))
    bpe_est = F.aggregate(
        F.col("_toks"),
        F.lit(0).cast("bigint"),
        lambda acc, t: acc + F.ceil(F.length(t).cast("double") / F.lit(4.0)).cast("bigint"),
    )
    return (
        tok_df.select(
            "grp",
            ws_tokens.alias("ws"), an_tokens.alias("an"),
            bpe_est.alias("bpe"), F.length(F.col("_text")).alias("ch"),
        )
        .groupBy("grp")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("ws").alias("ws_tokens"),
            F.sum("an").alias("analyzer_tokens"),
            F.sum("bpe").alias("bpe_tokens_est"),
            F.sum("ch").alias("total_chars"),
        )
    )


def repetition_stats(df: DataFrame, text_col: str = "text",
                     id_col: str = "doc_id",
                     line_tokens: int = 6) -> DataFrame:
    """Gopher/C4-style repetition signals, pure Catalyst (no UDF, no
    shuffle — map-only over the corpus scan).

    The reference pipelines (Gopher §A.1.1, C4 §2.2 heuristics) count
    duplicate lines and repeated n-grams per document with a per-doc
    hash map; here every signal is an O(n log n) array expression
    inside whole-stage codegen:

      * lines are fixed `line_tokens`-token chunks (the synthetic
        corpus has no newlines; a real corpus would split on '\\n' —
        same expressions either way);
      * dup_line_frac      = 1 - distinct_lines / lines  (excess copies);
      * dup_line_char_frac = excess-copy chars / total line chars;
      * bigram_dup_frac / trigram_dup_frac = 1 - distinct/total n-grams;
      * mean_word_len, plus a combined `gopher_keep` flag with
        Gopher-inspired thresholds (50..100k tokens, mean word length
        3..10, dup_line_frac < 0.3, bigram_dup_frac < 0.6 — the last
        loosened for the tiny-vocabulary synthetic corpus).

    All ratios are int/int doubles rounded to 6 — bit-deterministic and
    replayable in DuckDB SQL.

    The token array is materialized into a column BEFORE any
    per-element lambda touches it: an expression referenced inside a
    higher-order-function lambda is re-evaluated per element (Catalyst
    does not CSE across lambda scopes), so building n-grams straight
    off tokens_array(text) re-tokenizes the document once per
    position — measured 20x slower on the 60-token bench docs.
    """
    tok_df = df.select(F.col(id_col).alias("doc_id"),
                       tokens_array(F.col(text_col)).alias("t"))
    toks = F.col("t")
    n = F.size(toks)

    def ngrams(k: int):
        return F.when(
            n >= k,
            F.transform(
                F.sequence(F.lit(1), n - (k - 1)),
                lambda i: F.array_join(F.slice(toks, i, k), " "),
            ),
        ).otherwise(F.array().cast("array<string>"))

    lines = F.when(
        n > 0,
        F.transform(
            F.sequence(F.lit(0), F.floor((n - 1) / F.lit(line_tokens)).cast("int")),
            lambda i: F.array_join(
                F.slice(toks, i * line_tokens + 1, line_tokens), " "),
        ),
    ).otherwise(F.array().cast("array<string>"))

    def chars(arr):
        return F.aggregate(arr, F.lit(0).cast("bigint"),
                           lambda acc, x: acc + F.length(x))

    def dup_frac(total, distinct):
        return F.when(total > 0,
                      (total - distinct).cast("double") / total.cast("double")
                      ).otherwise(F.lit(0.0))

    base = tok_df.select("doc_id", toks.alias("t"),
                         lines.alias("lines"), ngrams(2).alias("bg"),
                         ngrams(3).alias("tg"))
    n2 = F.size(F.col("t"))
    line_chars = chars(F.col("lines"))
    dline_chars = chars(F.array_distinct(F.col("lines")))
    mean_wl = F.when(n2 > 0,
                     chars(F.col("t")).cast("double") / n2.cast("double")
                     ).otherwise(F.lit(0.0))
    dup_line = dup_frac(F.size(F.col("lines")),
                        F.size(F.array_distinct(F.col("lines"))))
    dup_bg = dup_frac(F.size(F.col("bg")),
                      F.size(F.array_distinct(F.col("bg"))))
    dup_tg = dup_frac(F.size(F.col("tg")),
                      F.size(F.array_distinct(F.col("tg"))))
    dup_line_chars = F.when(
        line_chars > 0,
        (line_chars - dline_chars).cast("double") / line_chars.cast("double"),
    ).otherwise(F.lit(0.0))
    keep = ((n2 >= 50) & (n2 <= 100000)
            & (mean_wl >= 3.0) & (mean_wl <= 10.0)
            & (dup_line < 0.30) & (dup_bg < 0.60))
    return base.select(
        "doc_id",
        n2.cast("long").alias("n_tokens"),
        F.size(F.col("lines")).cast("long").alias("n_lines"),
        F.round(dup_line, 6).alias("dup_line_frac"),
        F.round(dup_line_chars, 6).alias("dup_line_char_frac"),
        F.round(dup_bg, 6).alias("bigram_dup_frac"),
        F.round(dup_tg, 6).alias("trigram_dup_frac"),
        F.round(mean_wl, 6).alias("mean_word_len"),
        keep.cast("int").alias("gopher_keep"),
    )


# PII patterns: RE2-safe (no backreferences/lookaround) so the exact
# same pattern runs in Spark (Java regex) and DuckDB (RE2) — leftmost
# non-overlapping match semantics agree between the engines.
PII_EMAIL_RE = r"[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}"
PII_IP_RE = r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b"
PII_PHONE_RE = r"\b[0-9]{3}-[0-9]{4}\b"


def pii_scrub(df: DataFrame, text_col: str = "text",
              id_col: str = "doc_id") -> DataFrame:
    """(doc_id, n_emails, n_ips, n_phones, redacted_fp): count and
    redact email / IPv4 / phone-shaped PII, map-only (regexp_count +
    chained regexp_replace inside codegen — one corpus pass at any
    scale). Redaction order is fixed (emails, then IPs, then phones)
    so the count/replace passes are deterministic; redacted_fp is the
    md5 of the scrubbed text (the scrubbed corpus itself would be the
    sink column in production).

    Each class is counted on the PROGRESSIVELY redacted text (emails
    on raw, IPs on email-redacted, phones on email+IP-redacted),
    mirroring the replace chain exactly — so the counts always equal
    the number of replacements the redaction performed, even when
    patterns overlap (an IP-shaped substring inside an email domain is
    consumed by the email pass and correctly not counted as an IP)."""
    t = F.col(text_col)
    red_e = F.regexp_replace(t, PII_EMAIL_RE, "<EMAIL>")
    red_ei = F.regexp_replace(red_e, PII_IP_RE, "<IP>")
    red = F.regexp_replace(red_ei, PII_PHONE_RE, "<PHONE>")
    return df.select(
        F.col(id_col).alias("doc_id"),
        F.regexp_count(t, F.lit(PII_EMAIL_RE)).cast("long").alias("n_emails"),
        F.regexp_count(
            F.regexp_replace(t, PII_EMAIL_RE, "<EMAIL>"),
            F.lit(PII_IP_RE)).cast("long").alias("n_ips"),
        F.regexp_count(
            F.regexp_replace(F.regexp_replace(t, PII_EMAIL_RE, "<EMAIL>"),
                             PII_IP_RE, "<IP>"),
            F.lit(PII_PHONE_RE)).cast("long").alias("n_phones"),
        F.md5(red).alias("redacted_fp"),
    )


def decontaminate(train: DataFrame, eval_df: DataFrame,
                  text_col: str = "text", id_col: str = "doc_id",
                  k: int = 8) -> DataFrame:
    """Eval-set decontamination: for every training doc sharing at
    least one distinct k-token shingle with ANY eval doc, report
    (doc_id, n_shingles, n_contaminated, contamination).

    The scale shape is the one production decontamination uses: the
    eval side is small by construction (benchmarks are thousands of
    docs, not billions), so its distinct shingle set is broadcast and
    the training corpus is scanned map-side — no shuffle of training
    shingles, cost is one corpus pass + a per-doc hash-set probe. The
    per-doc aggregation groups on doc_id with map-side partial
    aggregation (shingles of one doc are in one partition already)."""
    def shingles(df: DataFrame):
        # materialize tokens first: a lambda-captured expression is
        # re-evaluated per element (no CSE across lambda scopes), so
        # slicing tokens_array(text) directly re-tokenizes per position
        tok_df = df.select(F.col(id_col).alias("doc_id"),
                           tokens_array(F.col(text_col)).alias("t"))
        toks = F.col("t")
        sh = F.when(
            F.size(toks) >= k,
            F.array_distinct(F.transform(
                F.sequence(F.lit(1), F.size(toks) - (k - 1)),
                lambda i: F.array_join(F.slice(toks, i, k), " "),
            )),
        ).otherwise(F.array().cast("array<string>"))
        return tok_df.select("doc_id", sh.alias("sh"))

    # explode_outer + post-filter, NOT plain explode: for an inner
    # generate the optimizer infers `size(sh) > 0` and pushes it below
    # the projections, inlining the whole tokenize+shingle expression
    # into a per-row Filter that re-evaluates it several times —
    # measured 15x slower. The outer generate keeps the plan clean and
    # the null rows (empty shingle arrays) drop on the cheap generated
    # column.
    ev = (shingles(eval_df)
          .select(F.explode_outer("sh").alias("s"))
          .where(F.col("s").isNotNull()).distinct())
    tr = (shingles(train)
          .select("doc_id", F.size("sh").alias("n_shingles"),
                  F.explode_outer("sh").alias("s"))
          .where(F.col("s").isNotNull()))
    hits = (tr.join(F.broadcast(ev), "s")
            .groupBy("doc_id", "n_shingles")
            .agg(F.count(F.lit(1)).alias("n_contaminated")))
    return hits.select(
        "doc_id", F.col("n_shingles").cast("long").alias("n_shingles"),
        F.col("n_contaminated").cast("long").alias("n_contaminated"),
        F.round(F.col("n_contaminated").cast("double")
                / F.col("n_shingles").cast("double"), 6).alias("contamination"),
    )


def fingerprint(df: DataFrame, text_col: str = "text",
                id_col: str = "doc_id") -> DataFrame:
    """(doc_id, fp): content fingerprint = md5 of the normalized text
    (lowercase, non-alnum runs collapsed to single spaces, trimmed) —
    robust to whitespace/punctuation-only edits. Map-only."""
    norm = F.trim(F.regexp_replace(F.lower(F.col(text_col)), "[^a-z0-9]+", " "))
    return df.select(F.col(id_col).alias("doc_id"), F.md5(norm).alias("fp"))
