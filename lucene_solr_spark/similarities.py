"""Pluggable Similarity scoring expressions (SURVEY §2.6/§2.12).

One module owns the per-(tf, dl) scoring math for every similarity
family: the segment executor (search/executor.py, which the live
fulltext.py surface delegates to) applies these Column expressions over
block-decoded (doc_id, tf, dl) rows, and they agree bit-for-bit in
float64 with the DuckDB oracles.

This is the SimilarityBase.score(freq, norm) plug point
(similarities/SimilarityBase.java:71). Per-doc statistics
(tf, dl) arrive as Columns; collection statistics (N, avgdl, df, ttf)
arrive as driver-side scalars folded into literals — the
ExactStatsCache contract (stats are GLOBAL, never per-leaf).

Reference formulas (constants + op order restated, not translated):
  BM25          similarities/BM25Similarity.java:72-74 (idf), k1=1.2 b=0.75
  Classic       similarities/TFIDFSimilarity.java (sqrt tf, idf^2, 1/sqrt dl)
  LM Dirichlet  similarities/LMDirichletSimilarity.java:60-68 (mu=2000)
  LM JM         similarities/LMJelinekMercerSimilarity.java:55-60 (lambda=.7)
  DFR InL2      similarities/DFRSimilarity.java (BasicModelIn+AfterEffectL+H2)
  DFI chi^2     similarities/DFISimilarity.java:69-77 (IndependenceChiSquared)
  IB SPL        similarities/IBSimilarity.java:93-99 (SPL + LambdaDF + H2)
  Axiomatic     similarities/AxiomaticF2EXP.java:52-74 (s=.5, k=.35)
"""

from __future__ import annotations

import math

from pyspark.sql import Column, functions as F

K1 = 1.2
B = 0.75


def idf_bm25(df: int, doc_count: int) -> float:
    """ln(1 + (N - df + 0.5)/(df + 0.5)) — BM25Similarity.java:72-74."""
    return math.log(1.0 + (doc_count - df + 0.5) / (df + 0.5))


def bm25_norm(dl: Column, avgdl: float) -> Column:
    """BM25 length normalisation k1 * ((1 - b) + b * dl / avgdl)."""
    return F.lit(K1) * (F.lit(1.0 - B) + F.lit(B) * dl.cast("double") / F.lit(avgdl))


def bm25_score(tf: Column, dl: Column, *, idf: float, avgdl: float,
               boost: float = 1.0) -> Column:
    """float64 BM25; constants folded as literals so the whole
    expression stays inside WholeStageCodegen."""
    tf_d = tf.cast("double")
    return F.lit(boost * idf) * (tf_d * F.lit(K1 + 1.0)) / (tf_d + bm25_norm(dl, avgdl))


def classic_score(tf: Column, dl: Column, *, idf: float,
                  boost: float = 1.0) -> Column:
    """ClassicSimilarity: sqrt(tf) * idf^2 / sqrt(dl);
    idf = 1 + ln((docCount+1)/(df+1)) computed by the caller
    (ClassicSimilarity.idf, TFIDFSimilarity.java:72-75)."""
    return (
        F.lit(boost) * F.sqrt(tf.cast("double")) * F.lit(idf * idf)
        / F.sqrt(dl.cast("double"))
    )


def classic_idf(df: int, doc_count: int) -> float:
    """1 + ln((docCount+1)/(df+1)) — ClassicSimilarity.idf
    (TFIDFSimilarity/ClassicSimilarity.java:72-75)."""
    return 1.0 + math.log((doc_count + 1.0) / (df + 1.0)) if doc_count else 0.0


def collection_prob(ttf: int, total_tokens: int) -> float:
    """p(w|C) = (totalTermFreq+1)/(sumTotalTermFreq+1)
    (LMSimilarity.DefaultCollectionModel)."""
    return (ttf + 1.0) / (total_tokens + 1.0)


def lm_dirichlet_score(tf: Column, dl: Column, *, ttf: int,
                       total_tokens: int, mu: float = 2000.0) -> Column:
    """score = max(0, ln(1 + tf/(mu*p(w|C))) + ln(mu/(dl+mu)))."""
    p_c = collection_prob(ttf, total_tokens)
    tf_d = tf.cast("double")
    dl_d = dl.cast("double")
    return F.greatest(
        F.log(F.lit(1.0) + tf_d / F.lit(mu * p_c))
        + F.log(F.lit(mu) / (dl_d + F.lit(mu))),
        F.lit(0.0),
    )


def lm_jelinek_mercer_score(tf: Column, dl: Column, *, ttf: int,
                            total_tokens: int, lam: float = 0.7) -> Column:
    """score = ln(1 + ((1-lambda) * tf/dl) / (lambda * p(w|C)))."""
    p_c = collection_prob(ttf, total_tokens)
    tf_d = tf.cast("double")
    dl_d = dl.cast("double")
    return F.log(
        F.lit(1.0) + (F.lit(1.0 - lam) * tf_d / dl_d) / F.lit(lam * p_c)
    )


def _tfn_h2(tf: Column, dl: Column, avgdl: float, c: float) -> Column:
    """NormalizationH2: tfn = tf * log2(1 + c*avgdl/dl)."""
    ln2 = F.log(F.lit(2.0))
    return tf.cast("double") * (
        F.log(F.lit(1.0) + F.lit(c) * F.lit(avgdl) / dl.cast("double")) / ln2
    )


def dfr_inl2_score(tf: Column, dl: Column, *, df: int, doc_count: int,
                   avgdl: float, c: float = 1.0) -> Column:
    """DFR I(n)L2: tfn * log2((N+1)/(df+0.5)) / (tfn + 1)."""
    tfn = _tfn_h2(tf, dl, avgdl, c)
    gain = F.log(F.lit(float(doc_count + 1)) / F.lit(df + 0.5)) / F.log(F.lit(2.0))
    return tfn * gain / (tfn + F.lit(1.0))


def dfi_chi2_score(tf: Column, dl: Column, *, ttf: int,
                   total_tokens: int) -> tuple:
    """DFI chi-squared. Returns (score Column, keep predicate): docs at
    or below the independence expectation score 0 and are dropped by
    the caller (documented deviation: Lucene keeps them as 0-score
    hits, which never reach a top-k over positive-score docs)."""
    tf_d = tf.cast("double")
    dl_d = dl.cast("double")
    expected = F.lit(ttf + 1.0) * dl_d / F.lit(total_tokens + 1.0)
    chi2 = (tf_d - expected) * (tf_d - expected) / expected
    score = F.log(chi2 + F.lit(1.0)) / F.log(F.lit(2.0))
    return score, (tf_d > expected)


def ib_lambda_df(df: int, doc_count: int) -> float:
    """LambdaDF = (df+1)/(N+1), clamped to 0.99 when it reaches 1 (a
    term present in every doc) exactly like DistributionSPL guards
    lambda==1 — otherwise the SPL expression divides by zero."""
    lam = (df + 1.0) / (doc_count + 1.0)
    return 0.99 if lam >= 1.0 else lam


def ib_spl_score(tf: Column, dl: Column, *, df: int, doc_count: int,
                 avgdl: float, c: float = 1.0) -> Column:
    """IB SPL-D-H2: -ln((lam^(tfn/(tfn+1)) - lam) / (1 - lam)) with
    natural log, matching DistributionSPL's Math.log (the previous
    /ln2 normalization was a deviation from the reference and is
    removed); lam = LambdaDF clamped via ib_lambda_df."""
    lam = ib_lambda_df(df, doc_count)
    tfn = _tfn_h2(tf, dl, avgdl, c)
    return -F.log(
        (F.pow(F.lit(lam), tfn / (tfn + F.lit(1.0))) - F.lit(lam))
        / F.lit(1.0 - lam)
    )


def axiomatic_f2exp_score(tf: Column, dl: Column, *, df: int, doc_count: int,
                          avgdl: float, s: float = 0.5,
                          k: float = 0.35) -> Column:
    """F2EXP: tf/(tf + s + s*dl/avgdl) * ((N+1)/df)^k."""
    tf_d = tf.cast("double")
    dl_d = dl.cast("double")
    tfln = tf_d / (tf_d + F.lit(s) + F.lit(s) * dl_d / F.lit(avgdl))
    idf = F.pow(F.lit(float(doc_count + 1)) / F.lit(float(df)), F.lit(k))
    return tfln * idf
