"""TextLogitStream analog: distributed logistic-regression training
over term-frequency text features.

Reference: Solr's TextLogitStream
(solr/solrj/src/java/org/apache/solr/client/solrj/io/stream/
TextLogitStream.java) trains a logistic-regression classifier over
term features of a collection with iterative parallel gradient
computation (each shard computes partial gradients, the stream merges
them). The idiomatic Spark restatement: the doc-feature matrix is a
DataFrame built once (one tokenize + pivot, cached), each training
iteration is ONE distributed aggregation producing the full gradient
vector (map-side partial sums — exactly the shard-partial contract of
the reference), and the weight update runs driver-side on a vector of
|features| floats.

Scale notes (100 TB corpus): the per-iteration shuffle is a single
partial+final agg over one row per doc — no per-row Python, no
driver-side data beyond the gradient vector; feature extraction is
Catalyst (split/filter/size). Feature count is bounded (the reference
caps terms too); for 10^4+ features switch the agg to a vector-typed
Pandas UDF accumulator.
"""

from __future__ import annotations

import math
from typing import List, Optional, Sequence, Tuple

from pyspark.sql import DataFrame, functions as F

from ..analysis import SPLIT_PATTERN


def doc_features(df: DataFrame, feature_terms: Sequence[str],
                 label_expr, text_col: str = "text",
                 id_col: str = "doc_id") -> DataFrame:
    """(doc_id, label, x0..x{n-1}): x_i = tf of feature_terms[i],
    normalized by doc length (tf/dl keeps features in [0,1] so one
    learning rate fits all docs). One scan, no shuffle — each feature
    is a Catalyst size(filter(tokens)) expression."""
    toks = F.filter(
        F.split(F.lower(F.col(text_col)), SPLIT_PATTERN),
        lambda x: x != F.lit(""),
    )
    cols = [F.col(id_col).alias("doc_id"),
            label_expr.cast("double").alias("label"),
            F.greatest(F.size(toks), F.lit(1)).alias("_dl")]
    out = df.select(*cols, toks.alias("_toks"))

    def eq_lit(term: str):
        # single-arg lambda: a 2-arg lambda would be read by PySpark as
        # the (element, index) higher-order-function form
        return lambda x: x == F.lit(term)

    for i, t in enumerate(feature_terms):
        tf = F.size(F.filter(F.col("_toks"), eq_lit(t)))
        out = out.withColumn(f"x{i}", tf.cast("double") / F.col("_dl"))
    return out.drop("_toks", "_dl")


def logit_train(df: DataFrame, feature_terms: Sequence[str], label_expr,
                iterations: int = 10, lr: float = 2.0,
                text_col: str = "text", id_col: str = "doc_id",
                ) -> Tuple[List[float], float, List[float]]:
    """Batch gradient descent: returns (weights incl. bias as last
    element, final train log-loss, per-iteration log-loss history).

    Each iteration: margin = Σ w_i·x_i + b; p = sigmoid(margin);
    gradient_i = mean((p - y)·x_i); w -= lr·gradient — the standard
    full-batch update the reference's LogitCall computes per shard and
    sums. One aggregation job per iteration; the feature frame is
    cached so iterations re-scan memory, not the source."""
    n = len(feature_terms)
    feats = doc_features(df, feature_terms, label_expr, text_col, id_col)
    feats = feats.persist()
    try:
        w = [0.0] * n
        b = 0.0
        history: List[float] = []
        for _ in range(iterations):
            margin = F.lit(b)
            for i in range(n):
                margin = margin + F.lit(w[i]) * F.col(f"x{i}")
            p = F.lit(1.0) / (F.lit(1.0) + F.exp(-margin))
            err = p - F.col("label")
            aggs = [F.avg(err * F.col(f"x{i}")).alias(f"g{i}") for i in range(n)]
            aggs.append(F.avg(err).alias("gb"))
            eps = 1e-12
            loss = -(
                F.col("label") * F.log(p + F.lit(eps))
                + (F.lit(1.0) - F.col("label")) * F.log(F.lit(1.0) - p + F.lit(eps))
            )
            aggs.append(F.avg(loss).alias("loss"))
            row = feats.agg(*aggs).collect()[0]
            history.append(float(row["loss"]))
            for i in range(n):
                w[i] -= lr * float(row[f"g{i}"])
            b -= lr * float(row["gb"])
        return w + [b], history[-1], history
    finally:
        feats.unpersist()


def logit_train_df(spark, df: DataFrame, feature_terms: Sequence[str],
                   label_expr, iterations: int = 10, lr: float = 2.0,
                   ) -> DataFrame:
    """DataFrame-shaped result for the driver contract: one row per
    feature (plus the bias as term='__bias__') with the learned weight
    and the final training log-loss."""
    weights, final_loss, _ = logit_train(df, feature_terms, label_expr,
                                         iterations=iterations, lr=lr)
    rows = [(t, float(weights[i]), float(final_loss))
            for i, t in enumerate(feature_terms)]
    rows.append(("__bias__", float(weights[-1]), float(final_loss)))
    return spark.createDataFrame(rows, "term string, weight double, train_logloss double")


def igain_feature_select(df: DataFrame, label_col, top_n: int = 20,
                         text_col: str = "text",
                         id_col: str = "doc_id") -> DataFrame:
    """featuresSelection(...) stream analog (solrj/io/stream/
    FeaturesSelectionStream.java:349-369 merging per-shard {!igain}
    scores; scoring is IGainTermsQParserPlugin.java:92-94): rank every
    distinct term by information gain of a binary label.

        score(t) = H(pc) - [ df/N * H(xc/df)
                             + (1 - df/N) * H((pos-xc)/(N-df+1)) ]

    with N docs, pos positive docs, df docs containing t, xc positive
    docs containing t, and H the natural-log binary entropy
    (IGainTermsQParserPlugin.java:117-120, H(0)=H(1)=0). The reference's
    `N - df + 1` denominator (not the textbook N - df) is preserved
    bit-for-bit — parity with the shipped scorer beats the textbook.

    Distributed shape: one explode of DISTINCT per-doc terms ->
    per-term (df, xc) hash aggregate -> broadcast the 1-row global
    (N, pos) -> closed-form score. The wide step shuffles (term, flag)
    pairs once with map-side partial aggregation; the reference runs
    the same accumulation per shard and merges driver-side.
    """
    toks = F.filter(
        F.split(F.lower(F.col(text_col)), SPLIT_PATTERN),
        lambda x: x != F.lit(""),
    )
    base = df.select(F.col(id_col).alias("doc_id"),
                     label_col.cast("double").alias("label"),
                     F.array_distinct(toks).alias("t"))
    glob = base.agg(F.count(F.lit(1)).cast("double").alias("n"),
                    F.sum("label").alias("pos"))
    # explode_outer + isnotnull, not explode: an inner generate makes
    # the optimizer infer `size(t) > 0` and push it below the project,
    # inlining the tokenize+distinct expression into a per-row filter
    # that re-evaluates it (see textqa.decontaminate)
    per_term = (base.select("label", F.explode_outer("t").alias("term"))
                .where(F.col("term").isNotNull())
                .groupBy("term")
                .agg(F.count(F.lit(1)).cast("double").alias("df"),
                     F.sum("label").alias("xc")))

    def h(p):
        return F.when((p > 0) & (p < 1),
                      -p * F.log(p) - (1 - p) * F.log(1 - p)
                      ).otherwise(F.lit(0.0))

    j = per_term.crossJoin(F.broadcast(glob))
    pc = F.col("pos") / F.col("n")
    p_in = F.col("xc") / F.col("df")
    p_out = (F.col("pos") - F.col("xc")) / (F.col("n") - F.col("df") + 1)
    score = h(pc) - ((F.col("df") / F.col("n")) * h(p_in)
                     + (1 - F.col("df") / F.col("n")) * h(p_out))
    return (j.select("term", F.col("df").cast("bigint").alias("df"),
                     F.col("xc").cast("bigint").alias("xc"),
                     F.round(score, 6).alias("score_f"))
            .orderBy(F.col("score_f").desc(), F.col("term").asc())
            .limit(top_n))
