"""Deduplication operators for web-scale corpora.

Scale design (100 TB, 10^12 docs):
  - exact dedup: one hash-shuffle on md5(text) — the canonical-doc
    window never materializes groups, it's a partial agg + broadcast of
    nothing (window over hash partitions).
  - n-gram Jaccard is quadratic per shingle bucket; it is the VERIFY
    step applied to candidate pairs only, never the discovery step.
  - discovery at scale = MinHash-LSH (band bucketing: only docs sharing
    a band key ever meet in the join) or SimHash (pigeonhole band join:
    hamming<=3 over 4 bands of 16 bits => at least one exact band
    match). Both are one explode + one hash-shuffle per stage; no
    cross join anywhere.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame, Window, functions as F

from ..analysis import SPLIT_PATTERN

SIMHASH_BITS = 60  # 15 hex chars of md5 -> fits a signed BIGINT


def tokens_array(text_col: Column) -> Column:
    """Raw analyzed tokens (no stop filter — dedup wants full text)."""
    return F.filter(F.split(F.lower(text_col), SPLIT_PATTERN), lambda x: x != F.lit(""))


def h60(col: Column) -> Column:
    """Portable 60-bit hash: int(md5(s)[:15], 16). Bit-identical in
    DuckDB as CAST('0x' || substr(md5(s),1,15) AS BIGINT)."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("bigint")


# ---------------------------------------------------------------------------
# exact dedup
# ---------------------------------------------------------------------------

def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """(doc_id, canonical_id, group_size): canonical = min doc_id per
    md5(text) group. One shuffle on the hash; window functions run
    within hash partitions (no second shuffle)."""
    h = F.md5(F.col(text_col)).alias("h")
    w = Window.partitionBy("h")
    return (
        df.select(F.col(id_col).alias("doc_id"), h)
        .select(
            "doc_id",
            F.min("doc_id").over(w).alias("canonical_id"),
            F.count(F.lit(1)).over(w).alias("group_size"),
        )
    )


# ---------------------------------------------------------------------------
# shingles + n-gram Jaccard (the exact verifier for near-dup candidates)
# ---------------------------------------------------------------------------

def shingle_array(toks: Column, k: int = 3) -> Column:
    """k-token shingles as space-joined strings over a MATERIALIZED
    token-array column (pass a projected column, not the tokenization
    expression: a lambda referencing an unevaluated expression would
    re-run the full split per element — O(tokens^2) per doc)."""
    idx = F.sequence(F.lit(1), F.size(toks) - (k - 1))
    shingles = F.transform(
        idx,
        lambda i: F.concat_ws(
            " ", *[F.element_at(toks, i + j) for j in range(k)]
        ),
    )
    # guard: sequence(1, n) flips to descending when n < 1
    return F.when(F.size(toks) >= k, shingles).otherwise(
        F.array().cast("array<string>")
    )


def doc_shingles(df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
                 k: int = 3) -> DataFrame:
    """(doc_id, shingle) distinct."""
    toked = df.select(
        F.col(id_col).alias("doc_id"), tokens_array(F.col(text_col)).alias("toks")
    )
    # explode_outer + isnotnull, not explode: an inner generate infers
    # `size(shingle_array(toks)) > 0` and pushes it below the project,
    # inlining tokenize+shingle into a per-row filter (measured 15x on
    # the decontam twin of this shape)
    return (
        toked.select("doc_id",
                     F.explode_outer(shingle_array(F.col("toks"), k))
                     .alias("shingle"))
        .where(F.col("shingle").isNotNull())
        .distinct()
    )


def ngram_jaccard_pairs(df: DataFrame, threshold: float = 0.5,
                        text_col: str = "text", id_col: str = "doc_id",
                        k: int = 3) -> DataFrame:
    """(a, b, jaccard) for doc pairs with shingle-set Jaccard >=
    threshold (a < b). Join ON shingle — only docs sharing a shingle
    ever meet; sizes joined in after the pair agg. jaccard =
    inter/(|A|+|B|-inter), integer inputs -> deterministic double."""
    sh = doc_shingles(df, text_col, id_col, k)
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("sz"))
    a = sh.select(F.col("doc_id").alias("a"), "shingle")
    b = sh.select(F.col("doc_id").alias("b"), "shingle")
    inter = (
        a.join(b, "shingle")
        .where(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    sa = sizes.select(F.col("doc_id").alias("a"), F.col("sz").alias("sza"))
    sb = sizes.select(F.col("doc_id").alias("b"), F.col("sz").alias("szb"))
    jac = (
        inter.join(sa, "a").join(sb, "b")
        .select(
            "a", "b",
            (F.col("inter").cast("double")
             / (F.col("sza") + F.col("szb") - F.col("inter")).cast("double")
             ).alias("jaccard"),
        )
    )
    return jac.where(F.col("jaccard") >= threshold).select(
        "a", "b", F.round("jaccard", 6).alias("jaccard")
    )


# ---------------------------------------------------------------------------
# SimHash (oracle-replicable: h60 bits, integer vote sums)
# ---------------------------------------------------------------------------

def simhash_fingerprints(df: DataFrame, text_col: str = "text",
                         id_col: str = "doc_id") -> DataFrame:
    """(doc_id, simhash): 60-bit SimHash. tf-weighted ±1 votes per bit
    of h60(term) are identical to per-OCCURRENCE ±1 sums, so the
    (doc, term) tf pre-aggregation is skipped entirely: ONE
    groupBy(doc) with 60 conditional integer sums straight off the
    exploded tokens — map-side combine, single shuffle, no UDF, exact
    integer math."""
    toks = (
        df.select(F.col(id_col).alias("doc_id"),
                  F.explode_outer(tokens_array(F.col(text_col))).alias("term"))
        .where(F.col("term").isNotNull())  # outer generate: no inferred
        .withColumn("h", h60(F.col("term")))  # size()>0 re-tokenize filter
    )
    votes = [
        F.sum(
            F.when(F.shiftright(F.col("h"), b).bitwiseAND(F.lit(1)) == 1, F.lit(1))
            .otherwise(F.lit(-1))
        ).alias(f"v{b}")
        for b in range(SIMHASH_BITS)
    ]
    g = toks.groupBy("doc_id").agg(*votes)
    fp = None
    for b in range(SIMHASH_BITS):
        bit = F.when(F.col(f"v{b}") > 0, F.lit(1).cast("bigint") * (2 ** b)).otherwise(F.lit(0).cast("bigint"))
        fp = bit if fp is None else fp + bit
    return g.select("doc_id", fp.alias("simhash"))


#: pairwise-expansion ceiling per LSH bucket: buckets at or under this
#: expand exactly (B^2 shuffle-join pairs); larger buckets fall back to
#: STAR edges against the bucket's min-id representative (B-1 pairs).
#: 1024^2 ~ 1M pairs per bucket bounds the worst small-bucket cost; on
#: the pathologically self-similar 2M-doc synthetic bench corpus the
#: total capped candidate bound measures 281M pairs (vs 9e11 uncapped).
LSH_BUCKET_CAP = 1024


def _bucketed_pairs(bands: DataFrame, cap: int = LSH_BUCKET_CAP) -> DataFrame:
    """(a, b) candidate id pairs from (doc_id, band, key) bucket rows,
    SKEW-IMMUNE: the per-bucket pair count is bounded by
    min(B, cap) * B instead of B^2. Buckets <= cap expand pairwise
    (exact enumeration, the common case); oversized buckets — near-
    duplicate MEGACLUSTERS, e.g. boilerplate/templated corpora, where
    pairwise enumeration is quadratic BY DEFINITION (measured: a 2M-doc
    templated source corpus puts 447k docs in one SimHash band bucket =
    9e11 pairs) — emit star edges to the bucket's min-id representative
    instead. Star edges connect exactly the same components (the
    downstream connected_components / curation semantics are
    unchanged); only the exhaustive pair LIST is intentionally
    truncated for megaclusters. One extra metadata-only aggregation
    (bucket sizes); bare id pairs are deduped BEFORE any payload joins
    so fingerprints/signatures never ride the pair shuffle."""
    sizes = bands.groupBy("band", "key").agg(
        F.count(F.lit(1)).alias("bn"), F.min("doc_id").alias("rep"))
    withn = bands.join(sizes, ["band", "key"])
    small = withn.where(F.col("bn") <= cap).select("doc_id", "band", "key")
    a = small.select(F.col("doc_id").alias("a"), "band", "key")
    b = small.select(F.col("doc_id").alias("b"), "band", "key")
    pair_small = (a.join(b, ["band", "key"])
                  .where(F.col("a") < F.col("b")).select("a", "b"))
    # rep == min(doc_id) => rep < doc_id on every emitted edge
    pair_big = (withn.where((F.col("bn") > cap)
                            & (F.col("doc_id") != F.col("rep")))
                .select(F.col("rep").alias("a"), F.col("doc_id").alias("b")))
    return pair_small.unionByName(pair_big).distinct()


def simhash_near_pairs(df: DataFrame, max_hamming: int = 3,
                       text_col: str = "text", id_col: str = "doc_id",
                       bucket_cap: int = LSH_BUCKET_CAP) -> DataFrame:
    """(a, b, hamming) pairs with hamming(simhash) <= max_hamming.
    Pigeonhole band join: 4 bands of 15 bits — any pair within hamming
    3 matches exactly on >=1 band, so the join key is (band_id,
    band_bits): no cross join, one shuffle. Buckets above bucket_cap
    (megaclusters) emit star edges only — see _bucketed_pairs."""
    fps = simhash_fingerprints(df, text_col, id_col)
    bands = fps.select(
        "doc_id",
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(i).alias("band"),
                    F.shiftright(F.col("simhash"), i * 15).bitwiseAND(F.lit((1 << 15) - 1)).alias("key"),
                )
                for i in range(4)
            ])
        ).alias("bk"),
    ).select("doc_id", "bk.band", "bk.key")
    cand = _bucketed_pairs(bands, bucket_cap)
    fa = fps.select(F.col("doc_id").alias("a"), F.col("simhash").alias("fa"))
    fb = fps.select(F.col("doc_id").alias("b"), F.col("simhash").alias("fb"))
    ham = F.bit_count(F.col("fa").bitwiseXOR(F.col("fb")))
    return (
        cand.join(fa, "a").join(fb, "b")
        .select("a", "b", ham.alias("hamming"))
        .where(F.col("hamming") <= max_hamming)
    )


# ---------------------------------------------------------------------------
# MinHash + LSH (the at-scale discovery path; portable md5-h60 hashes,
# fully DuckDB-oracle-checkable)
# ---------------------------------------------------------------------------

MH_PRIME = 2038074743  # 31-bit prime — same family as Spark MLlib MinHashLSH


def minhash_coeffs(num_hashes: int) -> list:
    """Deterministic per-lane affine coefficients (a_i, b_i) for the
    pairwise-independent family g_i(h) = (a_i*(h+1) + b_i) mod P —
    derived from md5 of the lane tag so BOTH the Spark plan and the
    DuckDB oracle can embed them as integer literals."""
    import hashlib

    def c(tag: str, i: int, lo: int, mod: int) -> int:
        return lo + int(hashlib.md5(f"{tag}{i}".encode()).hexdigest()[:15], 16) % mod

    return [(c("a", i, 1, MH_PRIME - 1), c("b", i, 0, MH_PRIME))
            for i in range(num_hashes)]


def minhash_signatures(df: DataFrame, num_hashes: int = 32,
                       text_col: str = "text", id_col: str = "doc_id",
                       k: int = 3) -> DataFrame:
    """(doc_id, sig array<bigint>): sig[i] = min over shingles of
    (a_i*(h60(shingle)%P + 1) + b_i) % P — ONE md5 per shingle (the
    round-3 construction paid 32 md5s/shingle, a 3.3x regression vs
    xxhash64; this keeps full DuckDB-oracle portability at one md5 +
    32 JVM-codegen'd multiply-mods). All intermediates < 2^62, so the
    arithmetic is exact int64 on both engines. One explode + one
    groupBy(doc) with num_hashes min-aggregates (map-side combine)."""
    sh = doc_shingles(df, text_col, id_col, k)
    hashed = sh.withColumn("h1", h60(F.col("shingle")) % F.lit(MH_PRIME) + F.lit(1))
    mins = [
        F.min((F.lit(a) * F.col("h1") + F.lit(b)) % F.lit(MH_PRIME)).alias(f"m{i}")
        for i, (a, b) in enumerate(minhash_coeffs(num_hashes))
    ]
    g = hashed.groupBy("doc_id").agg(*mins)
    return g.select(
        "doc_id", F.array(*[F.col(f"m{i}") for i in range(num_hashes)]).alias("sig")
    )


def minhash_lsh_pairs(df: DataFrame, num_hashes: int = 32, bands: int = 8,
                      threshold: float = 0.5, text_col: str = "text",
                      id_col: str = "doc_id", k: int = 3,
                      bucket_cap: int = LSH_BUCKET_CAP) -> DataFrame:
    """(a, b, est_jaccard) candidate near-dup pairs via banded LSH:
    docs agreeing on all rows of >=1 band meet in the bucket join;
    est_jaccard = fraction of agreeing minhashes. Discovery is
    shuffle-bounded (explode bands -> hash join on band key); buckets
    above bucket_cap (near-identical megaclusters) emit star edges
    only — see _bucketed_pairs."""
    rows = num_hashes // bands
    sigs = minhash_signatures(df, num_hashes, text_col, id_col, k).persist()
    banded = sigs.select(
        "doc_id",
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(j).alias("band"),
                    # portable band key: h60 over the comma-joined row
                    # values (bigint -> decimal string on both engines)
                    h60(F.concat_ws(
                        ",", *[F.col("sig")[j * rows + r].cast("string")
                               for r in range(rows)])).alias("key"),
                )
                for j in range(bands)
            ])
        ).alias("bk"),
    ).select("doc_id", "bk.band", "bk.key")
    # bare id pairs deduped first (cheap shuffle), signatures joined
    # back after — signature arrays never ride the pair shuffle
    cand = _bucketed_pairs(banded, bucket_cap)
    sa = sigs.select(F.col("doc_id").alias("a"), F.col("sig").alias("siga"))
    sb = sigs.select(F.col("doc_id").alias("b"), F.col("sig").alias("sigb"))
    withsigs = cand.join(sa, "a").join(sb, "b")
    agree = F.size(F.filter(F.zip_with("siga", "sigb", lambda x, y: x == y), lambda v: v))
    est = agree.cast("double") / F.lit(float(num_hashes))
    return (
        withsigs.select("a", "b", F.round(est, 6).alias("est_jaccard"))
        .where(F.col("est_jaccard") >= threshold)
    )


# ---------------------------------------------------------------------------
# duplicate-group clustering (connected components over near-dup pairs)
# ---------------------------------------------------------------------------

def connected_components(pairs: DataFrame, ids: DataFrame,
                         max_iter: int = 25) -> DataFrame:
    """(doc_id, component): component = min doc_id reachable through
    the pair graph; docs with no pair form singleton components. The
    step a training pipeline runs after near-dup discovery (SimHash /
    MinHash pairs) to pick ONE canonical doc per duplicate cluster —
    transitive closure, not just pairwise dedup.

    Algorithm: hash-min label propagation. Each round every node takes
    the min label among itself and its neighbors — one join + one
    groupBy(min) per round, converging in O(graph diameter) rounds.
    Near-dup graphs do grow chains (the sf0.1 bench corpus has a
    diameter-13 chain -> 14 rounds), but rounds here are CHEAP: the
    working set is the endpoint subgraph and each round is one small
    shuffle. The pointer-doubling / path-halving shortcut
    (Shiloach-Vishkin; Kiveris et al. 2014 large-star/small-star) was
    measured on this engine and REJECTED: the label(label) self-join
    re-evaluates the round's un-materialized aggregate per hop, so
    rounds cost 2-4x while only dropping 14 -> 10 on the bench graph
    (A/B: plain 5.8 s, 1-hop 7.0 s, 2-hop 12.3 s, same session) — a
    checkpoint per hop would fix the re-evaluation but pays the same
    job latency the saved rounds cost. Convergence is detected by the
    monotone sum-of-labels invariant (labels only ever decrease, so an
    unchanged sum IS the fixpoint — one cheap driver-side scalar per
    round, no change-count join). Scale notes (100 TB): the loop runs
    ONLY over edge endpoints — singletons (the overwhelming majority
    of a deduped corpus) never enter a round; they are left-joined
    back as their own component at the end, so per-round shuffle cost
    is O(near-dup nodes), not O(corpus). Lineage is truncated every
    round with localCheckpoint so the plan stays flat; each round is
    one shuffle on doc_id; no driver-side data beyond the 1-row sum.

    pairs: (a, b) columns, one row per undirected edge.
    ids: one row per node with column doc_id (defines the universe).
    """
    edges = (
        pairs.select(F.col("a").alias("src"), F.col("b").alias("dst"))
        .union(pairs.select(F.col("b").alias("src"), F.col("a").alias("dst")))
        # edges join into EVERY round: without this persist the whole
        # upstream pair-discovery pipeline (tokenize + fingerprint +
        # band join) would re-execute per round. Repartitioned on the
        # join key BEFORE the persist: the cached plan's hash
        # partitioning satisfies each round's join requirement, so the
        # edge table is shuffled exactly once for the whole loop
        # (per-round exchanges then move only the label frame).
        .repartition("src")
        .persist()
    )
    try:
        # Propagate over edge endpoints only: a node with no edge can
        # never receive a smaller label, so the loop's working set is
        # the near-dup subgraph, not the whole corpus.
        labels = (
            edges.select("src").distinct()
            .select(F.col("src").alias("doc_id"),
                    F.col("src").alias("component"))
            .localCheckpoint(eager=True)
        )
        prev_sum = None
        converged = False
        for _ in range(max_iter):
            nbr = (
                edges.join(labels, edges["src"] == labels["doc_id"])
                .select(F.col("dst").alias("doc_id"), "component")
            )
            labels = (
                labels.union(nbr)
                .groupBy("doc_id")
                .agg(F.min("component").alias("component"))
                # lazy: the convergence sum right below materializes the
                # checkpoint — one job wave per round instead of two
                .localCheckpoint(eager=False)
            )
            cur = labels.agg(F.sum("component")).collect()[0][0]
            if cur == prev_sum:
                converged = True
                break
            prev_sum = cur
        if not converged:
            # partially-propagated labels are WRONG labels (a near-dup
            # chain with diameter > max_iter would silently split one
            # component in two) — refuse rather than mislabel
            raise RuntimeError(
                f"connected_components did not converge within {max_iter} "
                "rounds (component diameter exceeds max_iter); raise "
                "max_iter for this graph"
            )
        # Singletons re-enter here as their own component (left join:
        # one shuffle over the universe, once, not once per round).
        return (
            ids.select("doc_id")
            .join(labels, "doc_id", "left")
            .select(F.col("doc_id"),
                    F.coalesce("component", "doc_id").alias("component"))
        )
    finally:
        edges.unpersist()
