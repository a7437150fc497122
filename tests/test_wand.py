"""Block-max WAND pruning: shadow-verification against exhaustive
scoring (SURVEY §7 risk 4 — WAND comes from the published algorithm,
not the 7.7 reference, so every pruned path is checked rank-identical).
"""

from __future__ import annotations

import pandas as pd
import pytest

from lucene_solr_spark.queryast import BooleanClause, BooleanQuery, Occur, TermQuery


def _assert_same(a: pd.DataFrame, b: pd.DataFrame, qname: str):
    assert list(a["doc_id"]) == list(b["doc_id"]), f"{qname}: doc order differs"
    assert list(a["score"]) == list(b["score"]), f"{qname}: scores differ"


@pytest.fixture(scope="module")
def searcher(spark, tiny_index):
    from lucene_solr_spark.search.executor import IndexReader, Searcher

    return Searcher(IndexReader(spark, tiny_index))


TERMS = ["import", "class", "ident007", "ident042", "the", "def"]


@pytest.mark.parametrize("term", TERMS)
@pytest.mark.parametrize("k", [1, 10])
def test_single_term_pruned_rank_identical(searcher, term, k):
    q = TermQuery(term=term)
    exhaustive = searcher.search(q, k=k)
    pruned = searcher.search(q, k=k, prune=True)
    _assert_same(pruned, exhaustive, f"term:{term}/k={k}")


@pytest.mark.parametrize("terms", [
    ("import", "ident007"),
    ("class", "def", "ident042"),
    ("import", "the", "ident001", "ident099"),
])
def test_or_pruned_rank_identical(searcher, terms):
    q = BooleanQuery(clauses=tuple(
        BooleanClause(Occur.SHOULD, TermQuery(term=t)) for t in terms
    ))
    exhaustive = searcher.search(q, k=10)
    pruned = searcher.search(q, k=10, prune=True)
    _assert_same(pruned, exhaustive, f"or:{terms}")


def test_missing_term_pruned(searcher):
    q = TermQuery(term="zzz_not_in_corpus")
    pruned = searcher.search(q, k=10, prune=True)
    assert len(pruned) == 0


def test_prune_falls_back_for_must(searcher):
    """Non-OR shapes fall back to the exhaustive path (same result)."""
    q = BooleanQuery(clauses=(
        BooleanClause(Occur.MUST, TermQuery(term="import")),
        BooleanClause(Occur.MUST, TermQuery(term="class")),
    ))
    _assert_same(
        searcher.search(q, k=10, prune=True),
        searcher.search(q, k=10),
        "must-fallback",
    )


def test_same_term_multiple_boosts_pruned_rank_identical(searcher):
    """The same term in several SHOULD clauses with different boosts:
    the block UB must bound the SUM of the clauses' contributions (one
    UB row per block) — per-clause UB rows used to duplicate block
    decodes and double the scores."""
    q = BooleanQuery(clauses=(
        BooleanClause(Occur.SHOULD, TermQuery(term="import", boost=2.0)),
        BooleanClause(Occur.SHOULD, TermQuery(term="import", boost=0.5)),
        BooleanClause(Occur.SHOULD, TermQuery(term="ident007")),
    ))
    exhaustive = searcher.search(q, k=10)
    pruned = searcher.search(q, k=10, prune=True)
    _assert_same(pruned, exhaustive, "dup-boost")


def test_deletes_same_term_multiple_boosts(spark, tiny_index, tmp_path):
    """On an index with deletes the pruned search (deleted docs dropped
    in each decoded block) matches the exhaustive plan on the dup-boost
    shape."""
    import shutil

    from lucene_solr_spark.indexing.deletes import delete_by_terms
    from lucene_solr_spark.search.executor import IndexReader, Searcher

    idx = str(tmp_path / "del_idx")
    shutil.copytree(tiny_index, idx)
    assert delete_by_terms(spark, idx, ["ident007"]) >= 2, "fixture drift"
    s = Searcher(IndexReader(spark, idx))
    q = BooleanQuery(clauses=(
        BooleanClause(Occur.SHOULD, TermQuery(term="class", boost=3.0)),
        BooleanClause(Occur.SHOULD, TermQuery(term="class", boost=0.25)),
        BooleanClause(Occur.SHOULD, TermQuery(term="ident042")),
    ))
    exhaustive = s.search(q, k=10)
    pruned = s.search(q, k=10, prune=True)
    _assert_same(pruned, exhaustive, "dup-boost-deletes")


def test_rare_prefetch_engages_and_rank_identical(searcher):
    """Mixed-idf OR (common + rare terms): the rare-term prefetch path
    (exact rare partials broadcast, theta0 global threshold, per-block
    doc-range slack) must engage and stay rank-identical. 'import' is
    the high-df common term; identNNN terms are >=4x rarer."""
    q = BooleanQuery(clauses=(
        BooleanClause(Occur.SHOULD, TermQuery(term="import")),
        BooleanClause(Occur.SHOULD, TermQuery(term="ident099")),
        BooleanClause(Occur.SHOULD, TermQuery(term="ident042")),
    ))
    # confirm the df split actually makes the prefetch eligible
    stats = searcher.reader.term_stats(["import", "ident099", "ident042"])
    assert stats["import"][0] >= 4 * stats["ident042"][0], "fixture drift"
    exhaustive = searcher.search(q, k=10)
    # force the prefetch path on the tiny fixture (the production gate
    # requires >=2M common postings before spending the extra job wave)
    searcher.WAND_PREFETCH_MIN_COMMON_POSTINGS = 0
    try:
        pruned = searcher.search(q, k=10, prune=True)
    finally:
        del searcher.WAND_PREFETCH_MIN_COMMON_POSTINGS
    _assert_same(pruned, exhaustive, "rare-prefetch-or")


def test_rare_prefetch_summary_path_rank_identical(searcher):
    """Beyond WAND_PREFETCH_EXACT_CAP aggregated rare docs the prefetch
    degrades to a bounded summary (top-N partials for the theta fold +
    bucketed range-max table for the slack bound) instead of disabling
    pruning. Force the summary path on the tiny fixture (cap=1, small
    buckets) and assert rank identity plus the stats flag."""
    q = BooleanQuery(clauses=(
        BooleanClause(Occur.SHOULD, TermQuery(term="import")),
        BooleanClause(Occur.SHOULD, TermQuery(term="ident099")),
        BooleanClause(Occur.SHOULD, TermQuery(term="ident042")),
    ))
    exhaustive = searcher.search(q, k=10)
    searcher.WAND_PREFETCH_MIN_COMMON_POSTINGS = 0
    searcher.WAND_PREFETCH_EXACT_CAP = 1
    searcher.WAND_PREFETCH_TOPN = 16  # < rare doc count: fold is a subset
    searcher.WAND_PREFETCH_BUCKET_DOCS = 8
    try:
        pruned = searcher.search(q, k=10, prune=True)
        assert searcher.last_wand_stats["rare_prefetch"]
        assert searcher.last_wand_stats["rare_summary"]
    finally:
        del searcher.WAND_PREFETCH_MIN_COMMON_POSTINGS
        del searcher.WAND_PREFETCH_EXACT_CAP
        del searcher.WAND_PREFETCH_TOPN
        del searcher.WAND_PREFETCH_BUCKET_DOCS
    _assert_same(pruned, exhaustive, "rare-prefetch-summary-or")


def test_rare_prefetch_with_deletes(spark, tiny_index, tmp_path):
    """Prefetch theta0 and partials must be computed over LIVE docs:
    tombstone one rare term's entire doc set, then re-check rank
    identity on a mixed-idf OR including that term (its exact partials
    must vanish from the broadcast, not linger as stale slack)."""
    import shutil

    from lucene_solr_spark.indexing.deletes import delete_by_terms
    from lucene_solr_spark.search.executor import IndexReader, Searcher

    idx = str(tmp_path / "del_idx")
    shutil.copytree(tiny_index, idx)
    delete_by_terms(spark, idx, ["ident042"])
    s = Searcher(IndexReader(spark, idx))
    s.WAND_PREFETCH_MIN_COMMON_POSTINGS = 0  # force the path (tiny fixture)
    q = BooleanQuery(clauses=(
        BooleanClause(Occur.SHOULD, TermQuery(term="import")),
        BooleanClause(Occur.SHOULD, TermQuery(term="ident099")),
        BooleanClause(Occur.SHOULD, TermQuery(term="ident042")),
    ))
    _assert_same(s.search(q, k=10, prune=True), s.search(q, k=10),
                 "rare-prefetch-deletes")


@pytest.fixture(scope="module")
def mid_index(spark, tmp_path_factory):
    """A 20k-doc index: big enough that block-max pruning must engage
    (the 200-doc tiny fixture fits in a handful of blocks and decodes
    everything by necessity)."""
    from lucene_solr_spark.corpus import gen_corpus_spark
    from lucene_solr_spark.indexing.builder import build_index

    index_dir = str(tmp_path_factory.mktemp("idx") / "mid")
    corpus = gen_corpus_spark(spark, 20000, partitions=4)
    build_index(spark, index_dir, [("mid", corpus)], analyzer="standard",
                norms="byte")
    return index_dir


def test_impact_columns_persisted(spark, mid_index):
    """New-format segments carry per-block competitive impacts and the
    per-term global impact table (CompetitiveImpactAccumulator.java:30
    analog) in their metadata."""
    from lucene_solr_spark.search.executor import IndexReader

    r = IndexReader(spark, mid_index)
    assert "imp_tf" in r.blocks.columns and "imp_norm" in r.blocks.columns
    assert "gimp_tf" in r.stats.columns and "gimp_norm" in r.stats.columns
    row = (r.blocks.where(r.blocks["term"] == "import")
           .select("imp_tf", "imp_norm", "max_tf", "min_norm").first())
    assert row["imp_tf"] is not None and len(row["imp_tf"]) >= 1
    # frontier pairs are realized, so they are dominated by the
    # decoupled (max_tf, min_norm) extremes
    assert max(row["imp_tf"]) <= row["max_tf"]
    assert min(row["imp_norm"]) >= row["min_norm"]
    norms, tfs = r.term_wand_stats(["import"])["import"]
    assert len(norms) == len(tfs) >= 1


def test_pruned_search_skips_blocks(spark, mid_index):
    """With impact bounds the descent must actually PRUNE on a Zipf
    corpus (the decoupled bound pruned <1% — the whole point of
    impacts), while staying rank-identical to exhaustive."""
    from lucene_solr_spark.search.executor import IndexReader, Searcher

    s = Searcher(IndexReader(spark, mid_index),
                 precision="float32")
    q = TermQuery(term="import")
    exhaustive = s.search(q, k=10)
    pruned = s.search(q, k=10, prune=True)
    _assert_same(pruned, exhaustive, "mid:import")
    st = s.last_wand_stats
    assert st["blocks_total"] >= 100, "fixture drift: corpus too small"
    frac = st["blocks_decoded"] / st["blocks_total"]
    assert frac < 0.7, f"pruning ineffective: decoded {frac:.2%} of blocks"


@pytest.mark.parametrize("terms", [
    ("import", "class"),
    ("class", "ident007", "ident123"),
    ("import", "the", "def"),
])
def test_aligned_slack_rank_identical(searcher, terms):
    """Doc-range-aligned block-max slack (the true BMW bound) forced on
    via a zeroed gate must stay rank-identical to exhaustive."""
    q = BooleanQuery(clauses=tuple(
        BooleanClause(Occur.SHOULD, TermQuery(term=t)) for t in terms))
    exhaustive = searcher.search(q, k=10)
    searcher.WAND_ALIGNED_MIN_COMMON_POSTINGS = 0
    try:
        pruned = searcher.search(q, k=10, prune=True)
        assert searcher.last_wand_stats["aligned_slack"], \
            "aligned path did not engage with a zeroed gate"
    finally:
        del searcher.WAND_ALIGNED_MIN_COMMON_POSTINGS
    _assert_same(pruned, exhaustive, f"aligned-or:{terms}")


def test_aligned_slack_with_rare_prefetch(searcher):
    """Aligned common-common slack composed with the rare-term exact
    partial adds (both paths on at once) stays rank-identical."""
    q = BooleanQuery(clauses=(
        BooleanClause(Occur.SHOULD, TermQuery(term="import")),
        BooleanClause(Occur.SHOULD, TermQuery(term="class")),
        BooleanClause(Occur.SHOULD, TermQuery(term="ident042")),
    ))
    exhaustive = searcher.search(q, k=10)
    searcher.WAND_PREFETCH_MIN_COMMON_POSTINGS = 0
    searcher.WAND_ALIGNED_MIN_COMMON_POSTINGS = 0
    try:
        pruned = searcher.search(q, k=10, prune=True)
        st = searcher.last_wand_stats
        assert st["aligned_slack"] and st["rare_prefetch"]
    finally:
        del searcher.WAND_PREFETCH_MIN_COMMON_POSTINGS
        del searcher.WAND_ALIGNED_MIN_COMMON_POSTINGS
    _assert_same(pruned, exhaustive, "aligned+prefetch-or")


def test_aligned_slack_prunes_on_mid_corpus(spark, mid_index):
    """On the 20k-doc Zipf corpus a two-common-term OR must decode
    FEWER blocks with aligned slack than with the global bound, and
    stay rank-identical both ways."""
    from lucene_solr_spark.search.executor import IndexReader, Searcher

    s = Searcher(IndexReader(spark, mid_index),
                 precision="float32")
    q = BooleanQuery(clauses=(
        BooleanClause(Occur.SHOULD, TermQuery(term="import")),
        BooleanClause(Occur.SHOULD, TermQuery(term="class")),
    ))
    exhaustive = s.search(q, k=10)
    base = s.search(q, k=10, prune=True)
    decoded_global = s.last_wand_stats["blocks_decoded"]
    _assert_same(base, exhaustive, "mid-global")
    s.WAND_ALIGNED_MIN_COMMON_POSTINGS = 0
    aligned = s.search(q, k=10, prune=True)
    decoded_aligned = s.last_wand_stats["blocks_decoded"]
    assert s.last_wand_stats["aligned_slack"]
    _assert_same(aligned, exhaustive, "mid-aligned")
    assert decoded_aligned <= decoded_global, (
        f"aligned slack decoded MORE blocks: {decoded_aligned} vs "
        f"{decoded_global}")


def test_sparse_table_range_max():
    """_sparse_table/_range_max agree with brute force on random
    ranges (the aligned-slack lookup kernel)."""
    import numpy as np

    from lucene_solr_spark.search.executor import _range_max, _sparse_table

    rng = np.random.default_rng(7)
    arr = rng.random(1000)
    st = _sparse_table(arr)
    lo = rng.integers(0, 1000, 500)
    hi = np.minimum(lo + rng.integers(0, 400, 500), 999)
    got = _range_max(st, lo, hi)
    want = np.array([arr[a:b + 1].max() for a, b in zip(lo, hi)])
    assert np.array_equal(got, want)


# -- cost-based access-path gate (prune="auto") -----------------------------
# Lucene's BooleanWeight.java:317 scorer-vs-BulkScorer /
# IndexOrDocValuesQuery.java:52 access-path choice, applied to
# WAND-vs-exhaustive: the planner reads the persisted per-term block-UB
# quantile sketch (builder.compute_term_stats gq_tf/gq_dl) and runs the
# pruned plan only when its modeled cost beats the exhaustive plan.


def test_auto_rank_identical_and_plan_populated(searcher):
    q = BooleanQuery(clauses=(
        BooleanClause(Occur.SHOULD, TermQuery(term="import")),
        BooleanClause(Occur.SHOULD, TermQuery(term="ident007")),
    ))
    exhaustive = searcher.search(q, k=10)
    auto = searcher.search(q, k=10, prune="auto")
    plan = searcher.last_plan
    _assert_same(auto, exhaustive, "auto-or")
    assert plan is not None and plan["reason"] == "cost-model"
    for key in ("use_wand", "est_decode_fraction", "total_postings",
                "cost_wand_s", "cost_exhaustive_s"):
        assert key in plan, f"plan missing {key}"
    assert 0.0 <= plan["est_decode_fraction"] <= 1.0


def test_auto_single_term_rank_identical(searcher):
    q = TermQuery(term="import")
    _assert_same(searcher.search(q, k=10, prune="auto"),
                 searcher.search(q, k=10), "auto-term")
    assert searcher.last_plan is None or True  # last_plan reset by 2nd call


def test_auto_tiny_corpus_prefers_exhaustive(searcher):
    """On a few-hundred-doc corpus every plan is overhead-dominated and
    the decode fraction is ~1 — the model must not pick WAND."""
    q = TermQuery(term="import")
    searcher.search(q, k=10, prune="auto")
    # captured before any further search resets it
    plan_q = TermQuery(term="import")
    plan = searcher.plan_pruned_or(
        searcher._as_or_terms(searcher._with_default_field(plan_q)), 10)
    assert plan["reason"] == "cost-model"
    assert not plan["use_wand"]


def test_auto_falls_back_to_wand_without_sketch(searcher, monkeypatch):
    """Multi-field / no-sketch segments (null gq_tf sketch) give the
    gate no cost inputs: prune='auto' still runs the (rank-safe) pruned
    path."""
    monkeypatch.setattr(type(searcher.reader), "term_cost_stats",
                        lambda self, terms: None)
    q = TermQuery(term="import")
    exhaustive = searcher.search(q, k=10)
    auto = searcher.search(q, k=10, prune="auto")
    assert searcher.last_plan == {"use_wand": True, "reason": "no-cost-stats"}
    _assert_same(auto, exhaustive, "auto-no-sketch")


def test_mid_corpus_plan_estimates_sane(spark, mid_index):
    """On the 20k Zipf corpus the sketch exists and the estimated
    decode fraction must land in (0, 1] and the simulated machinery
    flags must be booleans (plan introspection contract for bench)."""
    from lucene_solr_spark.search.executor import IndexReader, Searcher

    s = Searcher(IndexReader(spark, mid_index),
                 precision="float32")
    plan = s.plan_pruned_or([("import", 1.0)], 10)
    assert plan["reason"] == "cost-model"
    assert 0.0 < plan["est_decode_fraction"] <= 1.0
    assert isinstance(plan["prefetch"], bool)
    assert isinstance(plan["aligned"], bool)
    auto = s.search(TermQuery(term="import"), k=10, prune="auto")
    _assert_same(auto, s.search(TermQuery(term="import"), k=10), "mid-auto")
