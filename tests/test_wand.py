"""Block-max pruning: shadow-verification against exhaustive scoring
(SURVEY §7 risk 4 — block-max WAND comes from the published algorithm,
not the 7.7 reference, so every pruned plan is checked rank-identical).
The keep-set is planned on the driver from the skip data
(Searcher.plan_pruned_or); prune=True and "auto" both run it. The
rank-safety tests run on both access paths (access_paths): the driver
and the Spark plan.
"""

from __future__ import annotations

import pandas as pd
import pytest

from lucene_solr_spark.queryast import BooleanClause, BooleanQuery, Occur, TermQuery
from lucene_solr_spark.search import executor


def _assert_same(a: pd.DataFrame, b: pd.DataFrame, qname: str):
    assert list(a["doc_id"]) == list(b["doc_id"]), f"{qname}: doc order differs"
    assert list(a["score"]) == list(b["score"]), f"{qname}: scores differ"


def _or(*terms):
    return BooleanQuery(clauses=tuple(
        BooleanClause(Occur.SHOULD, TermQuery(term=t)) for t in terms))


def _assert_block_max_plan(s, path: str, spark_jobs: int):
    """A block-max plan (theta planned) on access path `path`: the
    driver runs no job; the Spark plan, over the budget, runs
    spark_jobs."""
    plan = s.last_plan
    assert "theta" in plan
    if path == "driver":
        assert plan["access_path"] == "driver" and plan["reason"] == "block-max"
        assert plan["expected_jobs"] == 0
    else:
        assert plan["access_path"] == "skip-data" and plan["reason"] == "over-budget"
        assert plan["expected_jobs"] == spark_jobs
    assert 0 <= plan["blocks_kept"] <= plan["blocks_total"]
    assert s.last_wand_stats == {"blocks_total": plan["blocks_total"],
                                 "blocks_decoded": plan["blocks_kept"]}


@pytest.fixture(scope="module")
def searcher(spark, tiny_index):
    from lucene_solr_spark.search.executor import IndexReader, Searcher

    return Searcher(IndexReader(spark, tiny_index))


TERMS = ["import", "class", "ident007", "ident042", "the", "def"]


@pytest.mark.parametrize("term", TERMS)
@pytest.mark.parametrize("k", [1, 10])
def test_single_term_pruned_rank_identical(searcher, term, k, access_paths):
    q = TermQuery(term=term)
    for path in access_paths():
        exhaustive = searcher.search(q, k=k)
        pruned = searcher.search(q, k=k, prune=True)
        _assert_same(pruned, exhaustive, f"{path}: term:{term}/k={k}")


@pytest.mark.parametrize("terms", [
    ("import", "ident007"),
    ("class", "def", "ident042"),
    ("import", "the", "ident001", "ident099"),
    # a common term with two >= 4x rarer ones: theta comes from the
    # rare terms' blocks or the common term's, whichever is higher
    ("import", "ident099", "ident042"),
])
def test_or_pruned_rank_identical(searcher, terms, access_paths):
    q = _or(*terms)
    for path in access_paths():
        exhaustive = searcher.search(q, k=10)
        pruned = searcher.search(q, k=10, prune=True)
        _assert_same(pruned, exhaustive, f"{path}: or:{terms}")
        _assert_block_max_plan(searcher, path, 2)


def test_missing_term_pruned(searcher, access_paths):
    q = TermQuery(term="zzz_not_in_corpus")
    for path in access_paths():
        pruned = searcher.search(q, k=10, prune=True)
        assert len(pruned) == 0, path
        assert searcher.last_plan["blocks_total"] == 0


def test_prune_falls_back_for_must(searcher, access_paths):
    """Non-OR shapes fall back to the exhaustive path (same result)."""
    q = BooleanQuery(clauses=(
        BooleanClause(Occur.MUST, TermQuery(term="import")),
        BooleanClause(Occur.MUST, TermQuery(term="class")),
    ))
    for path in access_paths():
        _assert_same(
            searcher.search(q, k=10, prune=True),
            searcher.search(q, k=10),
            f"{path}: must-fallback",
        )


def test_same_term_multiple_boosts_pruned_rank_identical(searcher, access_paths):
    """The same term in several SHOULD clauses with different boosts:
    the block bounds must bound the SUM of the clauses' contributions
    (one bound per block) — per-clause bounds used to duplicate block
    decodes and double the scores."""
    q = BooleanQuery(clauses=(
        BooleanClause(Occur.SHOULD, TermQuery(term="import", boost=2.0)),
        BooleanClause(Occur.SHOULD, TermQuery(term="import", boost=0.5)),
        BooleanClause(Occur.SHOULD, TermQuery(term="ident007")),
    ))
    for path in access_paths():
        exhaustive = searcher.search(q, k=10)
        pruned = searcher.search(q, k=10, prune=True)
        _assert_same(pruned, exhaustive, f"{path}: dup-boost")


def test_negative_boost_keeps_every_block(searcher, access_paths):
    """A negative boost makes the frontier's best pair a doc's WORST
    score, so the block bounds bound nothing: the plan keeps every
    block and stays rank-identical."""
    q = BooleanQuery(clauses=(
        BooleanClause(Occur.SHOULD, TermQuery(term="import", boost=-1.0)),
        BooleanClause(Occur.SHOULD, TermQuery(term="ident007")),
    ))
    for path in access_paths():
        exhaustive = searcher.search(q, k=10)
        pruned = searcher.search(q, k=10, prune=True)
        _assert_same(pruned, exhaustive, f"{path}: negative-boost")
        plan = searcher.last_plan
        assert plan["theta"] is None and plan["blocks_kept"] == plan["blocks_total"]


def _copy_with_deletes(spark, src, dst, terms):
    import shutil

    from lucene_solr_spark.indexing.deletes import delete_by_terms
    from lucene_solr_spark.search.executor import IndexReader, Searcher

    shutil.copytree(src, dst)
    n = delete_by_terms(spark, dst, terms)
    return Searcher(IndexReader(spark, dst)), n


def test_deletes_same_term_multiple_boosts(spark, tiny_index, tmp_path, access_paths):
    """On an index with deletes the pruned search (deleted docs dropped
    in each decoded block) matches the exhaustive plan on the dup-boost
    shape."""
    s, n = _copy_with_deletes(spark, tiny_index, str(tmp_path / "del_idx"),
                              ["ident007"])
    assert n >= 2, "fixture drift"
    q = BooleanQuery(clauses=(
        BooleanClause(Occur.SHOULD, TermQuery(term="class", boost=3.0)),
        BooleanClause(Occur.SHOULD, TermQuery(term="class", boost=0.25)),
        BooleanClause(Occur.SHOULD, TermQuery(term="ident042")),
    ))
    for path in access_paths():
        exhaustive = s.search(q, k=10)
        pruned = s.search(q, k=10, prune=True)
        _assert_same(pruned, exhaustive, f"{path}: dup-boost-deletes")


def test_or_pruned_rank_identical_with_deletes(spark, tiny_index, tmp_path, access_paths):
    """Delete one rare term's entire doc set, then re-check rank
    identity on a mixed-idf OR including that term: blocks spanning a
    deleted doc give no lower bound, so theta stays below the k-th
    LIVE score."""
    s, _ = _copy_with_deletes(spark, tiny_index, str(tmp_path / "del_idx"),
                              ["ident042"])
    q = _or("import", "ident099", "ident042")
    for path in access_paths():
        _assert_same(s.search(q, k=10, prune=True), s.search(q, k=10),
                     f"{path}: or-deletes")


def test_pruned_runs_the_exhaustive_jobs(searcher, spark_jobs, access_paths):
    """The keep-set is planned on the driver. Under the budget a pruned
    query runs no Spark job, as the exhaustive one does; with the budget
    at 0 a pruned term runs its one scoring job and a pruned OR its two
    (scoring + shuffle), as the exhaustive plans do."""
    for path in access_paths():
        for q, jobs in ((TermQuery(term="import"), 1),
                        (_or("import", "ident099", "ident042"), 2)):
            want = jobs if path == "spark" else 0
            _, n_exh = spark_jobs(lambda: searcher.search(q, k=10))
            _, n = spark_jobs(lambda: searcher.search(q, k=10, prune=True))
            assert n == n_exh == want, (path, q, n, n_exh)
            _assert_block_max_plan(searcher, path, jobs)


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


@pytest.fixture(scope="module")
def mid_searcher(spark, mid_index):
    from lucene_solr_spark.search.executor import IndexReader, Searcher

    return Searcher(IndexReader(spark, mid_index), precision="float32")


def test_impact_columns_persisted(spark, mid_index):
    """Segments carry per-block competitive impacts
    (CompetitiveImpactAccumulator.java:30 analog) in their block
    metadata — the bounds the planner reads; term stats hold the
    scoring statistics only."""
    from lucene_solr_spark.search.executor import IndexReader

    r = IndexReader(spark, mid_index)
    assert "imp_tf" in r.blocks.columns and "imp_norm" in r.blocks.columns
    assert r.stats.columns == ["term", "df", "ttf"]
    row = (r.blocks.where(r.blocks["term"] == "import")
           .select("imp_tf", "imp_norm", "max_tf", "min_norm").first())
    assert row["imp_tf"] is not None and len(row["imp_tf"]) >= 1
    # frontier pairs are realized, so they are dominated by the
    # decoupled (max_tf, min_norm) extremes
    assert max(row["imp_tf"]) <= row["max_tf"]
    assert min(row["imp_norm"]) >= row["min_norm"]


def test_pruned_search_skips_blocks(mid_searcher, access_paths):
    """With impact bounds the keep-set must actually PRUNE on a Zipf
    corpus (the decoupled bound pruned <1% — the whole point of
    impacts), while staying rank-identical to exhaustive."""
    s = mid_searcher
    q = TermQuery(term="import")
    for path in access_paths():
        exhaustive = s.search(q, k=10)
        pruned = s.search(q, k=10, prune=True)
        _assert_same(pruned, exhaustive, f"{path}: mid:import")
        _assert_block_max_plan(s, path, 1)
        st = s.last_wand_stats
        assert st["blocks_total"] >= 100, "fixture drift: corpus too small"
        frac = st["blocks_decoded"] / st["blocks_total"]
        assert frac < 0.7, f"pruning ineffective: decoded {frac:.2%} of blocks"


@pytest.mark.parametrize("term", ["class", "import"])
@pytest.mark.parametrize("k", [1, 10])
def test_mid_single_term_pruned_rank_identical(mid_searcher, term, k, access_paths):
    """theta seeds from realized frontier pairs only: a frontier cut at
    codec.IMPACT_CAP pairs ends in a synthetic pair no doc may reach,
    and a theta seeded from it returned a wrong top-10 for `class`."""
    q = TermQuery(term=term)
    for path in access_paths():
        exhaustive = mid_searcher.search(q, k=k)
        pruned = mid_searcher.search(q, k=k, prune=True)
        _assert_same(pruned, exhaustive, f"{path}: mid:{term}/k={k}")
        plan = mid_searcher.last_plan
        assert plan["blocks_kept"] < plan["blocks_total"]


def test_mid_deleted_top_docs_rank_identical(spark, mid_index, mid_searcher, tmp_path,
                                             access_paths):
    """Delete the exhaustive top-10 of `import`: the docs realizing the
    best frontier pairs are gone, so the blocks holding them must give
    no lower bound, or theta would exceed the k-th live score."""
    import shutil

    from lucene_solr_spark.indexing.deletes import delete_by_keys
    from lucene_solr_spark.search.executor import IndexReader, Searcher

    q = TermQuery(term="import")
    top = mid_searcher.search(q, k=10)
    idx = str(tmp_path / "mid_del")
    shutil.copytree(mid_index, idx)
    keys = (mid_searcher.reader.doc_meta
            .where(mid_searcher.reader.doc_meta["doc_id"].isin(
                [int(d) for d in top["doc_id"]]))
            .select("repo", "path"))
    assert delete_by_keys(spark, idx, keys) == 10
    s = Searcher(IndexReader(spark, idx), precision="float32")
    for path in access_paths():
        exhaustive = s.search(q, k=10)
        assert not set(exhaustive["doc_id"]) & set(top["doc_id"])
        _assert_same(s.search(q, k=10, prune=True), exhaustive,
                     f"{path}: mid-deleted-top")


@pytest.mark.parametrize("terms", [
    ("import", "class"),
    ("class", "ident007", "ident123"),
    ("import", "the", "def"),
    ("import", "class", "ident042"),
])
def test_aligned_slack_rank_identical(searcher, terms, access_paths):
    """The keep rule adds to a block's bound the other terms' best
    bounds over the block's own doc range (the doc-range-aligned
    block-max bound of Ding & Suel 2011 §4), not their global best:
    rank-identical to exhaustive."""
    q = _or(*terms)
    for path in access_paths():
        exhaustive = searcher.search(q, k=10)
        pruned = searcher.search(q, k=10, prune=True)
        _assert_block_max_plan(searcher, path, 2)
        _assert_same(pruned, exhaustive, f"{path}: aligned-or:{terms}")


def test_aligned_slack_prunes_on_mid_corpus(mid_searcher, monkeypatch, access_paths):
    """On the 20k-doc Zipf corpus a two-common-term OR keeps no MORE
    blocks under the doc-range-aligned bound than under each other
    term's global best bound (forced by a range max that returns the
    table's max), and stays rank-identical both ways."""
    import numpy as np

    s = mid_searcher
    q = _or("import", "class")
    range_max = executor._range_max
    for path in access_paths():
        monkeypatch.setattr(executor, "_range_max", range_max)
        exhaustive = s.search(q, k=10)
        aligned = s.search(q, k=10, prune=True)
        kept_aligned = s.last_plan["blocks_kept"]
        _assert_same(aligned, exhaustive, f"{path}: mid-aligned")
        monkeypatch.setattr(executor, "_range_max",
                            lambda st, lo, hi: np.full(len(lo), st[0].max()))
        base = s.search(q, k=10, prune=True)
        kept_global = s.last_plan["blocks_kept"]
        _assert_same(base, exhaustive, f"{path}: mid-global")
        assert kept_aligned <= kept_global, (
            f"aligned bound kept MORE blocks: {kept_aligned} vs {kept_global}")


def test_sparse_table_range_max():
    """_sparse_table/_range_max agree with brute force on random
    ranges (the keep rule's other-term lookup kernel)."""
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


# -- prune="auto": the same keep-set planner ---------------------------------


def test_auto_rank_identical_and_plan_populated(searcher, access_paths):
    q = _or("import", "ident007")
    for path in access_paths():
        exhaustive = searcher.search(q, k=10)
        auto = searcher.search(q, k=10, prune="auto")
        _assert_same(auto, exhaustive, f"{path}: auto-or")
        _assert_block_max_plan(searcher, path, 2)
        assert searcher.last_plan["theta"] is None or searcher.last_plan["theta"] > 0


def test_auto_single_term_rank_identical(searcher, access_paths):
    q = TermQuery(term="import")
    for path in access_paths():
        auto = searcher.search(q, k=10, prune="auto")
        _assert_block_max_plan(searcher, path, 1)
        _assert_same(auto, searcher.search(q, k=10), f"{path}: auto-term")


def test_mid_corpus_plan_estimates_sane(mid_searcher, access_paths):
    """On the 20k Zipf corpus the plan's threshold is a positive score
    and the keep-set it returns has the kept block count (plan
    introspection contract for bench)."""
    s = mid_searcher
    plan = s.plan_pruned_or([("import", 1.0)], 10)
    assert plan["theta"] > 0
    assert 0 < plan["blocks_kept"] < plan["blocks_total"]
    assert sum(map(len, plan["keep"].values())) == plan["blocks_kept"]
    for path in access_paths():
        auto = s.search(TermQuery(term="import"), k=10, prune="auto")
        _assert_same(auto, s.search(TermQuery(term="import"), k=10), f"{path}: mid-auto")
