"""Live fulltext surface: query a corpus DataFrame as an index — the
MemoryIndex analog (memory/MemoryIndex.java), one engine for live and
disk data. FulltextIndex(df, text_col, id_col, stop) builds, on first
use, one segment of df in a temp directory (analyzer simple_stop, or
simple with stop=False; exact norms; stored content) and delegates to
search/executor.py: its float64 Searcher (the SQL oracles' precision)
and IndexReader. close() or garbage collection removes the directory.

Doc ids: the build keys docs by the caller's id (docids.keyed_corpus),
so an engine id is the rank of the caller's id. Results carry the
caller's ids: engine ids as they are when those are the dense range
[0, N), else mapped back through the doc metadata.
"""

from __future__ import annotations

import shutil
import tempfile
import weakref
from typing import NamedTuple, Sequence

from pyspark.sql import DataFrame, functions as F

from . import similarities as sims
from .indexing.docids import id_of_key, keyed_corpus, keys_are_dense
from .queryast import (BooleanClause, BooleanQuery, DisjunctionMaxQuery,
                       MultiTermQuery, Occur, PhraseQuery, SynonymQuery,
                       TermInSetQuery, TermQuery)


class CorpusStats(NamedTuple):
    """Global collection statistics (docCount, sumTotalTermFreq)."""

    doc_count: int
    total_tokens: int

    @property
    def avgdl(self) -> float:
        return self.total_tokens / self.doc_count if self.doc_count else 0.0

    def idf(self, df: int) -> float:
        return sims.idf_bm25(df, self.doc_count)


def corpus_stats(idx: "FulltextIndex") -> CorpusStats:
    """The live index's statistics, from its manifest (builds it on first use)."""
    return CorpusStats(idx.reader.doc_count, idx.reader.sum_dl)


def _topk(scored: DataFrame, k: int) -> DataFrame:
    """TopScoreDocCollector order (score desc, doc_id asc) on the score
    rounded to 6 decimals, so ranks agree with the SQL oracles."""
    return (scored.select("doc_id", F.round(F.col("score"), 6).alias("score"))
            .orderBy(F.desc("score"), F.asc("doc_id")).limit(k))


def _bool(occur: Occur, terms, min_should_match: int = 0) -> BooleanQuery:
    return BooleanQuery(clauses=tuple(BooleanClause(occur, TermQuery(term=t)) for t in terms),
                        min_should_match=min_should_match)


class FulltextIndex:
    """A corpus DataFrame as a queryable index (see the module doc)."""

    def __init__(self, df: DataFrame, text_col: str = "text",
                 id_col: str = "doc_id", stop: bool = True):
        self.df, self.text_col, self.id_col, self.stop = df, text_col, id_col, stop
        self._searcher, self._dense, self._closed, self._cleanup = None, True, False, None

    @property
    def searcher(self):
        """The float64 Searcher over the live segment, built on first use."""
        if self._closed:
            raise ValueError("FulltextIndex is closed")
        if self._searcher is None:
            self._build()
        return self._searcher

    @property
    def reader(self):
        return self.searcher.reader

    def _build(self) -> None:
        import pyarrow.dataset as ds

        from .indexing.builder import build_index
        from .indexing.manifest import doc_meta_path
        from .search.executor import IndexReader, Searcher

        spark = self.df.sparkSession
        path = tempfile.mkdtemp(prefix="lss_live_")  # never spark-*: those are purged
        self._cleanup = weakref.finalize(self, shutil.rmtree, path, True)
        build_index(spark, path, [("live", keyed_corpus(self.df, self.text_col, self.id_col))],
                    analyzer="simple_stop" if self.stop else "simple", norms="exact", store=True)
        reader = IndexReader(spark, path)
        self._dense = keys_are_dense(ds.dataset(
            [ds.dataset(doc_meta_path(reader.store.segment_dir(s.name)))
             for s in reader.manifest.segments]).to_table(columns=["path"]).column("path"))
        self._searcher = Searcher(reader, precision="float64")

    def close(self) -> None:
        """Remove the temp index; any later use raises."""
        self._closed, self._searcher = True, None
        if self._cleanup is not None:
            self._cleanup()

    # -- relations ------------------------------------------------------------

    def _caller(self, df: DataFrame) -> DataFrame:
        """df with its engine doc ids replaced by the caller's ids."""
        if self._dense:
            return df
        ids = self.reader.doc_meta.select(
            F.col("doc_id").alias("_eid"), id_of_key(F.col("path")).alias("doc_id"))
        return df.withColumnRenamed("doc_id", "_eid").join(ids, "_eid").select(*df.columns)

    @property
    def post(self) -> DataFrame:
        """(doc_id, term, tf): the postings relation."""
        return self._caller(self.reader.postings().drop("norm"))

    @property
    def toks(self) -> DataFrame:
        """(doc_id, term, pos): one row per occurrence, positions 1-based."""
        return self._caller(self.reader.postings(positions=True))

    @property
    def dl(self) -> DataFrame:
        """(doc_id, dl): field length after the stop filter."""
        return self._caller(self.reader.doc_meta.select("doc_id", F.col("length").alias("dl")))

    @property
    def stats(self) -> CorpusStats:
        return corpus_stats(self)

    # -- queries the Searcher answers ----------------------------------------

    def _top(self, scored: DataFrame, k: int) -> DataFrame:
        return _topk(self._caller(scored), k)

    def _search(self, q, k: int) -> DataFrame:
        return self._top(self.searcher.scored(q), k)

    def _docs(self, q) -> DataFrame:
        return self._caller(self.searcher.scored(q).select("doc_id"))

    def term_query(self, term: str, k: int = 10):
        return self._search(TermQuery(term=term), k)

    def boolean_and(self, terms: Sequence[str], k: int = 10):
        return self._search(_bool(Occur.MUST, terms), k)

    def boolean_or(self, terms: Sequence[str], k: int = 10, min_should_match: int = 1):
        return self._search(_bool(Occur.SHOULD, terms, min_should_match), k)

    def boolean_not(self, must: Sequence[str], must_not: Sequence[str], k: int = 10):
        return self._search(BooleanQuery(clauses=_bool(Occur.MUST, must).clauses
                                         + _bool(Occur.MUST_NOT, must_not).clauses), k)

    def boolean_filter(self, scoring: Sequence[str], filter_terms: Sequence[str], k: int = 10):
        """SHOULD the scoring terms, FILTER on any of filter_terms."""
        filt = (TermQuery(term=filter_terms[0]) if len(filter_terms) == 1
                else TermInSetQuery(terms=tuple(filter_terms)))
        return self._search(BooleanQuery(clauses=_bool(Occur.SHOULD, scoring).clauses + (
            BooleanClause(Occur.FILTER, filt),), min_should_match=1), k)

    def dismax(self, terms: Sequence[str], tie_breaker: float = 0.1, k: int = 10):
        return self._search(DisjunctionMaxQuery(
            disjuncts=tuple(TermQuery(term=t) for t in terms), tie_breaker=tie_breaker), k)

    def synonym_query(self, terms: Sequence[str], k: int = 10):
        return self._search(SynonymQuery(terms=tuple(terms)), k)

    def phrase_query(self, terms: Sequence[str], k: int = 10):
        return self._search(PhraseQuery(terms=tuple(terms)), k)

    def term_in_set(self, terms: Sequence[str]):
        return self._docs(TermInSetQuery(terms=tuple(terms)))

    def wildcard_match(self, like_pattern: str):
        """Docs holding a term that matches a SQL LIKE pattern."""
        return self._docs(MultiTermQuery(
            kind="wildcard", pattern=like_pattern.replace("%", "*").replace("_", "?")))

    def _expand(self, **kw) -> list:
        return self.reader.expand(MultiTermQuery(**kw), max_terms=2**31 - 1)

    def prefix_terms(self, prefix: str):
        terms = self._expand(kind="prefix", pattern=prefix)
        dfs = self.reader.term_stats(terms)
        return self.df.sparkSession.createDataFrame([(t, dfs[t][0]) for t in terms],
                                                    "term string, df long")

    def fuzzy_terms(self, term: str, max_edits: int = 1):
        terms = self._expand(kind="fuzzy", pattern=term, max_edits=max_edits)
        return self.df.sparkSession.createDataFrame([(t,) for t in terms], "term string")

    # similarities: Searcher.similarity_term_query, top-k
    def _similarity(self, term: str, sim: str, k: int, /, **params) -> DataFrame:
        return self._top(self.searcher.similarity_term_query(term, sim, **params), k)
    def classic_term_query(self, term: str, k: int = 10):
        return self._similarity(term, "classic", k)
    def lm_dirichlet_term_query(self, term: str, k: int = 10, mu: float = 2000.0):
        return self._similarity(term, "lm_dirichlet", k, mu=mu)
    def lm_jelinek_mercer_term_query(self, term: str, k: int = 10, lam: float = 0.7):
        return self._similarity(term, "lm_jelinek_mercer", k, lam=lam)
    def dfr_inl2_term_query(self, term: str, k: int = 10, c: float = 1.0):
        return self._similarity(term, "dfr_inl2", k, c=c)
    def dfi_term_query(self, term: str, k: int = 10):
        return self._similarity(term, "dfi_chi2", k)
    def ib_spl_term_query(self, term: str, k: int = 10, c: float = 1.0):
        return self._similarity(term, "ib_spl", k, c=c)
    def axiomatic_f2exp_term_query(self, term: str, k: int = 10, s: float = 0.5,
                                   k_param: float = 0.35):
        return self._similarity(term, "axiomatic_f2exp", k, s=s, k=k_param)

    # positional queries: the Searcher's span and sloppy-phrase twins, top-k
    def sloppy_phrase(self, t1: str, t2: str, slop: int = 2, k: int = 10):
        return self._top(self.searcher.sloppy_phrase([t1, t2], slop), k)
    def sloppy_phrase_multi(self, terms: Sequence[str], slop: int = 2, k: int = 10):
        return self._top(self.searcher.sloppy_phrase(list(terms), slop), k)
    def span_near(self, terms: Sequence[str], slop: int = 2, k: int = 10, ordered: bool = True):
        return self._top(self.searcher.span_near(list(terms), slop, ordered), k)
    def span_or(self, terms: Sequence[str], k: int = 10):
        return self._top(self.searcher.span_or(list(terms)), k)
    def span_first(self, term: str, end: int, k: int = 10):
        return self._top(self.searcher.span_first(term, end), k)
    def span_not(self, include: str, exclude: str, pre: int = 0, post: int = 0, k: int = 10):
        return self._top(self.searcher.span_not(include, exclude, pre, post), k)
    def span_containing(self, t1: str, t2: str, little: str, slop: int = 4, k: int = 10):
        return self._top(self.searcher.span_containing(t1, t2, little, slop), k)
    def span_within(self, little: str, t1: str, t2: str, slop: int = 4, k: int = 10):
        return self._top(self.searcher.span_within(little, t1, t2, slop), k)

    def passage_highlight(self, terms: Sequence[str], window: int = 16, k: int = 10):
        top = self._caller(self.searcher.passage_highlight(list(terms), window, k))
        return top if self._dense else top.orderBy(F.desc("score"), F.asc("doc_id"))

    def highlight(self, term: str, window: int = 30):
        return self._caller(self.searcher.highlight(term, window))

    def suggest(self, prefix: str, n: int = 10):
        return self.searcher.suggest(prefix, n)

    def suggest_infix(self, fragment: str, n: int = 10):
        return self.searcher.suggest_infix(fragment, n)

    # -- operators without a Searcher twin -----------------------------------

    def ltr_rerank(self, terms: Sequence[str], k: int = 10, first_k: int = 100,
                   weights: Sequence[float] = (0.6, 0.4, -0.002), bias: float = 0.1):
        top = self._caller(self.searcher.ltr_rerank(list(terms), k, first_k, weights, bias))
        return top if self._dense else top.orderBy(F.desc("ltr_score"), F.asc("doc_id"))

    def term_range(self, lo: str, hi: str, k: int = 10):
        """(doc_id, nterms): docs holding terms in [lo, hi], and how many."""
        return self._caller(self.reader.postings(F.col("term").between(lo, hi))).groupBy(
            "doc_id").agg(F.count(F.lit(1)).alias("nterms"))

    def total_hits(self, terms: Sequence[str], mode: str = "or"):
        hits = self.searcher.count(_bool(Occur.MUST if mode == "and" else Occur.SHOULD, terms))
        return self.df.sparkSession.createDataFrame([(hits,)], "total_hits long")

    def search_after(self, term: str, after_score: float, after_doc: int, k: int = 10):
        """The term query's hits strictly after the (rounded score, doc_id) cursor."""
        sc, r = self._caller(self.searcher.scored(TermQuery(term=term))), F.round("score", 6)
        return _topk(sc.where((r < after_score)
                              | ((r == after_score) & (F.col("doc_id") > after_doc))), k)

    def payload_score_query(self, term: str, k: int = 10, func: str = "sum"):
        return self._top(self.searcher.payload_score(term, func), k)

    def feature_saturation_query(self, term: str, feature_col: str, pivot: float,
                                 weight: float = 1.0, k: int = 10):
        """BM25(term) + weight * f / (f + pivot), f a column of df
        (FeatureField.newSaturationQuery)."""
        f = F.col(feature_col).cast("double")
        feats = self.df.select(F.col(self.id_col).alias("doc_id"),
                               (F.lit(weight) * f / (f + F.lit(pivot))).alias("fboost"))
        sc = self._caller(self.searcher.scored(TermQuery(term=term))).join(feats, "doc_id")
        return _topk(sc.select("doc_id", (F.col("score") + F.col("fboost")).alias("score")), k)

    def spell_suggest(self, word: str, max_edits: int = 2, n: int = 5, min_df: int = 1):
        return self.searcher.spell_suggest(word, max_edits, n, min_df)

    def term_facet(self, n: int = 20):
        """Top-n dictionary terms by df, with their ttf."""
        return self.reader.term_dictionary().orderBy(F.desc("df"), F.asc("term")).limit(n)


def significant_terms(idx: FulltextIndex, query_term: str, n: int = 10, min_df: int = 2):
    return idx.searcher.significant_terms(query_term, n, min_df)


def explain_term(idx: FulltextIndex, term: str, doc_id: int):
    return idx._caller(idx.searcher.explain_term(term)).where(F.col("doc_id") == doc_id)
