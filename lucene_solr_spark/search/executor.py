"""Query executor: Query AST -> Weight -> per-range Scorer -> top-k.

Execution mirrors the reference's search lifecycle (SURVEY §3.1):

  rewrite fixpoint           -> queryast.rewrite + term-dict expansion of
                                multi-term nodes, one Spark collect each
                                (MultiTermQuery.java:94-116)
  weight creation / stats    -> a driver-side pyarrow read of the query
                                terms' rows of every segment's term_stats,
                                summed (TermQuery.java:65-66; the in-heap
                                terms index and ExactStatsCache analogs —
                                stats are GLOBAL, never per-slice, and cost
                                no Spark job)
  conjunction skip data      -> the MUST terms' block (min_doc, max_doc)
                                read the same way; numpy keeps the blocks
                                overlapping every MUST term's coverage
                                (ConjunctionDISI.java:185)
  Weight                     -> Searcher.weigh: the rewritten query as a
                                tree of picklable nodes holding its term,
                                phrase and synonym weights, the
                                conjunction / block-max keep-sets and the
                                doc ids of cached FILTER clauses, plus the
                                reader's files and deleted docs — all a
                                scorer needs, with no Searcher or
                                SparkSession (IndexSearcher.createWeight)
  per-slice scorer           -> score_range(weight, span): module numpy
                                functions score every node over the doc-id
                                range [lo, hi): a pyarrow read of the
                                query terms' blk rows overlapping it (and
                                the kept blocks only), one batch decode
                                (_decoded_blocks drops deleted docs and
                                docs outside the range), BM25
                                (_bm25_scores), the phrase's sorted-array
                                match, and per boolean node one
                                aggregation of its clauses' rows
                                (Boolean2ScorerSupplier.java:92-113 occur
                                buckets)
  access path                -> planned postings (summed df, plus ttf for
                                phrase terms, doc count for match-all)
                                under codec.DRIVER_POSTINGS_BUDGET: one
                                range covering the index, scored on the
                                driver, no Spark job (IndexSearcher scores
                                in the caller's thread); over it: one
                                Spark job of defaultParallelism tasks, each
                                scoring one equal-width doc-id slice with
                                the same functions (IndexSearcher.slices
                                with an executor, IndexSearcher.java:233)
  collector / merge          -> per range a numpy partition + lexsort
                                (_top_k_local: score desc, doc_id asc, the
                                `after` cursor); the slices' top-k merged
                                on the driver by the same function
                                (TopDocs.merge, TopDocs.java:209-260)

Scores come in one of two precisions (_bm25_scores):
  float32  — bit-parity with Lucene (BM25Similarity float math); per-term
             score float32, clause sums accumulate float64 -> cast float32.
  float64  — all-double arithmetic with a fixed operation order, used by
             the SQL-checked query surface (bit-reproducible vs DuckDB);
             a byte norm is decoded to its SmallFloat length first, as
             the span and similarity expressions do (_dl_col).

Pruning (block metadata = the skip-list/WAND analog, SURVEY §4):
  term / OR-of-terms top-k (search(..., prune=True or "auto")) plans a
  block-max keep-set on the driver from the skip data (Broder et al.
  2003; Ding & Suel 2011; plan_pruned_or): per-block upper and lower
  bounds from each block's competitive impact frontier, a threshold
  theta from the k best lower bounds of one term, and a keep rule that
  drops every block whose bound plus the other terms' best bounds over
  its doc range stays below theta. The Weight carries the keep-set, so
  every scorer reads only the kept blocks, and the top-k is exactly the
  exhaustive one (checked in tests/test_wand.py).

Span, sloppy-phrase, similarity and highlight operators still build
Spark column expressions over the decoded postings (IndexReader.postings).
"""

from __future__ import annotations

import functools
import logging
import math
import os
from dataclasses import dataclass
from typing import Dict, Iterator, List, Optional, Tuple

import numpy as np
import pandas as pd

from .. import bm25, codec
from ..codec import IMPACT_CAP, decode_blocks_batch
from ..fields import FIELD_SEP, split_term_key, term_key
from ..smallfloat import LENGTH_TABLE
from ..indexing.builder import POSTINGS_SCHEMA
from ..indexing.deletes import DeadDocs, dead_docs
from ..indexing.merge import _blocks_have_positions
from ..indexing.manifest import (ManifestStore, _data_files, _footer_schema,
                                 _read_term_rows, doc_meta_path, postings_path)
from ..queryast import (
    BooleanQuery,
    BooleanClause,
    DisjunctionMaxQuery,
    MatchAllDocsQuery,
    MatchNoDocsQuery,
    MultiTermQuery,
    Occur,
    PhraseQuery,
    Query,
    SynonymQuery,
    TermInSetQuery,
    TermQuery,
    rewrite,
)

_log = logging.getLogger("lucene_solr_spark.search")


class IndexReader:
    """Unified view over the live segments of an index. The norm
    encoding ('byte' or 'exact') is the one the manifest records."""

    def __init__(self, spark, index_dir: str):
        self.spark = spark
        self.index_dir = index_dir
        self.store = ManifestStore(index_dir)
        self.manifest = self.store.load()
        if not self.manifest.segments:
            raise ValueError(f"no live segments in {index_dir}")
        self.norms = self.manifest.norms
        self.doc_count = self.manifest.total_docs
        self.sum_dl = self.manifest.sum_dl
        segs = [self.store.segment_dir(s.name) for s in self.manifest.segments]
        self._block_dirs = [postings_path(d) for d in segs]
        self._stats_dirs = [os.path.join(d, "term_stats.parquet") for d in segs]
        doc_dirs = [doc_meta_path(d) for d in segs]
        # the data files, listed once at open: every pyarrow read of a
        # query (statistics, skip data, blobs, doc ids) opens exactly these
        stats_groups = [_data_files(d) for d in self._stats_dirs]
        self._stats_files = [f for g in stats_groups for f in g]
        self._block_groups = [_data_files(d) for d in self._block_dirs]
        self._block_files = [f for g in self._block_groups for f in g]
        doc_groups = [_data_files(d) for d in doc_dirs]
        self._doc_files = [f for g in doc_groups for f in g]
        # pinned schemas, so no read infers one (an inference is a Spark
        # job): blocks take the writers' POSTINGS_SCHEMA; term stats and
        # doc meta (whose columns vary with fields and stored content)
        # take one pyarrow footer read per segment
        self.blocks = spark.read.schema(POSTINGS_SCHEMA).parquet(*self._block_dirs)
        self.stats = spark.read.schema(
            _footer_schema(stats_groups)).parquet(*self._stats_dirs)
        self.doc_meta = spark.read.schema(_footer_schema(doc_groups)).parquet(*doc_dirs)
        # liveDocs: the deleted-docs bitsets, read on the driver; every
        # Python stage drops deleted docs as it decodes them. Stats still
        # count them ("docFreq ignores deletions") until a merge purges
        self.dead: Optional[DeadDocs] = dead_docs(self.store, self.manifest.segments)
        self.has_deletes = self.dead is not None
        # identifies this index VIEW for the query cache (dir +
        # generation: a commit invalidates cached doc sets)
        self.cache_scope = f"{index_dir}@{self.manifest.generation}"
        # per-field CollectionStatistics (FieldInfos analog): summed
        # across segments from the manifest — no data scan needed
        self.field_stats: Dict[str, Tuple[int, int]] = {}
        for s in self.manifest.segments:
            for f, v in (s.field_stats or {}).items():
                dc, dl = self.field_stats.get(f, (0, 0))
                self.field_stats[f] = (dc + int(v[0]), dl + int(v[1]))

    @property
    def doc_range(self) -> Tuple[int, int]:
        """[lo, hi): the doc ids the live segments span."""
        segs = self.manifest.segments
        return (min(s.doc_base for s in segs),
                max(s.doc_base + s.doc_span for s in segs))

    @functools.cached_property
    def has_positions(self) -> bool:
        """Whether every segment's blocks carry positions: one flag byte
        per segment (merge._blocks_have_positions), read on first use."""
        return all(_blocks_have_positions(g) is not False for g in self._block_groups)

    def drop_deleted(self, df):
        """df without its deleted docs: a bitset probe in a mapInPandas
        that fuses into df's scan (MatchAllDocs, highlight, sorted_head)."""
        dead = self.dead
        if dead is None:
            return df

        def drop(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            for pdf in batches:
                yield pdf[~dead.probe(pdf["doc_id"].to_numpy(np.int64))]

        return df.mapInPandas(drop, df.schema)

    def collection_stats(self, field: Optional[str]) -> Tuple[int, int]:
        """(docCount, sumTotalTermFreq) for a field — the BM25 N/avgdl
        inputs (CollectionStatistics). field=None: whole-index totals
        (single-field indexes)."""
        if field is None:
            return self.doc_count, self.sum_dl
        return self.field_stats.get(field, (0, 0))

    def sorted_head(self, k: int):
        """EarlyTerminatingSortingCollector over the segment index
        (EarlyTerminatingSortingCollector.java:55 +
        IndexWriterConfig.setIndexSort:495): per-segment head-k as the
        pushed-down range predicate doc_id < doc_base + k (docIDs are
        dense in sort order, so parquet min/max stats prune every row
        group past the head — no Sort, no full read),
        then one tiny merge sort over the <= k * n_segments survivors
        (the TopFieldDocs.merge step). Correct because the builder
        assigned docIDs in index_sort order, so each chamber-built
        segment's docID order IS its sort order.

        The fast path is GUARDED by the manifest: deletes, ids that are
        not dense (doc_span != doc_count) or a merged segment (its
        cross-batch docID order is the sort order only if batches arrived
        monotone) -> full TakeOrdered over doc_meta (always correct)."""
        from functools import reduce

        from pyspark.sql import DataFrame, functions as F

        sort = self.manifest.index_sort
        if not sort:
            raise ValueError("index has no index_sort (build with index_sort=[...])")

        segs = self.manifest.segments
        if self.has_deletes or any(
            s.doc_span != s.doc_count or str(s.source_batch).startswith("merge:")
            for s in segs
        ):
            src = self.drop_deleted(self.doc_meta)
        else:
            # docIDs are dense in sort order within each segment, so its
            # first k docs are exactly ids < doc_base + k: a
            # parquet-pushable range predicate — row groups past the head
            # never leave disk (the scan-stops-early move; a bare LIMIT
            # would not work, Spark schedules splits by size)
            src = reduce(DataFrame.unionByName, [
                self.spark.read.schema(self.doc_meta.schema)
                .parquet(doc_meta_path(self.store.segment_dir(s.name)))
                .where(F.col("doc_id") < s.doc_base + k) for s in segs])
        return src.orderBy(
            *[F.col(c) for c in sort], F.asc("doc_id")
        ).limit(k)

    def _term_stats_rows(self, terms: Tuple[str, ...]) -> list:
        """The query terms' entries of every live segment's term
        dictionary (term_stats), read on the driver with pyarrow — the
        in-heap terms index analog (BlockTreeTermsWriter.java:196), so
        statistics cost no Spark job. One Row per term, the shape of a
        groupBy("term") over self.stats: df and ttf summed across
        segments and their part files. Columns are selected by name, so
        format-2 segments whose term stats carry more columns read the
        same. Single-entry cache that also serves any subset of its
        terms, as one search asks for all its terms first (the driver
        budget) and then for each stage's."""
        from pyspark.sql import Row

        cached = getattr(self, "_stats_rows_cache", None)
        if cached is not None and set(terms) <= cached[0]:
            return [r for r in cached[1] if r["term"] in terms]
        tbl = _read_term_rows(self._stats_files, ["term", "df", "ttf"], terms)
        acc: Dict[str, List[int]] = {}
        for t, df, ttf in zip(*(tbl.column(c).to_pylist()
                                for c in ("term", "df", "ttf"))):
            a = acc.setdefault(t, [0, 0])
            a[0] += df
            a[1] += ttf
        rows = [Row(term=t, df=a[0], ttf=a[1]) for t, a in sorted(acc.items())]
        self._stats_rows_cache = (set(terms), rows)
        return rows

    def term_stats(self, terms: List[str]) -> Dict[str, Tuple[int, int]]:
        """Global (df, ttf) per term — summed across segments on the
        driver, broadcast into scoring UDFs."""
        if not terms:
            return {}
        rows = self._term_stats_rows(tuple(sorted(set(terms))))
        return {r["term"]: (int(r["df"]), int(r["ttf"])) for r in rows
                if r["term"] in set(terms)}

    def postings(self, where=None, positions: bool = False):
        """Decoded postings of the blocks whose term matches `where` (a
        Column; None: all): (doc_id, term, tf, norm) per posting, or
        (doc_id, term, pos) per occurrence with 1-based positions.
        Deleted docs drop out."""
        dead = self.dead

        def rows(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            for pdf in batches:
                blocks = list(_decoded_blocks(pdf, positions=positions, dels=dead))
                if not blocks:
                    continue
                terms, docs, tfs, norms = ([b[i] for b in blocks] for i in range(4))
                doc, tf = np.concatenate(docs), np.concatenate(tfs)
                term = _repeat_terms(terms, docs)
                if positions:
                    yield pd.DataFrame({
                        "doc_id": np.repeat(doc, tf), "term": np.repeat(term, tf),
                        "pos": np.concatenate([b[4] for b in blocks]) + 1})
                else:
                    yield pd.DataFrame({"doc_id": doc, "term": term, "tf": tf,
                                        "norm": np.concatenate(norms)})

        blocks = self.blocks if where is None else self.blocks.where(where)
        return blocks.select("term", "blob", *(["pblob"] if positions else [])).mapInPandas(
            rows, "doc_id long, term string, "
            + ("pos int" if positions else "tf long, norm int"))

    def term_dictionary(self):
        """(term, df, ttf) of every term, summed over the part files."""
        from pyspark.sql import functions as F

        return self.stats.groupBy("term").agg(F.sum("df").alias("df"),
                                              F.sum("ttf").alias("ttf"))

    def expand(self, q: MultiTermQuery, max_terms: int = 4096) -> List[str]:
        """Expand a multi-term query against the term dictionary with
        the predicate pushed into Spark (BlockTree intersect analog: the
        scan prunes on the term column's parquet min/max stats): one
        Spark job, a collect of the matching rows, deduplicated on the
        driver. Field-scoped queries pre-filter to the field's key-prefix
        range (still parquet-prunable — keys sort by field first) and
        match the pattern against the bare-term suffix; returns the first
        max_terms matching BARE terms in term order."""
        from pyspark.sql import functions as F

        pre = "" if q.field is None else q.field + FIELD_SEP
        src = self.stats
        if pre:
            src = src.where(F.col("term").startswith(pre))
            t = F.expr(f"substring(term, {len(pre) + 1})")
        else:
            t = F.col("term")
        if q.kind == "prefix":
            cond = t.startswith(q.pattern)
        elif q.kind == "wildcard":
            rx = "".join(
                ".*" if c == "*" else "." if c == "?" else _re_escape(c)
                for c in q.pattern
            )
            cond = t.rlike(f"^{rx}$")
        elif q.kind == "regexp":
            cond = t.rlike(f"^{q.pattern}$")
        elif q.kind == "range":
            cond = F.lit(True)
            if q.pattern is not None:
                cond = cond & (t >= q.pattern if q.include_lower else t > q.pattern)
            if q.upper is not None:
                cond = cond & (t <= q.upper if q.include_upper else t < q.upper)
        elif q.kind == "fuzzy":
            cond = (F.length(t) >= len(q.pattern) - q.max_edits) & (
                F.length(t) <= len(q.pattern) + q.max_edits
            ) & (F.levenshtein(t, F.lit(q.pattern)) <= q.max_edits)
        else:
            raise ValueError(q.kind)
        rows = src.where(cond).select(t.alias("term")).collect()
        return sorted({r["term"] for r in rows})[:max_terms]


class MultiReader:
    """Union view over several indexes — the MultiReader / sharded-
    search analog (index/MultiReader.java; Solr distributed search with
    ExactStatsCache): collection and term statistics are summed across
    shards BEFORE scoring, so a term's idf is identical on every shard
    and the merged top-k equals a single-index search (TopDocs.merge
    needs no score rescaling). The existing Searcher works unchanged on
    top of this reader.

    Requirement (as in Lucene, where MultiReader rebases per-leaf doc
    ids): shard doc-id ranges must be disjoint — build each shard with
    its own doc_base (build_index(..., doc_base=...)); postings blobs
    carry absolute ids, so the union needs no remapping."""

    def __init__(self, readers: List["IndexReader"]):
        if not readers:
            raise ValueError("MultiReader needs at least one reader")
        self.readers = readers
        self.spark = readers[0].spark
        self.norms = readers[0].norms
        if any(r.norms != self.norms for r in readers):
            raise ValueError("shards disagree on norms encoding")
        # each shard's id range, over the doc_span of merged segments
        spans = sorted(
            (min(s.doc_base for s in r.manifest.segments),
             max(s.doc_base + s.doc_span for s in r.manifest.segments))
            for r in readers
        )
        for (a1, b1), (a2, b2) in zip(spans, spans[1:]):
            if b1 > a2:
                raise ValueError(
                    f"shard doc ranges overlap: [{a1},{b1}) vs [{a2},{b2}) — "
                    "build shards with disjoint doc_base ranges"
                )
        self.doc_count = sum(r.doc_count for r in readers)
        self.sum_dl = sum(r.sum_dl for r in readers)
        self.blocks = _union_all([r.blocks for r in readers])
        self.stats = _union_all([r.stats for r in readers])
        self.doc_meta = _union_all([r.doc_meta for r in readers])
        self._block_files = [f for r in readers for f in r._block_files]
        self._stats_files = [f for r in readers for f in r._stats_files]
        self._doc_files = [f for r in readers for f in r._doc_files]
        dead = [p for r in readers if r.dead is not None for p in r.dead.parts]
        self.dead = DeadDocs(dead) if dead else None
        self.has_deletes = self.dead is not None
        self.field_stats: Dict[str, Tuple[int, int]] = {}
        for r in readers:
            for f, (dc, dl) in r.field_stats.items():
                c0, l0 = self.field_stats.get(f, (0, 0))
                self.field_stats[f] = (c0 + dc, l0 + dl)
        self.cache_scope = "+".join(r.cache_scope for r in readers)

        class _Segs:
            segments = [s for r in readers for s in r.manifest.segments]

        self.manifest = _Segs()

    doc_range = IndexReader.doc_range

    @property
    def has_positions(self) -> bool:
        return all(r.has_positions for r in self.readers)

    drop_deleted = IndexReader.drop_deleted
    _term_stats_rows = IndexReader._term_stats_rows
    term_stats = IndexReader.term_stats
    collection_stats = IndexReader.collection_stats
    postings = IndexReader.postings
    term_dictionary = IndexReader.term_dictionary
    expand = IndexReader.expand


def _union_all(dfs):
    out = dfs[0]
    for d in dfs[1:]:
        out = out.unionByName(d, allowMissingColumns=True)
    return out


class Searcher:
    def __init__(self, reader: IndexReader, precision: str = "float32",
                 default_field: Optional[str] = None, query_cache=None):
        """default_field: field applied to query leaves that carry none
        (QueryParser's default-field argument, QueryParser.jj:289) —
        required for natural syntax against multi-field indexes.
        query_cache: optional search.cache.QueryCache — non-term FILTER
        clause doc-id arrays are kept and reused across searches
        (LRUQueryCache.java:60 semantics: DocIdSets, never Scorers)."""
        self.reader = reader
        self.precision = precision
        self.default_field = default_field
        self.query_cache = query_cache
        # the plan of the last search()/scored()/count() call, for
        # bench/test introspection (_explain)
        self.last_plan = None
        # (blocks kept, blocks total) of each skip-data prefilter run
        # since the last query began, and the Spark jobs run before its
        # scoring (multi-term expansions, cached FILTER sets over budget)
        self._skips: List[Tuple[int, int]] = []
        self._jobs = 0

    def _with_default_field(self, q: Query) -> Query:
        if self.default_field is None:
            return q
        from ..queryast import with_field

        return with_field(q, self.default_field)

    # -- weights ------------------------------------------------------------

    def _weight(self, field: Optional[str], boost: float, idf: float,
                idf32=None) -> dict:
        """Scoring constants of one term, phrase or synonym, in the one
        weight shape that every scoring stage (_bm25_scores) and block
        bound (_block_bounds) reads: wv (the tf -> inf score asymptote)
        and avgdl, plus the 256-entry norm cache (float32) or idf and
        boost (float64).
        idf is the float64 idf; idf32 the float32 one when it is not
        float32(idf) (a phrase sums its terms' float32 idfs). The
        float32 constants follow BM25Similarity's operation order."""
        n, sttf = self.reader.collection_stats(field)
        if n <= 0:
            n, sttf = 1, 1  # unknown field: no postings exist anyway
        if self.precision == "float32":
            idf32 = np.float32(idf) if idf32 is None else idf32
            wv = np.float32(np.float32(idf32 * np.float32(boost))
                            * (bm25.K1 + np.float32(1.0)))
            avgdl = bm25.avg_field_length(sttf, n)
            return {"wv": float(wv), "avgdl": float(avgdl),
                    "cache": bm25.norm_cache(avgdl).tolist()}
        return {"wv": idf * (bm25.K1 + 1.0) * boost, "avgdl": sttf / n,
                "idf": idf, "boost": boost}

    def _weights(self, terms_with_boost: List[Tuple[str, float]]) -> dict:
        """{"term\\x00boost": weight} (_weight, plus the term's df) per
        (term, boost). Terms are term-dict KEYS (possibly
        field-prefixed); N and avgdl come from the key's field stats
        (per-field CollectionStatistics)."""
        stats = self.reader.term_stats(sorted({t for t, _ in terms_with_boost}))
        out = {}
        for term, boost in terms_with_boost:
            fld, _ = split_term_key(term)
            df = stats.get(term, (0, 0))[0]
            n = max(self.reader.collection_stats(fld)[0], 1)
            out[f"{term}\x00{boost}"] = dict(
                self._weight(fld, boost, _idf(df, n)), df=df)
        return out

    # -- Weight: the query weighed on the driver -------------------------------

    def weigh(self, q: Query, keep: Optional[Dict[str, set]] = None) -> Weight:
        """The Weight of a rewritten query (_prepare): its term
        statistics read, its weights computed and its keep-sets planned,
        here on the driver, so any scorer (score_range) can run it.
        keep: the block keep-set of a term or OR-of-terms query
        (plan_pruned_or)."""
        r = self.reader
        root = self._weigh(q, 1.0, keep)
        return Weight(q, root, _planned(root), r._block_files, r._doc_files, r.dead,
                      self.precision, r.norms)

    def _const(self, boost: float) -> float:
        return float(np.float32(boost)) if self.precision == "float32" else float(boost)

    def _weigh(self, q: Query, boost: float, keep=None) -> dict:
        """The node of q (score_range lists the kinds); "postings" is
        what its scorer decodes at most: the summed df of its terms,
        their ttf too in a phrase, the doc count for match-all."""
        b = boost * q.boost
        if isinstance(q, MatchNoDocsQuery):
            return {"kind": "none"}
        if isinstance(q, MatchAllDocsQuery):
            return {"kind": "all", "score": self._const(b), "postings": self.reader.doc_count}
        if isinstance(q, TermQuery):
            return self._weigh_terms([(0, term_key(q.field, q.term), b)], keep)
        if isinstance(q, TermInSetQuery):
            keys = sorted({term_key(q.field, t) for t in q.terms})
            stats = self.reader.term_stats(keys)
            return {"kind": "termset", "terms": keys, "score": self._const(b),
                    "postings": sum(stats.get(t, (0, 0))[0] for t in keys)}
        if isinstance(q, SynonymQuery):
            return self._weigh_synonym(q, b)
        if isinstance(q, PhraseQuery):
            return self._weigh_phrase(q, b)
        if isinstance(q, DisjunctionMaxQuery):
            return {"kind": "dismax", "tie": float(q.tie_breaker),
                    "subs": [self._weigh(d, b) for d in q.disjuncts]}
        if isinstance(q, BooleanQuery):
            return self._weigh_boolean(q, b, keep)
        raise TypeError(f"unsupported query node: {q!r}")

    def _weigh_terms(self, clause_terms: List[Tuple[int, str, float]],
                     keep: Optional[Dict[str, set]]) -> dict:
        """Term clauses scored together: clause_terms are (clause_id,
        term, boost). keep: kept block keys per term, {term: min_doc
        values} (the conjunction prefilter's, _conjunction_blocks, or the
        block-max planner's, plan_pruned_or); other blocks are never
        read."""
        by_term: Dict[str, List[Tuple[int, float]]] = {}
        for cid, t, b in clause_terms:
            by_term.setdefault(t, []).append((cid, b))
        weights = self._weights([(t, b) for _, t, b in clause_terms])
        return {"kind": "terms", "by_term": by_term, "weights": weights, "keep": keep,
                "postings": sum(weights[f"{t}\x00{cb[0][1]}"]["df"]
                                for t, cb in by_term.items())}

    def _weigh_synonym(self, q: SynonymQuery, boost: float) -> dict:
        """Blended stats: df = max over terms; tf summed per doc
        (SynonymQuery.java:47)."""
        keys = sorted({term_key(q.field, t) for t in q.terms})
        stats = self.reader.term_stats(keys)
        dfs = [stats.get(t, (0, 0))[0] for t in keys]
        n, _ = self.reader.collection_stats(q.field)
        if max(dfs, default=0) == 0 or n <= 0:
            return {"kind": "none"}
        return {"kind": "synonym", "terms": keys, "postings": sum(dfs),
                "weight": self._weight(q.field, boost, _idf(max(dfs), n))}

    def _weigh_phrase(self, q: PhraseQuery, boost: float) -> dict:
        """Exact phrase (slop=0, ExactPhraseMatcher): the (doc, tf,
        norm) of each match scores like a term with idf = the terms'
        idfs summed (BM25Similarity idfExplain array). A phrase match is
        a conjunction match: the skip-data keep-set applies. Refused on
        an index built without positions, before any blob is read."""
        if not self.reader.has_positions:
            raise ValueError("phrase query on an index built with positions=False")
        terms = [term_key(q.field, t) for t in q.terms]
        n, _ = self.reader.collection_stats(q.field)
        stats = self.reader.term_stats(terms) if n > 0 else {}
        if n <= 0 or any(stats.get(t, (0, 0))[0] == 0 for t in terms):
            return {"kind": "none"}
        # float32 sums the float32 idfs in double, then rounds once
        idfs = [_idf(stats[t][0], n) for t in terms]
        idf32 = np.float32(float(np.sum(np.array(
            [float(np.float32(i)) for i in idfs], dtype=np.float64))))
        # a phrase may repeat a term ("end to end"): the term fills each
        # slot it occupies
        slots: Dict[str, List[int]] = {}
        for i, t in enumerate(terms):
            slots.setdefault(t, []).append(i)
        distinct = sorted(slots)
        keep = (self._conjunction_blocks(distinct, distinct)[0]
                if len(distinct) >= 2 else None)
        return {"kind": "phrase", "slots": slots, "nslots": len(terms), "keep": keep,
                "weight": self._weight(q.field, boost, sum(idfs), idf32),
                "postings": sum(stats[t][0] + stats[t][1] for t in distinct)}

    def _weigh_boolean(self, q: BooleanQuery, boost: float, keep=None) -> dict:
        """Term clauses become one "terms" node, every other clause its
        own sub-node; a non-term FILTER clause with a query cache becomes
        its cached doc ids (LRUQueryCache: FILTER doc sets are
        constant-score and stats-free). Conjunctions whose clauses are all
        terms, >= 2 of them MUST/FILTER, skip every block outside the MUST
        terms' common doc ranges (exact; _conjunction_blocks). keep: the
        term clauses' keep-set, planned by the caller (plan_pruned_or)."""
        occur = {i: c.occur for i, c in enumerate(q.clauses)}
        flat: List[Tuple[int, str, float]] = []
        subs, cids = [], []
        for i, c in enumerate(q.clauses):
            if isinstance(c.query, TermQuery):
                flat.append((i, term_key(c.query.field, c.query.term),
                             boost * c.query.boost if c.occur != Occur.FILTER else 1.0))
                continue
            if c.occur == Occur.FILTER and self.query_cache is not None:
                ids = self.query_cache.get_or_eval(
                    c.query, lambda q=c.query: self._matches(q),
                    scope=getattr(self.reader, "cache_scope", ""))
                subs.append({"kind": "docs", "ids": ids})
            else:
                subs.append(self._weigh(c.query, boost if c.occur != Occur.FILTER else 1.0))
            cids.append(i)
        terms = None
        if flat:
            must = sorted({t for cid, t, _ in flat if occur[cid] in (Occur.MUST, Occur.FILTER)})
            # prune only when every clause is a flat term: a non-term MUST
            # clause (e.g. a phrase) is not in the common region, and its
            # matches would be cut by the pruned SHOULD/NOT decodes
            if keep is None and len(must) >= 2 and len(flat) == len(q.clauses):
                keep = self._conjunction_blocks(must, sorted({t for _, t, _ in flat}))[0]
            terms = self._weigh_terms(flat, keep)
        mm = q.min_should_match
        if Occur.SHOULD in occur.values() and not {Occur.MUST, Occur.FILTER} & set(occur.values()):
            mm = max(mm, 1)
        return {"kind": "bool", "terms": terms, "subs": subs, "cids": cids, "occur": occur,
                "mm": mm, "postings": terms["postings"] if terms else 0}

    # -- segment-native positions / similarities / spans ---------------------
    #
    # Span, sloppy-phrase and pluggable-Similarity queries (the live
    # FulltextIndex delegates to these too): blocks already store
    # positions and norms, so these are decode + the shared
    # scoring/matching expressions (similarities.py, spanmatch.py).
    # Scoring here is float64 (the SQL-oracle precision); the float32
    # Lucene-bit-parity claim covers the BM25 term/boolean/phrase paths.

    def _dl_col(self, norm_col):
        """Document length from the stored norm: exact mode stores the
        length itself; byte mode decodes the SmallFloat quantized
        length (exactly what Lucene similarities see at query time)."""
        from pyspark.sql import functions as F

        if self.reader.norms == "byte":
            table = F.array(*[F.lit(float(v)) for v in LENGTH_TABLE.tolist()])
            return F.element_at(table, (norm_col % 256) + F.lit(1))
        return norm_col

    def _decode_positions_packed(self, term_keys: List[str]):
        """(doc_id, term, norm, parr): per-(doc, term) position ARRAYS
        decoded from blocks — a doc's positions for a term live in one
        block entry, so the array is complete at decode time. One row
        per posting entry (df rows) instead of one per occurrence (ttf
        rows): the span/phrase gather shuffle shrinks ~avg_tf-fold and
        the downstream agg becomes first(ignorenulls) instead of ttf
        singleton collect_list appends. Positions are presented 1-BASED
        (pos0 + 1), matching the SQL oracles; blocks store 0-based
        positions."""
        dead = self.reader.dead

        def decode_pos(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            for pdf in batches:
                blocks = list(_decoded_blocks(pdf, positions=True, dels=dead))
                if blocks:
                    terms, docs, tfs, norms, pos = zip(*blocks)
                    yield pd.DataFrame({
                        "doc_id": np.concatenate(docs),
                        "term": _repeat_terms(terms, docs),
                        "norm": np.concatenate(norms),
                        "parr": pd.Series([a for p, f in zip(pos, tfs) for a in
                                           np.split(p + 1, np.cumsum(f)[:-1])],
                                          dtype=object),
                    })

        from pyspark.sql import functions as F

        return (
            self.reader.blocks.where(F.col("term").isin(sorted(set(term_keys))))
            .select("term", "blob", "pblob")
            .mapInPandas(decode_pos,
                         "doc_id long, term string, norm int, parr array<long>")
        )

    def _gather_positions(self, term_keys: List[str],
                          shifts: Optional[List[int]] = None):
        """(doc_id, dl, p0..p_{n-1}): per-doc position arrays per query
        slot — ONE decode pass + ONE shuffle (the exact-phrase gather
        pattern generalized to spans). Arrays ship packed per posting
        entry; an absent slot coalesces to an empty array (span_not's
        exclude slot legitimately matches docs without the term)."""
        from pyspark.sql import functions as F

        occ = self._decode_positions_packed(term_keys)
        aggs = [F.first("norm").alias("norm")]
        for i, t in enumerate(term_keys):
            parr = F.col("parr")
            if shifts and shifts[i]:
                # NB: the lambda must take exactly ONE parameter — a
                # second (even defaulted) makes F.transform pass the
                # array INDEX to it
                def _shift(s):
                    return lambda x: x - F.lit(s)

                parr = F.transform(parr, _shift(int(shifts[i])))
            aggs.append(
                F.first(F.when(F.col("term") == t, parr), ignorenulls=True)
                .alias(f"p{i}")
            )
        g = occ.groupBy("doc_id").agg(*aggs)
        empty = F.array().cast("array<long>")
        g = g.select(
            "doc_id", "norm",
            *[F.coalesce(F.col(f"p{i}"), empty).alias(f"p{i}")
              for i in range(len(term_keys))],
        )
        return g.withColumn("dl", self._dl_col(F.col("norm"))).drop("norm")

    def _span_stats(self, term_keys: List[str], field: Optional[str]):
        """(idf_sum, avgdl) for a span query: per-term BM25 idf summed
        over ALL enclosed terms (SpanWeight.buildSimWeight collects
        every termContext); empty-df terms make the span unmatchable."""
        from .. import similarities as sims

        n, sttf = self.reader.collection_stats(field)
        if n <= 0:
            return None
        stats = self.reader.term_stats(sorted(set(term_keys)))
        if any(stats.get(t, (0, 0))[0] == 0 for t in term_keys):
            return None
        # Per SLOT, duplicates included — SpanWeight.buildSimWeight
        # collects every enclosed TermContext, so a repeated term
        # contributes its idf once per occurrence in the query, as the
        # SQL oracles of span_near and the sloppy phrases sum it.
        idf_sum = sum(sims.idf_bm25(stats[t][0], n) for t in term_keys)
        return idf_sum, sttf / n

    def _score_span_freq(self, freq_df, idf_sum: float, avgdl: float):
        """BM25-score a (doc_id, dl, tf) span-frequency frame."""
        from pyspark.sql import functions as F

        from .. import similarities as sims

        return freq_df.where(F.col("tf") > 0).select(
            "doc_id",
            sims.bm25_score(F.col("tf"), F.col("dl"), idf=idf_sum, avgdl=avgdl)
            .alias("score"),
        )

    def _empty_scored(self):
        return self.reader.spark.createDataFrame([], "doc_id long, score double")

    def span_near(self, terms: List[str], slop: int = 2,
                  ordered: bool = True, field: Optional[str] = None):
        """SpanNearQuery over the segment index (spans/
        SpanNearQuery.java:42): decode positions -> per-doc array
        gather -> windowed tuple-weight expression (spanmatch) ->
        BM25 with summed idf."""
        from pyspark.sql import functions as F

        from ..spanmatch import near_weight

        keys = [term_key(field, t) for t in terms]
        st = self._span_stats(keys, field)
        if st is None:
            return self._empty_scored()
        idf_sum, avgdl = st
        n = len(keys)
        g = self._gather_positions(keys)
        w = near_weight([F.col(f"p{i}") for i in range(n)], slop,
                        ordered=ordered, width_offset=1 - n)
        return self._score_span_freq(
            g.select("doc_id", "dl", w.alias("tf")), idf_sum, avgdl)

    def sloppy_phrase(self, terms: List[str], slop: int = 2,
                      field: Optional[str] = None):
        """Sloppy phrase over the segment index (SloppyPhraseMatcher):
        slot-adjusted positions q_i = p_i - i, tuple weight 1/(w+1)
        with w = max(q) - min(q) <= slop — the n-term generalization
        (the 2-term |p2-p1-1| form is its n=2 case)."""
        from pyspark.sql import functions as F

        from ..spanmatch import near_weight

        keys = [term_key(field, t) for t in terms]
        st = self._span_stats(keys, field)
        if st is None:
            return self._empty_scored()
        idf_sum, avgdl = st
        n = len(keys)
        g = self._gather_positions(keys, shifts=list(range(n)))
        w = near_weight([F.col(f"p{i}") for i in range(n)], slop,
                        ordered=False, width_offset=0)
        return self._score_span_freq(
            g.select("doc_id", "dl", w.alias("tf")), idf_sum, avgdl)

    def span_or(self, terms: List[str], field: Optional[str] = None):
        """SpanOrQuery over term sub-spans (spans/SpanOrQuery.java:38):
        freq = summed tf across terms (term spans never overlap
        themselves), idf = sum over the enclosed terms' stats. Needs no
        positions — one block decode + hash agg."""
        from pyspark.sql import functions as F

        keys = [term_key(field, t) for t in terms]
        st = self._span_stats(keys, field)
        if st is None:
            return self._empty_scored()
        idf_sum, avgdl = st
        per_doc = (
            self._tf_dl_df(keys)
            .groupBy("doc_id")
            .agg(F.sum("tf").cast("double").alias("tf"), F.first("dl").alias("dl"))
        )
        return self._score_span_freq(per_doc, idf_sum, avgdl)

    def span_first(self, term: str, end: int, field: Optional[str] = None):
        """SpanFirstQuery (spans/SpanFirstQuery.java:33): occurrences
        at 1-based position <= end; freq = matching occurrences."""
        from pyspark.sql import functions as F

        key = term_key(field, term)
        st = self._span_stats([key], field)
        if st is None:
            return self._empty_scored()
        idf, avgdl = st
        # one row per (doc, term) holds all the doc's positions: count
        # the early ones in place, no shuffle
        freq = self._decode_positions_packed([key]).select(
            "doc_id",
            F.size(F.filter("parr", lambda p: p <= end)).cast("double").alias("tf"),
            self._dl_col(F.col("norm")).alias("dl"))
        return self._score_span_freq(freq, idf, avgdl)

    def span_not(self, include: str, exclude: str, pre: int = 0,
                 post: int = 0, field: Optional[str] = None):
        """SpanNotQuery (spans/SpanNotQuery.java:44): include
        occurrences with no exclude occurrence within [p-pre, p+post];
        the exclusion contributes no stats (SpanNotWeight)."""
        from pyspark.sql import functions as F

        from ..spanmatch import span_not_count

        ikey, xkey = term_key(field, include), term_key(field, exclude)
        st = self._span_stats([ikey], field)
        if st is None:
            return self._empty_scored()
        idf, avgdl = st
        g = self._gather_positions([ikey, xkey])
        w = span_not_count(F.col("p0"), F.col("p1"), pre, post)
        return self._score_span_freq(
            g.select("doc_id", "dl", w.alias("tf")), idf, avgdl)

    def span_containing(self, t1: str, t2: str, little: str, slop: int = 4,
                        field: Optional[str] = None):
        """SpanContainingQuery over the segment index
        (spans/SpanContainingQuery.java:35)."""
        from pyspark.sql import functions as F

        from ..spanmatch import containing_weight

        keys = [term_key(field, t) for t in (t1, t2, little)]
        st = self._span_stats(keys, field)
        if st is None:
            return self._empty_scored()
        idf_sum, avgdl = st
        g = self._gather_positions(keys)
        w = containing_weight(F.col("p0"), F.col("p1"), F.col("p2"), slop)
        return self._score_span_freq(
            g.select("doc_id", "dl", w.alias("tf")), idf_sum, avgdl)

    def span_within(self, little: str, t1: str, t2: str, slop: int = 4,
                    field: Optional[str] = None):
        """SpanWithinQuery over the segment index
        (spans/SpanWithinQuery.java:35)."""
        from pyspark.sql import functions as F

        from ..spanmatch import within_count

        keys = [term_key(field, t) for t in (little, t1, t2)]
        st = self._span_stats(keys, field)
        if st is None:
            return self._empty_scored()
        idf_sum, avgdl = st
        g = self._gather_positions(keys)
        w = within_count(F.col("p0"), F.col("p1"), F.col("p2"), slop)
        return self._score_span_freq(
            g.select("doc_id", "dl", w.alias("tf")), idf_sum, avgdl)

    def _tf_dl_df(self, term_keys: List[str]):
        """(doc_id, term, tf, norm, dl) decoded from blocks — the per-doc
        statistics every SimilarityBase.score(freq, norm) consumes."""
        from pyspark.sql import functions as F

        return self.reader.postings(F.col("term").isin(sorted(set(term_keys)))).withColumn(
            "dl", self._dl_col(F.col("norm")))

    def similarity_term_query(self, term: str, sim: str,
                              field: Optional[str] = None, **params):
        """TermQuery under a pluggable Similarity over the SEGMENT
        index (the SimilarityBase.score(freq, norm) plug point,
        similarities/SimilarityBase.java:71): one block decode to
        (doc_id, tf, dl), then the shared scoring expression from
        similarities.py — identical float64 math to the SQL oracles.
        Collection stats come from the manifest +
        term_stats (no corpus scan)."""
        from pyspark.sql import functions as F

        from .. import similarities as sims

        key = term_key(field, term)
        n, sttf = self.reader.collection_stats(field)
        if n <= 0:
            return self._empty_scored()
        df_, ttf = self.reader.term_stats([key]).get(key, (0, 0))
        if df_ == 0:
            return self._empty_scored()
        avgdl = sttf / n
        tfdl = self._tf_dl_df([key])
        tf, dl = F.col("tf"), F.col("dl")
        if sim == "bm25":
            score = sims.bm25_score(tf, dl, idf=sims.idf_bm25(df_, n), avgdl=avgdl,
                                    **params)
        elif sim == "classic":
            score = sims.classic_score(tf, dl, idf=sims.classic_idf(df_, n),
                                       **params)
        elif sim == "lm_dirichlet":
            score = sims.lm_dirichlet_score(tf, dl, ttf=ttf, total_tokens=sttf,
                                            **params)
        elif sim == "lm_jelinek_mercer":
            score = sims.lm_jelinek_mercer_score(tf, dl, ttf=ttf,
                                                 total_tokens=sttf, **params)
        elif sim == "dfr_inl2":
            score = sims.dfr_inl2_score(tf, dl, df=df_, doc_count=n,
                                        avgdl=avgdl, **params)
        elif sim == "dfi_chi2":
            score, keep = sims.dfi_chi2_score(tf, dl, ttf=ttf,
                                              total_tokens=sttf, **params)
            tfdl = tfdl.where(keep)
        elif sim == "ib_spl":
            score = sims.ib_spl_score(tf, dl, df=df_, doc_count=n,
                                      avgdl=avgdl, **params)
        elif sim == "axiomatic_f2exp":
            score = sims.axiomatic_f2exp_score(tf, dl, df=df_, doc_count=n,
                                               avgdl=avgdl, **params)
        else:
            raise ValueError(f"unknown similarity: {sim}")
        return tfdl.select("doc_id", score.alias("score"))

    def passage_highlight(self, terms: List[str], window: int = 16,
                          k: int = 10, field: Optional[str] = None):
        """UnifiedHighlighter passage scoring over the SEGMENT index
        (UnifiedHighlighter.java:92, PassageScorer): needs only the
        persisted positions + term stats — no stored text. Fixed-width
        token passages, passage score = sum of matched terms' idf,
        best passage per doc, top-k docs: one aggregation per
        (doc, passage), one per doc."""
        from pyspark.sql import functions as F

        from .. import similarities as sims

        keys = [term_key(field, t) for t in terms]
        n, _ = self.reader.collection_stats(field)
        stats = self.reader.term_stats(sorted(set(keys)))
        live = [t for t in keys if stats.get(t, (0, 0))[0] > 0]
        if not live or n <= 0:
            return self.reader.spark.createDataFrame(
                [], "doc_id long, passage long, score double")
        idf_of = {t: float(sims.idf_bm25(stats[t][0], n)) for t in live}
        spark = self.reader.spark
        bc = spark.sparkContext.broadcast({"idf": idf_of, "window": window,
                                           "dels": self.reader.dead})

        def decode_passages(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            # map-side passage combine: per block, bucket positions by
            # floor(pos/window) and emit ONE row per (doc, passage)
            # with the idf-weighted partial sum — the shuffle carries
            # ~positions/window rows instead of one row per position
            # (PassageScorer's per-passage accumulation, batched)
            info = bc.value
            win = info["window"]
            for pdf in batches:
                out_doc, out_pass, out_w = [], [], []
                for term, doc_ids, tfs, _, pos in _decoded_blocks(
                        pdf, positions=True, dels=info["dels"]):
                    widf = info["idf"].get(term, 0.0)
                    docs_exp = np.repeat(doc_ids, tfs)
                    pas = pos.astype(np.int64) // win  # 0-based positions
                    key = docs_exp * np.int64(1 << 22) + pas
                    uk, cnt = np.unique(key, return_counts=True)
                    out_doc.append(uk >> 22)
                    out_pass.append(uk & ((1 << 22) - 1))
                    out_w.append(cnt.astype(np.float64) * widf)
                if out_doc:
                    yield pd.DataFrame({
                        "doc_id": np.concatenate(out_doc),
                        "passage": np.concatenate(out_pass),
                        "w": np.concatenate(out_w),
                    })

        src = self.reader.blocks.where(F.col("term").isin(live))
        occ = src.select("term", "blob", "pblob").mapInPandas(
            decode_passages, "doc_id long, passage long, w double")
        scored = occ.groupBy("doc_id", "passage").agg(F.sum("w").alias("score"))
        # best passage per doc WITHOUT a second (window) shuffle:
        # max_by struct ordered (score, -passage) == score desc,
        # passage asc tie-break
        best = scored.groupBy("doc_id").agg(
            F.max(F.struct(F.col("score"), (-F.col("passage")).alias("np"),
                           F.col("passage"))).alias("b"))
        return (
            best.select("doc_id", F.col("b.passage").alias("passage"),
                        F.round("b.score", 6).alias("score"))
            .orderBy(F.desc("score"), F.asc("doc_id"))
            .limit(k)
        )

    def highlight(self, term: str, window: int = 30):
        """Stored-field snippet highlighting over the SEGMENT index:
        +-window chars around the first occurrence, matching docs only
        — requires the index built with store=True (the stored-fields
        analog, Lucene50StoredFieldsFormat.java:44-58; content rides
        the doc-meta parquet, so this is a map-only scan with the
        LIKE-style locate pushed into codegen)."""
        from pyspark.sql import functions as F

        dm = self.reader.doc_meta
        if "content" not in dm.columns:
            raise ValueError(
                "index carries no stored fields; build with store=True")
        low = F.lower(F.col("content"))
        pos = F.locate(term, low)  # 1-based, 0 = no match
        start = F.greatest(pos - window, F.lit(1))
        snippet = F.substring(low, start, F.lit(2 * window) + F.length(F.lit(term)))
        return self.reader.drop_deleted(
            dm.select("doc_id", pos.alias("pos"), snippet.alias("snippet"))
            .where(F.col("pos") > 0)
        )

    # -- skip data -----------------------------------------------------------

    def _conjunction_blocks(self, must_terms: List[str], all_terms: List[str]):
        """Leapfrog/skip-list analog (ConjunctionDISI.java:185,
        MultiLevelSkipListWriter): EXACT block prefilter for
        conjunctions, planned on the driver in numpy over the skip data
        — each block's (term, min_doc, max_doc), read with pyarrow, blobs
        never. A doc matching every MUST term lies inside one block of
        each, so it lies in the common region: the intersection over
        MUST terms of the union of that term's block intervals. A block
        of ANY query term that misses the common region holds no doc of
        the result, so it is never decoded.
        Returns (keep, totals): keep[t] = the (term, min_doc) block keys
        of t that overlap the common region, as a set of min_doc values;
        totals[t] = t's block count."""
        tbl = _read_term_rows(self.reader._block_files,
                              ["term", "min_doc", "max_doc"], all_terms)
        term = np.asarray(tbl.column("term").to_pylist(), dtype=object)
        lo = tbl.column("min_doc").to_numpy()
        hi = tbl.column("max_doc").to_numpy() + 1  # half-open [lo, hi)
        # sweep over the MUST terms' interval unions: the common region
        # is where all of them cover a doc
        pos, step = [np.empty(0, np.int64)], [np.empty(0, np.int64)]
        for t in must_terms:
            m = term == t
            s, e = _interval_union(lo[m], hi[m])
            pos += [s, e]
            step += [np.ones(len(s), np.int64), -np.ones(len(e), np.int64)]
        pos, step = np.concatenate(pos), np.concatenate(step)
        order = np.argsort(pos, kind="stable")
        edge, first = np.unique(pos[order], return_index=True)
        if len(edge):
            cover = np.cumsum(np.add.reduceat(step[order], first))
            full = np.flatnonzero(cover[:-1] == len(must_terms))
        else:
            full = np.empty(0, np.int64)
        c_lo, c_hi = edge[full], edge[full + 1]  # disjoint, ascending
        # a block overlaps the region iff the last common range starting
        # before its end reaches past its start
        j = np.searchsorted(c_lo, hi, side="left") - 1
        hit = (j >= 0) & (c_hi[np.maximum(j, 0)] > lo) if len(c_lo) else \
            np.zeros(len(lo), dtype=bool)
        keep = {t: set(lo[hit & (term == t)].tolist()) for t in all_terms}
        totals = {t: int((term == t).sum()) for t in all_terms}
        self._skips.append((sum(map(len, keep.values())), sum(totals.values())))
        return keep, totals

    # -- block-max pruning (Ding & Suel 2011; Broder et al. 2003) -----------

    WAND_MARGIN = 1e-4  # float32 rounding slack (CheckHits tolerance scale)

    def plan_pruned_or(self, terms_with_boost: List[Tuple[str, float]],
                       k: int) -> dict:
        """Block-max keep-set of a term / OR-of-terms top-k, planned on
        the driver in numpy over the skip data: the query terms' block
        rows (term, min_doc, max_doc, imp_tf, imp_norm), read with
        pyarrow as _conjunction_blocks reads them — blobs never, no
        Spark job. Per block (_block_bounds):
          UB  the max score over its impact frontier, a bound on every
              doc of the block;
          LB  the max over its realized frontier pairs, the score of
              some doc of the block; a block spanning a deleted doc gives
              none (that doc may be the one realizing it).
        theta is the max over terms t of the k-th largest LB among t's
        blocks: a term's blocks hold disjoint docs, so they hold k
        distinct live docs, each scoring at least theta. Block b of term
        t is kept iff UB(b) + the sum over the other terms u of the max
        UB of u's blocks overlapping [min_doc(b), max_doc(b)] >= theta -
        WAND_MARGIN. A doc of a dropped block scores below theta
        wherever its other postings lie, so the top-k over the kept
        blocks is the exhaustive one, scores included.

        Returns the plan's last_plan keys (_explain adds the access path
        that ran) plus "keep": {term: the kept blocks' min_doc values},
        the keep-set the Weight carries (_weigh_terms)."""
        wv: Dict[str, float] = {}
        w: Dict[str, dict] = {}
        weights = self._weights(terms_with_boost)
        for t, b in terms_with_boost:
            # a term in several clauses adds each clause's score to a
            # doc: bound the sum (the norm constants are the same)
            w[t] = weights[f"{t}\x00{b}"]
            wv[t] = wv.get(t, 0.0) + float(w[t]["wv"])
        tbl = _read_term_rows(self.reader._block_files, [
            "term", "min_doc", "max_doc", "imp_tf", "imp_norm"], sorted(wv))
        term = np.asarray(tbl.column("term").to_pylist(), dtype=object)
        lo = tbl.column("min_doc").to_numpy()
        hi = tbl.column("max_doc").to_numpy()
        theta = -np.inf
        ub = np.zeros(len(term))
        if len(term) and min(wv.values()) >= 0:  # bounds assume scores >= 0
            ub, lb = _block_bounds(
                term, tbl.column("imp_tf").combine_chunks(),
                tbl.column("imp_norm").combine_chunks(), wv, w,
                self.precision, self.reader.norms)
            if self.reader.dead is not None:
                ids = self.reader.dead.ids()
                lb[np.searchsorted(ids, lo) < np.searchsorted(ids, hi, "right")] = -np.inf
            for t in wv:
                lt = lb[term == t]
                if len(lt) >= k > 0:
                    theta = max(theta, float(np.partition(lt, -k)[-k]))
        # the other terms' best UB over each block's doc range: u's
        # blocks in min_doc order, the candidates start where the running
        # max of max_doc reaches min_doc(b) (segment spans may
        # interleave) and end before the first min_doc past max_doc(b)
        bound = ub.copy()
        for u in wv:
            mu = term == u
            order = np.argsort(lo[mu], kind="stable")
            ulo, uub = lo[mu][order], ub[mu][order]
            a = np.searchsorted(np.maximum.accumulate(hi[mu][order]), lo[~mu])
            e = np.searchsorted(ulo, hi[~mu], "right")
            hit = a < e
            add = np.zeros(len(a))
            if hit.any():
                add[hit] = _range_max(_sparse_table(uub), a[hit], e[hit] - 1)
            bound[~mu] += add
        kept = bound >= theta - self.WAND_MARGIN
        return {
            "access_path": "skip-data", "reason": "block-max",
            "blocks_kept": int(kept.sum()), "blocks_total": len(term),
            "theta": float(theta) if np.isfinite(theta) else None,
            "keep": {t: set(lo[kept & (term == t)].tolist()) for t in wv},
        }

    def _search_pruned_or(self, terms_with_boost: List[Tuple[str, float]],
                          k: int) -> pd.DataFrame:
        """Term / OR-of-terms top-k over the block-max keep-set
        (plan_pruned_or): the exhaustive Weight of the same query — so
        the same summation order and the same scores — with every dropped
        block left unread."""
        plan = self.plan_pruned_or(terms_with_boost, k)
        keep = plan.pop("keep")
        self.last_wand_stats = {"blocks_total": plan["blocks_total"],
                                "blocks_decoded": plan["blocks_kept"]}
        leaves = [TermQuery(term=t, boost=b) for t, b in terms_with_boost]
        q = leaves[0] if len(leaves) == 1 else BooleanQuery(clauses=tuple(
            BooleanClause(Occur.SHOULD, leaf) for leaf in leaves))
        w = self.weigh(q, keep)
        top = self._top(w, k)
        self._explain(plan, w)
        return top

    def _as_or_terms(self, q: Query) -> Optional[List[Tuple[str, float]]]:
        """Terms of a pure term/OR-of-terms scoring query, else None."""
        q = rewrite(q, None)
        if isinstance(q, TermQuery):
            return [(term_key(q.field, q.term), q.boost)]
        if isinstance(q, BooleanQuery) and q.min_should_match <= 1 and q.clauses:
            out = []
            for c in q.clauses:
                if c.occur != Occur.SHOULD or not isinstance(c.query, TermQuery):
                    return None
                out.append((term_key(c.query.field, c.query.term),
                            c.query.boost * q.boost))
            return out
        return None

    # -- access path: the driver, or the slice job ---------------------------

    def _on_driver(self, w: Weight) -> bool:
        return w.postings < codec.DRIVER_POSTINGS_BUDGET

    def _slices(self) -> int:
        return self.reader.spark.sparkContext.defaultParallelism

    def _slice_job(self, w: Weight, body, schema: str = "doc_id long, score double"):
        """The Spark job of a query over the budget (IndexSearcher.slices
        with an executor): defaultParallelism tasks, task i yielding
        body(doc_ids, scores) of score_range over the i-th equal-width
        slice of the reader's doc-id range, as a DataFrame of schema. The
        tasks run the driver's scorer on the shipped Weight."""
        n = self._slices()
        lo, hi = self.reader.doc_range
        bounds = [lo + (hi - lo) * i // n for i in range(n + 1)]

        def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            for pdf in batches:
                for i in pdf["id"]:
                    yield body(*score_range(w, (bounds[i], bounds[i + 1])))

        return self.reader.spark.range(0, n, 1, n).mapInPandas(run, schema)

    def _gather(self, w: Weight, body, schema: str = "doc_id long, score double"):
        """body(doc_ids, scores) of w's matches as a pandas frame: on the
        driver over one range covering the index when w's planned
        postings are under the budget, else the slice tasks' frames,
        concatenated (one Spark job)."""
        if self._on_driver(w):
            return body(*score_range(w))
        return self._slice_job(w, body, schema).toArrow().to_pandas()

    def _matches(self, q: Query) -> np.ndarray:
        """The sorted doc ids q matches: a cached FILTER clause's doc set
        (_weigh_boolean), one more Spark job over the budget."""
        w = self.weigh(q)
        self._jobs += int(not self._on_driver(w))
        return np.sort(self._gather(w, _scored_frame)["doc_id"].to_numpy(np.int64))

    def _explain(self, plan: dict, w: Weight) -> None:
        """last_plan: plan with the planned postings, the budget and the
        access path that ran: "driver" (no Spark job but a multi-term
        expansion's), else the plan's own with reason "over-budget", its
        slice count and one job more. Logged at DEBUG on
        "lucene_solr_spark.search"."""
        plan = dict(plan, postings_planned=w.postings, budget=codec.DRIVER_POSTINGS_BUDGET)
        if self._on_driver(w):
            plan.update(access_path="driver", expected_jobs=self._jobs)
        else:
            plan.update(reason="over-budget", slices=self._slices(),
                        expected_jobs=self._jobs + 1)
        self.last_plan = plan
        _log.debug("search plan: %s", plan)

    # -- public API -----------------------------------------------------------

    def _prepare(self, q: Query) -> Query:
        """q with the default field, rewritten, its multi-term nodes
        expanded (one Spark job each) and rewritten again; resets the
        per-query plan state."""
        self.last_plan = None
        self._skips, self._jobs = [], 0
        q = rewrite(self._with_default_field(q), None)
        return rewrite(self._expand_multiterm(q), None)

    def search(self, q: Query, k: int = 10, after: Optional[Tuple[float, int]] = None,
               prune=False) -> pd.DataFrame:
        """Top-k: score desc, docID asc (HitQueue.java:76-81). `after`:
        (score, doc_id) cursor for searchAfter paging
        (IndexSearcher.java:419). `prune=True` or "auto": a term /
        OR-of-terms query plans a block-max keep-set on the driver
        (plan_pruned_or) and decodes only the kept blocks, with the
        exhaustive top-k as result (other shapes and paging run
        exhaustive; prune=False is the exhaustive reference).
        The Weight is scored on the driver under codec.DRIVER_POSTINGS_BUDGET,
        else by the slice job, whose tasks' top-k merge here (_top). The
        plan and its reason land on self.last_plan (_explain)."""
        q = self._prepare(q)
        terms = self._as_or_terms(q) if prune and after is None else None
        if terms is not None:
            return self._search_pruned_or(terms, k)
        w = self.weigh(q)
        top = self._top(w, k, after)
        self._explain(self._exhaustive_plan(q, prune, after), w)
        return top

    def _exhaustive_plan(self, q: Query, prune, after) -> dict:
        """The plan of an exhaustive Weight: the skip-data prefilter's
        blocks kept out of blocks total, or why none ran."""
        if self._skips:
            path, reason = "skip-data", "conjunction"
        elif self._as_or_terms(q) is None:
            path, reason = "exhaustive", "no-prefilterable-conjunction"
        else:
            path = "exhaustive"
            reason = "search-after" if prune and after is not None else "prune-off"
        return {
            "access_path": path, "reason": reason,
            "blocks_kept": sum(k for k, _ in self._skips) if self._skips else None,
            "blocks_total": sum(t for _, t in self._skips) if self._skips else None,
        }

    def _top(self, w: Weight, k: int,
             after: Optional[Tuple[float, int]] = None) -> pd.DataFrame:
        """The k best hits of w after the cursor: each range's top-k
        (_top_k_local), merged by the same function (TopDocs.merge)."""
        tops = self._gather(w, lambda d, s: _scored_frame(*_top_k_local(d, s, k, after)))
        return self._hits(*_top_k_local(tops["doc_id"].to_numpy(np.int64),
                                        tops["score"].to_numpy(np.float64), k))

    def _hits(self, doc: np.ndarray, score: np.ndarray) -> pd.DataFrame:
        return pd.DataFrame({
            "rank": np.arange(1, len(doc) + 1),
            "doc_id": doc,
            "score": score.astype(np.float32) if self.precision == "float32" else score,
        })

    def _weighed(self, q: Query) -> Weight:
        q = self._prepare(q)
        w = self.weigh(q)
        self._explain(self._exhaustive_plan(q, False, None), w)
        return w

    def scored(self, q: Query):
        """DataFrame (doc_id long, score double) of every doc q matches,
        unranked: under the budget scored on the driver and handed to
        Spark, over it the slice job's rows (run when the frame is)."""
        import pyarrow as pa

        w = self._weighed(q)
        if self._on_driver(w):
            doc, score = score_range(w)
            return self.reader.spark.createDataFrame(
                pa.table({"doc_id": doc, "score": score}), "doc_id long, score double")
        return self._slice_job(w, _scored_frame)

    def count(self, q: Query) -> int:
        """The number of docs q matches (each slice task counts its own)."""
        w = self._weighed(q)
        return int(self._gather(w, lambda d, s: pd.DataFrame({"n": [len(d)]}),
                                "n long")["n"].sum())

    def suggest(self, prefix: str, n: int = 10):
        """Index-resident prefix suggester (AnalyzingSuggester.java:121
        analog): completions come from the persisted segment TERM
        DICTIONARY (term_stats), weight = docFreq summed across
        segments — autocomplete works without the source table, like
        Lucene's suggesters reading the suggest index. The startswith
        predicate prunes parquet row groups via the sorted term
        column's min/max stats (BlockTree seek analog)."""
        from pyspark.sql import functions as F

        return (
            self.reader.stats.where(F.col("term").startswith(prefix))
            .groupBy("term").agg(F.sum("df").alias("df"))
            .orderBy(F.desc("df"), F.asc("term"))
            .limit(n)
        )

    def suggest_infix(self, fragment: str, n: int = 10):
        """AnalyzingInfixSuggester analog (suggest/.../analyzing/
        AnalyzingInfixSuggester.java:106) over the segment term
        dictionary: terms CONTAINING the fragment, by docFreq desc."""
        from pyspark.sql import functions as F

        return (
            self.reader.stats.where(F.col("term").contains(fragment))
            .groupBy("term").agg(F.sum("df").alias("df"))
            .orderBy(F.desc("df"), F.asc("term"))
            .limit(n)
        )

    def spell_suggest(self, word: str, max_edits: int = 2, n: int = 5,
                      min_df: int = 1):
        """DirectSpellChecker analog (suggest/.../spell/
        DirectSpellChecker.java:40): dictionary terms within max_edits
        of word, by (distance asc, df desc, term asc) — the did-you-mean
        lookup straight off the term dictionary, with the length window
        pushed below the levenshtein."""
        from pyspark.sql import functions as F

        t = F.col("term")
        return (
            self.reader.term_dictionary()
            .where((F.length(t) >= len(word) - max_edits)
                   & (F.length(t) <= len(word) + max_edits)
                   & (F.col("df") >= min_df) & (t != word))
            .withColumn("dist", F.levenshtein(t, F.lit(word)))
            .where(F.col("dist") <= max_edits).select("term", "dist", "df")
            .orderBy(F.asc("dist"), F.desc("df"), F.asc("term")).limit(n)
        )

    def significant_terms(self, term: str, n: int = 10, min_df: int = 2):
        """significantTerms (SignificantTermsStream.java analog): the
        terms of the docs holding `term`, by lift (fg_df / fg_size) /
        (bg_df / N), fixed double op order; fg_size is term's df and
        bg_df the dictionary's."""
        from pyspark.sql import functions as F

        fg_size = self.reader.term_stats([term]).get(term, (0, 0))[0]
        if fg_size == 0:
            return self.reader.spark.createDataFrame(
                [], "term string, fg_df long, bg_df long, lift double")
        fg_docs = self.reader.postings(F.col("term") == term).select("doc_id")
        fg = (self.reader.postings().join(fg_docs, "doc_id", "left_semi")
              .groupBy("term").agg(F.count(F.lit(1)).alias("fg_df")))
        bg = self.reader.term_dictionary().select("term", F.col("df").alias("bg_df"))
        lift = F.round(
            (F.col("fg_df").cast("double") / F.lit(float(fg_size)))
            / (F.col("bg_df").cast("double") / F.lit(float(self.reader.doc_count))), 6)
        return (
            fg.join(bg, "term")
            .where((F.col("fg_df") >= min_df) & (F.col("term") != term))
            .select("term", "fg_df", "bg_df", lift.alias("lift"))
            .orderBy(F.desc("lift"), F.asc("term")).limit(n)
        )

    def explain_term(self, term: str):
        """Explanation analog (Weight.explain / CheckHits recomputation):
        the BM25 factors of `term` in every doc holding it — tf, dl, df,
        idf, the length normalisation and the score, each a column
        (float64, similarities.py; reals rounded to 6 decimals)."""
        from pyspark.sql import functions as F

        from .. import similarities as sims

        n, sttf = self.reader.collection_stats(None)
        df_ = self.reader.term_stats([term]).get(term, (0, 0))[0]
        idf, avgdl = sims.idf_bm25(df_, n), sttf / max(n, 1)
        tf, dl = F.col("tf"), F.col("dl")
        return (self._tf_dl_df([term])
                .select("doc_id", tf.cast("long").alias("tf"), dl.cast("long").alias("dl"),
                        F.lit(df_).cast("long").alias("df"),
                        F.round(F.lit(idf), 6).alias("idf"),
                        F.round(sims.bm25_norm(dl, avgdl), 6).alias("norm_denom"),
                        F.round(sims.bm25_score(tf, dl, idf=idf, avgdl=avgdl), 6)
                        .alias("score")))

    def payload_score(self, term: str, func: str = "sum"):
        """PayloadScoreQuery analog (queries/payloads/
        PayloadScoreQuery.java:48, Sum/Average/MaxPayloadFunction,
        includeSpanScore=false): (doc_id, score), the doc's
        per-occurrence payloads aggregated. A payload derives from the
        position, (pos % 5 + 1) / 5 for 1-based pos: the indexed text
        carries no `term|float` markup."""
        from pyspark.sql import functions as F

        pay = ((F.col("pos") % 5) + 1).cast("double") / F.lit(5.0)
        agg = {"sum": F.sum, "avg": F.avg, "max": F.max}[func]
        return (self.reader.postings(F.col("term") == term, positions=True)
                .groupBy("doc_id").agg(agg(pay).alias("score")))

    def ltr_rerank(self, terms: List[str], k: int = 10, first_k: int = 100,
                   weights=(0.6, 0.4, -0.002), bias: float = 0.1):
        """Learning-to-rank re-ranking (contrib/ltr LTRRescorer.java:
        60-131 rescore window + LinearModel.java:80): the BM25
        disjunction's top first_k, re-scored by a linear model over
        three features extracted for those docs only — first-pass
        score, matched query terms, doc length (OriginalScoreFeature /
        SolrFeature / FieldLengthFeature). Model cost never scales with
        the corpus."""
        from pyspark.sql import functions as F

        q = BooleanQuery(clauses=tuple(
            BooleanClause(Occur.SHOULD, TermQuery(term=t)) for t in terms))
        cand = (self.scored(q).select("doc_id", F.col("score").alias("f_bm25"))
                .orderBy(F.desc(F.round("f_bm25", 6)), F.asc("doc_id")).limit(first_k))
        matched = (self.reader.postings(F.col("term").isin(list(terms)))
                   .groupBy("doc_id").agg(F.count(F.lit(1)).alias("f_matched")))
        dl = self.reader.doc_meta.select("doc_id", F.col("length").alias("dl"))
        w0, w1, w2 = (float(w) for w in weights)
        ltr = (F.lit(w0) * F.col("f_bm25") + F.lit(w1) * F.col("f_matched")
               + F.lit(w2) * F.col("dl") + F.lit(float(bias)))
        return (
            F.broadcast(cand).join(matched, "doc_id").join(dl, "doc_id")
            .select("doc_id", F.round(ltr, 6).alias("ltr_score"),
                    F.round("f_bm25", 6).alias("f_bm25"),
                    F.col("f_matched").cast("bigint").alias("f_matched"),
                    F.col("dl").cast("bigint").alias("f_dl"))
            .orderBy(F.desc("ltr_score"), F.asc("doc_id")).limit(k)
        )

    def _expand_multiterm(self, q: Query) -> Query:
        """Replace MultiTermQuery nodes via Spark-side dictionary scans,
        one job each (MultiTermQuery.java rewrite methods):
        constant_score -> TermInSetQuery; scoring_boolean -> SHOULD
        TermQuery per term, each with its own idf (fuzzy terms carry the
        similarity boost); top_terms_N -> scoring_boolean capped to the
        N most competitive terms (boost desc, term asc)."""
        if isinstance(q, MultiTermQuery):
            terms = self.reader.expand(q)
            self._jobs += 1
            if not terms:
                return MatchNoDocsQuery(boost=q.boost)
            method = q.rewrite_method
            if method == "constant_score":
                return TermInSetQuery(boost=q.boost, terms=tuple(terms), field=q.field)
            if q.kind == "fuzzy":
                from ..queryast import levenshtein_distance

                boosts = {
                    t: 1.0 - levenshtein_distance(q.pattern, t)
                    / max(1, min(len(t), len(q.pattern)))
                    for t in terms
                }
            else:
                boosts = {t: 1.0 for t in terms}
            if method.startswith("top_terms_"):
                n = int(method[len("top_terms_"):])
                terms = sorted(terms, key=lambda t: (-boosts[t], t))[:n]
            elif method != "scoring_boolean":
                raise ValueError(f"unknown rewrite_method: {method}")
            return BooleanQuery(
                boost=q.boost,
                clauses=tuple(
                    BooleanClause(
                        Occur.SHOULD,
                        TermQuery(term=t, field=q.field, boost=boosts[t]),
                    )
                    for t in sorted(terms)
                ),
            )
        if isinstance(q, BooleanQuery):
            return BooleanQuery(
                boost=q.boost,
                clauses=tuple(
                    BooleanClause(c.occur, self._expand_multiterm(c.query))
                    for c in q.clauses
                ),
                min_should_match=q.min_should_match,
            )
        if isinstance(q, DisjunctionMaxQuery):
            return DisjunctionMaxQuery(
                boost=q.boost,
                disjuncts=tuple(self._expand_multiterm(d) for d in q.disjuncts),
                tie_breaker=q.tie_breaker,
            )
        return q


def _re_escape(c: str) -> str:
    import re

    return re.escape(c)


def _idf(df: int, n: int) -> float:
    """float64 BM25 idf ln(1 + (N - df + 0.5)/(df + 0.5)); 0 for a term
    without postings (its weight is then 0, as Lucene's)."""
    return math.log(1 + (n - df + 0.5) / (df + 0.5)) if df > 0 else 0.0


def _decoded_blocks(pdf, positions: bool = False, keep=None, dels=None, span=None):
    """The one block decoder: yields (term, doc_ids, tfs, norms[, pos])
    per row of a batch of blocks (term, blob, plus min_doc with keep,
    pblob with positions). keep: {term: set of min_doc}, the kept blocks
    — other rows are skipped undecoded. The kept rows decode in one
    codec.decode_blocks_batch call; each row yields slices of its flat
    arrays. dels: the reader's DeadDocs; span: a doc-id range [lo, hi).
    Deleted docs and docs outside span drop out of each block with their
    positions (one gather per batch), and a block left empty is
    skipped."""
    terms = pdf["term"].to_numpy()
    rows = np.arange(len(terms))
    if keep is not None:
        rows = np.flatnonzero([md in keep[t] for t, md in zip(terms, pdf["min_doc"])])
    if not len(rows):
        return
    doc_ids, tfs, norms, pos, off, poff = decode_blocks_batch(
        pdf["blob"].to_numpy()[rows],
        pdf["pblob"].to_numpy()[rows] if positions else None)
    live = None if dels is None else ~dels.probe(doc_ids)
    if span is not None:
        inside = (doc_ids >= span[0]) & (doc_ids < span[1])
        live = inside if live is None else live & inside
    for i, term in enumerate(terms[rows]):
        a, b = off[i], off[i + 1]
        d, f, nb = doc_ids[a:b], tfs[a:b], norms[a:b]
        p = pos[poff[i]:poff[i + 1]]
        if live is not None and not live[a:b].all():
            keep_i = live[a:b]
            if positions and len(p):
                p = p[np.repeat(keep_i, f)]
            d, f, nb = d[keep_i], f[keep_i], nb[keep_i]
            if not len(d):
                continue
        yield (term, d, f, nb, p) if positions else (term, d, f, nb)


@dataclass
class Weight:
    """A query weighed on the driver (Searcher.weigh): the rewritten
    query, its node tree (score_range lists the kinds) holding the term,
    phrase and synonym weights, keep-sets and cached doc ids, the
    postings it plans, and the reader's side of scoring: blk and
    doc-meta files, deleted docs, norm encoding, plus the precision.
    Picklable: a Spark task scores it without a Searcher or SparkSession."""

    query: Query
    root: dict
    postings: int
    files: List[str]
    doc_files: List[str]
    dels: Optional[DeadDocs]
    precision: str
    norms: str


def _planned(node: dict) -> int:
    """The postings a node's scorer decodes at most, sub-nodes included:
    a term read by two nodes counts twice."""
    return node.get("postings", 0) + sum(_planned(s) for s in node.get("subs", ()))


def score_range(w: Weight, span: Optional[Tuple[int, int]] = None):
    """The Scorer: (doc_ids, scores) of every live doc in the doc-id
    range span = [lo, hi) (None: the whole index) that w's query
    matches, scores float32-exact widened (float32) or float64. Node
    kinds: terms (one or more term clauses, read together), phrase,
    synonym, termset and all (constant score), docs (a cached FILTER
    set, score 0), dismax, bool, none."""
    return _score(w.root, w, span)


def _score(node: dict, w: Weight, span) -> Tuple[np.ndarray, np.ndarray]:
    kind = node["kind"]
    if kind == "terms":
        return _score_terms(node, w, span)[1:]
    if kind == "bool":
        parts = [_score_terms(node["terms"], w, span)] if node["terms"] else []
        for cid, sub in zip(node["cids"], node["subs"]):
            d, sc = _score(sub, w, span)
            parts.append((np.full(len(d), cid, np.int32), d, sc))
        return _boolean_scores(parts, node["occur"], node["mm"], w.precision)
    if kind == "phrase":
        doc, tf, nb = _phrase_freqs(node, w, span)
        return doc, _bm25_scores(tf, nb, node["weight"], w.precision, w.norms)
    if kind == "synonym":
        blocks = list(_postings(w, node["terms"], span))
        d, f, nb = (_cat([b[i] for b in blocks]) for i in (1, 2, 3))
        doc, first, inv = np.unique(d, return_index=True, return_inverse=True)
        tf = np.bincount(inv.ravel(), weights=f, minlength=len(doc)).astype(np.int64)
        return doc, _bm25_scores(tf, nb[first], node["weight"], w.precision, w.norms)
    if kind == "dismax":
        # max + tie * (sum - max) per doc, summed in disjunct order
        parts = [_score(sub, w, span) for sub in node["subs"]]
        d, sc = _cat([p[0] for p in parts]), _cat([p[1] for p in parts], np.float64)
        if not len(d):
            return d, sc
        order = np.argsort(d, kind="stable")
        d, sc = d[order], sc[order]
        first = np.flatnonzero(np.r_[True, d[1:] != d[:-1]])
        mx = np.maximum.reduceat(sc, first)
        total = mx + node["tie"] * (np.add.reduceat(sc, first) - mx)
        if w.precision == "float32":
            total = total.astype(np.float32).astype(np.float64)
        return d[first], total
    if kind == "termset":
        doc = np.unique(_cat([b[1] for b in _postings(w, node["terms"], span)]))
    elif kind == "all":
        doc = _live_docs(w, span)
    elif kind == "docs":
        doc = node["ids"]
        if span is not None:
            doc = doc[(doc >= span[0]) & (doc < span[1])]
    else:
        doc = np.empty(0, np.int64)
    return doc, np.full(len(doc), node.get("score", 0.0))


def _cat(arrays: list, dtype=np.int64) -> np.ndarray:
    return np.concatenate(arrays) if arrays else np.empty(0, dtype)


def _blocks(w: Weight, terms: List[str], keep, span, positions: bool) -> pd.DataFrame:
    """The blk rows (term, min_doc, blob[, pblob]) of terms whose
    [min_doc, max_doc] overlaps span, read with pyarrow. A keep-set
    masks the read to the rows whose min_doc keys some kept block (a
    superset of the kept blocks, made exact by _decoded_blocks' per-term
    check), so no other blob is read."""
    cols = ["term", "min_doc", "blob"] + (["pblob"] if positions else [])
    mins = None if keep is None else sorted(set().union(*keep.values()))
    return _read_term_rows(w.files, cols, terms, mins, span).to_pandas()


def _postings(w: Weight, terms: List[str], span, keep=None, positions: bool = False):
    """(term, doc_ids, tfs, norms[, pos]) of each read block's live
    postings in span (_blocks, _decoded_blocks)."""
    return _decoded_blocks(_blocks(w, terms, keep, span, positions), positions, keep,
                           w.dels, span)


def _score_terms(node: dict, w: Weight, span):
    """(clause_id, doc_id, score) of every live posting of the kept
    blocks of a "terms" node, once per clause its term serves."""
    cid, doc, score = [], [], []
    for term, d, f, nb in _postings(w, list(node["by_term"]), span, node["keep"]):
        for c, boost in node["by_term"][term]:
            cid.append(np.full(len(d), c, dtype=np.int32))
            doc.append(d)
            score.append(_bm25_scores(f, nb, node["weights"][f"{term}\x00{boost}"],
                                      w.precision, w.norms))
    return _cat(cid, np.int32), _cat(doc), _cat(score, np.float64)


def _phrase_freqs(node: dict, w: Weight, span):
    """(doc_id, tf, norm) of the docs in span holding the phrase:
    ExactPhraseMatcher's advance loop, batched in numpy. Each slot takes
    its term's blocks in doc order (a term's blocks own disjoint doc
    ranges); the docs holding every term are the intersection of the
    slots' sorted doc lists; an occurrence is a composite int64 key (the
    doc's rank among those docs << 32 | position - slot + nslots) that
    survives every slot's key set, as term i matches at p0 + i."""
    slots, n = node["slots"], node["nslots"]
    blocks: Dict[str, list] = {}
    for term, d, f, nb, p in _postings(w, sorted(slots), span, node["keep"], positions=True):
        blocks.setdefault(term, []).append((d, f, nb, p))
    empty = (np.empty(0, np.int64),) * 3
    if len(blocks) < len(slots):
        return empty
    post = {t: [np.concatenate(a).astype(np.int64) for a in
                zip(*sorted(bl, key=lambda b: b[0][0]))] for t, bl in blocks.items()}
    common = None
    for d, _, _, _ in post.values():
        common = d if common is None else common[_isin_sorted(common, d)]
    if not len(common):
        return empty
    slot_term = {i: t for t, idx in slots.items() for i in idx}
    keys = norms = None
    for i in range(n):
        d, f, nb, p = post[slot_term[i]]
        m = _isin_sorted(d, common)
        k = (np.repeat(np.searchsorted(common, d[m]), f[m]) << 32) | (
            p[np.repeat(m, f)] - i + n)
        keys = k if keys is None else keys[_isin_sorted(keys, k)]
        if norms is None:
            norms = nb[m]
    rank, tf = np.unique(keys >> 32, return_counts=True)
    return common[rank], tf.astype(np.int64), norms[rank]


def _isin_sorted(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """Membership of a in sorted-unique b."""
    if len(b) == 0 or len(a) == 0:
        return np.zeros(len(a), dtype=bool)
    j = np.searchsorted(b, a).clip(0, len(b) - 1)
    return b[j] == a


def _boolean_scores(parts: list, occur_by_cid: Dict[int, Occur], mm: int,
                    precision: str) -> Tuple[np.ndarray, np.ndarray]:
    """A boolean node over its clauses' (clause_id, doc_id, score) rows:
    per clause, the summed score from 0.0 and a match flag; the
    MUST/FILTER/MUST_NOT and min-should-match predicate; clause sums
    added left to right in clause order in double, cast to float32 in
    float32 mode. Memory is O(rows + docs) whatever the clause count:
    the rows are taken clause by clause, each clause's per-doc sum is
    added into one running total (an absent clause adds 0.0) and its
    matches into per-doc counters."""
    cid = _cat([p[0] for p in parts]).astype(np.int64)
    doc, inv = np.unique(_cat([p[1] for p in parts]), return_inverse=True)
    # (clause, doc) keys in clause order; each key's scores summed from
    # 0.0 in row order
    key, at = np.unique(cid * len(doc) + inv.ravel(), return_inverse=True)
    sums = np.bincount(at.ravel(), weights=_cat([p[2] for p in parts], np.float64),
                       minlength=len(key))
    cut = np.searchsorted(key, np.arange(len(occur_by_cid) + 1) * len(doc))
    total = np.zeros(len(doc))
    n_req = np.zeros(len(doc), dtype=np.int64)  # MUST/FILTER clauses hit
    n_not = np.zeros(len(doc), dtype=np.int64)
    n_should = np.zeros(len(doc), dtype=np.int64)
    req = 0
    for i, (a, b) in enumerate(zip(cut[:-1], cut[1:])):
        o = occur_by_cid[i]
        d = key[a:b] - i * len(doc)
        if o in (Occur.MUST, Occur.SHOULD):
            total[d] += sums[a:b]
        if o in (Occur.MUST, Occur.FILTER):
            n_req[d] += 1
            req += 1
        elif o == Occur.MUST_NOT:
            n_not[d] += 1
        else:
            n_should[d] += 1
    ok = (n_req == req) & (n_not == 0)
    if mm > 0 and Occur.SHOULD in occur_by_cid.values():
        ok &= n_should >= mm
    if precision == "float32":
        total = total.astype(np.float32).astype(np.float64)
    return doc[ok], total[ok]


def _live_docs(w: Weight, span) -> np.ndarray:
    """The live doc ids in span, read from the doc metadata with pyarrow."""
    import pyarrow.dataset as ds

    cond = None if span is None else (
        (ds.field("doc_id") >= span[0]) & (ds.field("doc_id") < span[1]))
    doc = ds.dataset(w.doc_files, format="parquet").to_table(
        columns=["doc_id"], filter=cond).column("doc_id").to_numpy().astype(np.int64)
    return doc if w.dels is None else doc[~w.dels.probe(doc)]


def _top_k_local(doc: np.ndarray, sc: np.ndarray, k: int,
                 after: Optional[Tuple[float, int]] = None):
    """The k best (score desc, doc_id asc) of (doc_ids, scores) after the
    `after` cursor, sorting only the rows that reach the k-th score: a
    range's collector, and the merge of the slices' top-k."""
    if after is not None:
        s, d = float(after[0]), int(after[1])
        m = (sc < s) | ((sc == s) & (doc > d))
        doc, sc = doc[m], sc[m]
    if 0 < k < len(sc):
        m = sc >= np.partition(sc, len(sc) - k)[len(sc) - k]
        doc, sc = doc[m], sc[m]
    top = np.lexsort((doc, -sc))[:max(k, 0)]
    return doc[top], sc[top]


def _scored_frame(doc: np.ndarray, score: np.ndarray) -> pd.DataFrame:
    return pd.DataFrame({"doc_id": doc, "score": score})


def _repeat_terms(terms, docs) -> np.ndarray:
    """Each block's term repeated once per decoded doc."""
    return np.repeat(np.asarray(terms, dtype=object), [len(d) for d in docs])


def _bm25_scores(tfs: np.ndarray, norms: np.ndarray, w: dict,
                 precision: str, norms_mode: str) -> np.ndarray:
    """The one BM25 kernel (weight w from Searcher._weight), as float64.
    float32: weightValue * tf / (tf + cache[norm]) in float32 (or the
    norm computed from an exact length, _norm32) — BM25Similarity's
    bits. float64: idf * (tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * dl /
    avgdl)) * boost, the SQL oracles' operation order, where dl is the
    SmallFloat-decoded length of a byte norm (as _dl_col)."""
    if precision == "float32":
        if norms_mode == "byte":
            nv = np.asarray(w["cache"], dtype=np.float32)[norms & 0xFF]
        else:
            nv = _norm32(norms, w["avgdl"])
        freq = tfs.astype(np.float32)
        return ((np.float32(w["wv"]) * freq) / (freq + nv)).astype(
            np.float32).astype(np.float64)
    dl = (LENGTH_TABLE[norms & 0xFF] if norms_mode == "byte" else norms
          ).astype(np.float64)
    freq = tfs.astype(np.float64)
    denom = freq + 1.2 * (0.25 + 0.75 * dl / w["avgdl"])
    return w["idf"] * (freq * 2.2) / denom * w["boost"]


def _impact_norms(nbs: np.ndarray, w: dict, precision: str,
                  norms_mode: str) -> np.ndarray:
    """float64 length normalisation k1 * ((1 - b) + b * dl / avgdl) of
    stored norms — the bound side of _bm25_scores (_block_bounds)."""
    if norms_mode == "byte" and precision == "float32":
        return np.asarray(w["cache"], dtype=np.float64)[nbs & 0xFF]
    dl = LENGTH_TABLE[nbs & 0xFF] if norms_mode == "byte" else nbs
    return 1.2 * (0.25 + 0.75 * dl.astype(np.float64) / w["avgdl"])


def _norm32(lengths: np.ndarray, avgdl32: float) -> np.ndarray:
    """float32 norm for exact (unquantized) doc lengths, same op order
    as BM25Similarity's cache fill: k1 * ((1-b) + (b*dl)/avgdl)."""
    dl = lengths.astype(np.float32)
    return (
        bm25.K1 * ((np.float32(1.0) - bm25.B) + (bm25.B * dl) / np.float32(avgdl32))
    ).astype(np.float32)


def _block_bounds(terms: np.ndarray, imp_tf, imp_nb, wv: Dict[str, float],
                  w: Dict[str, dict], precision: str, norms_mode: str):
    """Per block, (UB, LB) of its term t's summed clause weight wv[t]
    (weight w[t]): UB is the max score over the block's competitive
    impact frontier of realized (tf, norm) pairs, an exact bound on its
    docs (CompetitiveImpactAccumulator.java:30); LB is the same max
    without the last pair of a frontier cut at IMPACT_CAP pairs, which
    may be the synthetic pair bounding the cut tail, so some doc of the
    block scores LB. imp_tf, imp_nb: pyarrow list arrays, one frontier
    per block."""
    lens = imp_tf.value_lengths().to_numpy()
    tf = imp_tf.flatten().to_numpy().astype(np.float64)
    nb = imp_nb.flatten().to_numpy().astype(np.int64)
    pterm = np.repeat(terms, lens)
    sc = np.empty(len(tf))
    for t in wv:
        m = pterm == t
        sc[m] = wv[t] * tf[m] / (tf[m] + _impact_norms(nb[m], w[t], precision,
                                                       norms_mode))
    starts = np.cumsum(lens) - lens
    ub = np.maximum.reduceat(sc, starts)
    sc[starts[lens == IMPACT_CAP] + IMPACT_CAP - 1] = -np.inf
    return ub, np.maximum.reduceat(sc, starts)


def _interval_union(lo: np.ndarray, hi: np.ndarray):
    """Union of half-open intervals [lo, hi) as disjoint ascending
    (starts, ends)."""
    order = np.argsort(lo, kind="stable")
    lo, hi = lo[order], hi[order]
    reach = np.maximum.accumulate(hi)
    first = np.flatnonzero(np.r_[True, lo[1:] > reach[:-1]]) if len(lo) else \
        np.empty(0, np.int64)
    return lo[first], np.r_[reach[first[1:] - 1], reach[-1:]]


def _sparse_table(arr: np.ndarray) -> List[np.ndarray]:
    """Range-max sparse table: st[j][i] = max(arr[i : i + 2**j]).
    O(n log n) build, O(1) vectorized queries (_range_max)."""
    st = [arr]
    j = 1
    while (1 << j) <= len(arr):
        prev = st[-1]
        half = 1 << (j - 1)
        st.append(np.maximum(prev[: len(arr) - (1 << j) + 1],
                             prev[half: half + len(arr) - (1 << j) + 1]))
        j += 1
    return st


def _range_max(st: List[np.ndarray], lo: np.ndarray, hi: np.ndarray) -> np.ndarray:
    """Vectorized inclusive range-max over a sparse table: for each i,
    max(arr[lo[i] : hi[i] + 1]). Queries grouped by level (<= ~14
    distinct levels), two gathers per level."""
    span = hi - lo + 1
    out = np.empty(len(lo), dtype=np.float64)
    lev = np.floor(np.log2(span)).astype(np.int64)
    for j in np.unique(lev):
        m = lev == j
        t = st[j]
        out[m] = np.maximum(t[lo[m]], t[hi[m] - (1 << int(j)) + 1])
    return out
