"""Query executor: Query AST -> DataFrame plan -> top-k.

Execution mirrors the reference's search lifecycle (SURVEY §3.1) with
partitions playing segment leaves:

  rewrite fixpoint           -> queryast.rewrite + Spark-side term-dict
                                expansion (MultiTermQuery.java:94-116)
  weight creation / stats    -> a driver-side pyarrow read of the query
                                terms' rows of every segment's term_stats,
                                summed, broadcast (TermQuery.java:65-66;
                                the in-heap terms index and ExactStatsCache
                                analogs — stats are GLOBAL, never
                                per-partition, and cost no Spark job)
  conjunction skip data      -> the MUST terms' block (min_doc, max_doc)
                                read the same way; numpy keeps the blocks
                                overlapping every MUST term's coverage
                                (ConjunctionDISI.java:185)
  access path                -> a term, phrase or boolean-of-those top-k
                                whose planned postings (summed df, plus
                                ttf for phrase terms) are under
                                codec.DRIVER_POSTINGS_BUDGET runs on the driver:
                                one pyarrow read of its blocks, the same
                                stage functions, no Spark job (Lucene's
                                IndexSearcher scores in the caller's
                                process); any other query, or one over the
                                budget, runs its Spark plan
  per-leaf scoring           -> block filter (term; on the driver also
                                the kept block keys)
                                -> Arrow decode+score (decode_score,
                                vectorized numpy): in Spark a mapInPandas
                                stage, the one job of a term query
  boolean composition        -> ONE hash aggregation per boolean node:
                                conditional per-clause sums + match
                                counters (Boolean2ScorerSupplier.java:92-113
                                occur buckets; BooleanScorer.java windowed
                                accumulation == Spark hash agg), one more
                                job; on the driver its numpy twin
                                (_boolean_local)
  collector / merge          -> orderBy(score desc, doc_id asc).limit(k)
                                == TakeOrderedAndProject (per-partition
                                heaps + driver merge; TopDocs.merge); on
                                the driver a numpy partition + lexsort

Every stage body is one module function that mapInPandas/applyInPandas
and the driver path both call (decode_score; the phrase's decode_pos,
match_chunk and score_rows). Every Python stage decodes blocks with one
function (_decoded_blocks) and scores postings with one BM25 kernel
(_bm25_scores), in one of two precisions:
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
  its doc range stays below theta. The ordinary plan then decodes the
  kept blocks only, on the same access path (the driver reads only
  kept block keys; a Spark stage skips the others undecoded), so the
  top-k is exactly the exhaustive one
  (checked in tests/test_wand.py).
"""

from __future__ import annotations

import logging
import math
import os
from typing import Dict, Iterator, List, Optional, Tuple

import numpy as np
import pandas as pd

from .. import bm25, codec
from ..codec import IMPACT_CAP, decode_blocks_batch
from ..fields import FIELD_SEP, split_term_key, term_key
from ..smallfloat import LENGTH_TABLE
from ..indexing.builder import POSTINGS_SCHEMA
from ..indexing.deletes import DeadDocs, dead_docs
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
    query_terms,
    rewrite,
)

CHUNK_BITS = 13

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
        # the data files, listed once at open: every driver-side read
        # (statistics, skip data, blobs) opens exactly these
        stats_groups = [_data_files(d) for d in self._stats_dirs]
        self._stats_files = [f for g in stats_groups for f in g]
        self._block_files = [f for d in self._block_dirs for f in _data_files(d)]
        # pinned schemas, so no read infers one (an inference is a Spark
        # job): blocks take the writers' POSTINGS_SCHEMA; term stats and
        # doc meta (whose columns vary with fields and stored content)
        # take one pyarrow footer read per segment
        self.blocks = spark.read.schema(POSTINGS_SCHEMA).parquet(*self._block_dirs)
        self.stats = spark.read.schema(
            _footer_schema(stats_groups)).parquet(*self._stats_dirs)
        self.doc_meta = spark.read.schema(_footer_schema(
            [_data_files(d) for d in doc_dirs])).parquet(*doc_dirs)
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
        """Expand a multi-term query against the distinct-terms table
        with the predicate pushed into Spark (BlockTree intersect analog:
        the scan prunes on the term column's parquet min/max stats).
        Field-scoped queries pre-filter to the field's key-prefix range
        (still parquet-prunable — keys sort by field first) and match
        the pattern against the bare-term suffix; returns BARE terms."""
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
        rows = (
            src.where(cond).select(t.alias("term")).distinct()
            .limit(max_terms).collect()
        )
        return sorted(r["term"] for r in rows)


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
        clause doc sets are persisted and reused across searches
        (LRUQueryCache.java:60 semantics: DocIdSets, never Scorers)."""
        self.reader = reader
        self.precision = precision
        self.default_field = default_field
        self.query_cache = query_cache
        # the plan of the last search() call, for bench/test
        # introspection: plan_pruned_or's for a pruned term / OR query,
        # else _exhaustive_plan's description
        self.last_plan = None
        # (blocks kept, blocks total) of each skip-data prefilter run
        # since the last search() began
        self._skips: List[Tuple[int, int]] = []

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

    # -- leaf scoring: decode blocks -> (clause_id, doc_id, score) ----------

    def _blocks(self, terms: List[str], keep: Optional[Dict[str, set]],
                positions: bool, local: bool):
        """The blk rows (term, min_doc, blob[, pblob]) of terms: a pandas
        frame read on the driver (local) or the Spark scan. On the
        driver a keep-set masks the read to the rows whose min_doc keys
        some kept block (a superset of the kept blocks, made exact by
        _decoded_blocks' per-term check), so no other blob is read. The
        Spark scan takes no such filter: a `min_doc IN (...)` filter
        measured slower than shipping the unkept blobs (CHANGES.md),
        which the stage skips undecoded."""
        cols = ["term", "min_doc", "blob"] + (["pblob"] if positions else [])
        if local:
            mins = None if keep is None else sorted(set().union(*keep.values()))
            return _read_term_rows(self.reader._block_files, cols, terms,
                                   mins).to_pandas()
        from pyspark.sql import functions as F

        return self.reader.blocks.where(F.col("term").isin(list(terms))).select(*cols)

    def _score_terms(self, clause_terms: List[Tuple[int, str, float]],
                     keep: Optional[Dict[str, set]] = None, local: bool = False):
        """clause_terms: (clause_id, term, boost). Returns a Spark
        DataFrame, or on the driver (local) a pandas frame, of
        (clause_id int, doc_id long, score double). Scores are exact
        float32 values widened to double (float32 mode) or pure doubles
        (float64 mode) — downstream sums happen in double either way.
        keep: kept block keys per term, {term: min_doc values} (the
        conjunction prefilter's, _conjunction_blocks, or the block-max
        planner's, plan_pruned_or); other blocks are never decoded."""
        by_term: Dict[str, List[Tuple[int, float]]] = {}
        for cid, t, b in clause_terms:
            by_term.setdefault(t, []).append((cid, b))
        info = {
            "by_term": by_term,
            "weights": self._weights([(t, b) for _, t, b in clause_terms]),
            "keep": keep,
            "dels": self.reader.dead,
            "precision": self.precision,
            "norms": self.reader.norms,
        }
        rows = self._blocks(list(by_term), keep, False, local)
        if local:
            return _frame(decode_score([rows], info), _SCORED)
        bc = self.reader.spark.sparkContext.broadcast(info)
        return rows.mapInPandas(lambda it: decode_score(it, bc.value),
                                schema="clause_id int, doc_id long, score double")

    # -- phrase leaf ---------------------------------------------------------

    def _score_phrase(self, cid: int, q: PhraseQuery, boost: float,
                      local: bool = False):
        """Exact phrase (slop=0, ExactPhraseMatcher): vectorized block
        decode to chunk pieces of (doc, tf, norm, positions) per term slot
        (decode_pos), grouped by 8192-doc chunk — one shuffle in Spark, a
        pandas groupby on the driver — then a numpy phrase match per
        chunk (match_chunk) counts occurrences, and the (doc, tf, norm)
        rows score like a term with idf = sum of per-term idfs
        (BM25Similarity idfExplain array; score_rows). Returns
        (clause_id, doc_id, score), as _score_terms."""
        from pyspark.sql import functions as F

        terms = [term_key(q.field, t) for t in q.terms]
        n, _ = self.reader.collection_stats(q.field)
        stats = self.reader.term_stats(terms) if n > 0 else {}
        if n <= 0 or any(stats.get(t, (0, 0))[0] == 0 for t in terms):
            return (_frame([], _SCORED) if local else self.reader.spark.createDataFrame(
                [], "clause_id int, doc_id long, score double"))
        # idf = the terms' idfs summed (BM25Similarity idfExplain array);
        # float32 sums the float32 idfs in double, then rounds once
        idfs = [_idf(stats[t][0], n) for t in terms]
        idf32 = np.float32(float(np.sum(np.array(
            [float(np.float32(i)) for i in idfs], dtype=np.float64))))
        weight = self._weight(q.field, boost, sum(idfs), idf32)
        # a phrase may repeat a term ("end to end"): each occurrence row
        # must be emitted once PER SLOT the term occupies, or the slot's
        # position join is empty and the phrase silently matches nothing
        slots_by_term: Dict[str, List[int]] = {}
        for i, t in enumerate(terms):
            slots_by_term.setdefault(t, []).append(i)
        # a phrase match is a conjunction match: the exact skip-data
        # prefilter applies, so only blocks overlapping every term's
        # block coverage decode
        distinct_terms = sorted(set(terms))
        keep = (self._conjunction_blocks(distinct_terms, distinct_terms)[0]
                if len(distinct_terms) >= 2 else None)
        dead, nslots = self.reader.dead, len(terms)
        rows = self._blocks(distinct_terms, keep, True, local)
        if local:
            occ = _frame(decode_pos([rows], keep, dead, slots_by_term), _PIECES)
            freq = _frame((match_chunk(g, nslots) for _, g in occ.groupby("chunk")),
                          _FREQS)
            scored = _frame(score_rows([freq], weight, self.precision,
                                       self.reader.norms), _SCORED)
            return scored.assign(clause_id=np.int32(cid))
        bc = self.reader.spark.sparkContext.broadcast(keep)
        occ = rows.mapInPandas(
            lambda it: decode_pos(it, bc.value, dead, slots_by_term),
            "chunk long, tidx int, docs array<long>, tfs array<int>, "
            "norms array<int>, pos array<int>")
        freq = occ.groupBy("chunk").applyInPandas(
            lambda pdf: match_chunk(pdf, nslots), "doc_id long, tf long, norm int")
        return self._score_freqs(freq, weight).select(
            F.lit(cid).cast("int").alias("clause_id"), "doc_id", "score")

    def _score_freqs(self, freq_df, weight: dict):
        """BM25-score a (doc_id, tf, norm) frame with one weight
        (score_rows): the phrase and synonym scoring stage."""
        precision, norms_mode = self.precision, self.reader.norms
        return freq_df.mapInPandas(
            lambda it: score_rows(it, weight, precision, norms_mode),
            "doc_id long, score double")

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

    # -- boolean composition --------------------------------------------------

    def _eval(self, q: Query, boost: float, keep=None, local: bool = False):
        """Returns DataFrame (doc_id long, score double) of matching docs.
        Score is the float32-exact (widened) or float64 node score.
        keep: a block keep-set for a term or boolean-of-terms q
        (_score_terms). local: evaluate a term, phrase or boolean of
        those on the driver, as a pandas frame (_driver_stages)."""
        from pyspark.sql import functions as F

        spark = self.reader.spark
        b = boost * q.boost
        if isinstance(q, MatchNoDocsQuery):
            return _frame([], _SCORED) if local else spark.createDataFrame(
                [], "doc_id long, score double")
        if isinstance(q, MatchAllDocsQuery):
            return self.reader.drop_deleted(self.reader.doc_meta.select(
                "doc_id", F.lit(float(np.float32(b)) if self.precision == "float32" else float(b)).alias("score")
            ))
        if isinstance(q, TermQuery):
            df = self._score_terms([(0, term_key(q.field, q.term), b)], keep, local)
            return df if local else df.select("doc_id", "score")
        if isinstance(q, TermInSetQuery):
            const = float(np.float32(b)) if self.precision == "float32" else float(b)
            df = self._score_terms([(0, term_key(q.field, t), 1.0) for t in q.terms])
            return df.select("doc_id").distinct().select(
                "doc_id", F.lit(const).alias("score")
            )
        if isinstance(q, SynonymQuery):
            return self._eval_synonym(q, b)
        if isinstance(q, PhraseQuery):
            df = self._score_phrase(0, q, b, local)
            return df if local else df.select("doc_id", "score")
        if isinstance(q, DisjunctionMaxQuery):
            parts = []
            for i, d in enumerate(q.disjuncts):
                parts.append(self._eval(d, b).select("doc_id", F.col("score"), F.lit(i).alias("cid")))
            u = parts[0]
            for p in parts[1:]:
                u = u.unionByName(p)
            tb = float(q.tie_breaker)
            agg = u.groupBy("doc_id").agg(
                F.max("score").alias("mx"), F.sum("score").alias("sm")
            )
            expr = F.col("mx") + F.lit(tb) * (F.col("sm") - F.col("mx"))
            if self.precision == "float32":
                expr = expr.cast("float").cast("double")
            return agg.select("doc_id", expr.alias("score"))
        if isinstance(q, BooleanQuery):
            return self._eval_boolean(q, b, keep, local)
        raise TypeError(f"unsupported query node: {q!r}")

    def _eval_synonym(self, q: SynonymQuery, boost: float):
        """Blended stats: df = max over terms; tf summed per doc
        (SynonymQuery.java:47)."""
        from pyspark.sql import functions as F

        keys = [term_key(q.field, t) for t in q.terms]
        stats = self.reader.term_stats(keys)
        df_blend = max((stats.get(t, (0, 0))[0] for t in keys), default=0)
        n, _ = self.reader.collection_stats(q.field)
        if df_blend == 0 or n <= 0:
            return self._empty_scored()
        per_doc = self._tf_dl_df(keys).groupBy("doc_id").agg(
            F.sum("tf").alias("tf"), F.first("norm").alias("norm"))
        return self._score_freqs(
            per_doc, self._weight(q.field, boost, _idf(df_blend, n)))

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

    def _eval_boolean(self, q: BooleanQuery, boost: float, keep=None,
                      local: bool = False):
        """One hash aggregation: per-clause conditional sums (fixed
        summation order across clause ids — bit-reproducible) + occur
        counters, then the MUST/SHOULD/MUST_NOT/FILTER predicate; on the
        driver (local) its numpy twin, _boolean_local.
        Conjunctions with >=2 MUST/FILTER term clauses skip every block
        outside the MUST terms' common doc ranges (exact; planned on the
        driver from the skip data, _conjunction_blocks). keep: the term
        clauses' keep-set, planned by the caller (plan_pruned_or)."""
        from pyspark.sql import functions as F

        parts = []
        occur_by_cid: Dict[int, Occur] = {}
        flat_terms: List[Tuple[int, str, float]] = []
        for i, c in enumerate(q.clauses):
            occur_by_cid[i] = c.occur
            if isinstance(c.query, TermQuery):
                flat_terms.append((i, term_key(c.query.field, c.query.term),
                                   boost * c.query.boost if c.occur != Occur.FILTER else 1.0))
            elif c.occur == Occur.FILTER and self.query_cache is not None:
                # LRUQueryCache: FILTER doc sets are constant-score and
                # stats-free, so the persisted doc-id frame is reusable
                cached = self.query_cache.get_or_eval(
                    c.query, lambda q=c.query: self._eval(q, 1.0),
                    scope=getattr(self.reader, "cache_scope", ""),
                )
                parts.append(
                    cached.select(
                        F.lit(i).cast("int").alias("clause_id"), "doc_id",
                        F.lit(0.0).alias("score"),
                    )
                )
            else:
                sub = self._eval(c.query, boost if c.occur != Occur.FILTER else 1.0,
                                 local=local)
                parts.append(sub.assign(clause_id=np.int32(i)) if local else sub.select(
                    F.lit(i).cast("int").alias("clause_id"), "doc_id", "score"))
        if flat_terms:
            must_terms = sorted({
                t for cid, t, _ in flat_terms
                if occur_by_cid[cid] in (Occur.MUST, Occur.FILTER)
            })
            # prune only when every clause of the query is a flat term:
            # a non-term MUST sub-clause (e.g. phrase) isn't represented
            # in the common region, and its matches would be truncated
            # by the pruned SHOULD/NOT decodes
            if keep is None and len(must_terms) >= 2 and len(flat_terms) == len(q.clauses):
                keep = self._conjunction_blocks(
                    must_terms, sorted({t for _, t, _ in flat_terms}))[0]
            parts.insert(0, self._score_terms(flat_terms, keep, local))
        n_must = sum(1 for o in occur_by_cid.values() if o == Occur.MUST)
        n_filter = sum(1 for o in occur_by_cid.values() if o == Occur.FILTER)
        n_should_total = sum(1 for o in occur_by_cid.values() if o == Occur.SHOULD)
        mm = q.min_should_match
        if n_must == 0 and n_filter == 0 and n_should_total > 0:
            mm = max(mm, 1)
        if local:
            return _boolean_local(_frame(parts, _SCORED), occur_by_cid, mm,
                                  self.precision)
        u = parts[0]
        for p in parts[1:]:
            u = u.unionByName(p)

        # SQL strings, not Column trees: each Column operator is a py4j
        # round trip, and a 3-clause node built ~70 of them per query
        aggs, score_cols, cond, should = [], [], ["true"], []
        for i in sorted(occur_by_cid):
            o = occur_by_cid[i]
            aggs.append(f"max(CASE WHEN clause_id = {i} THEN 1 ELSE 0 END) AS m{i}")
            if o in (Occur.MUST, Occur.SHOULD):
                aggs.append(f"sum(CASE WHEN clause_id = {i} THEN score END) AS s{i}")
                score_cols.append(f"coalesce(s{i}, 0D)")
            if o in (Occur.MUST, Occur.FILTER):
                cond.append(f"m{i} = 1")
            elif o == Occur.MUST_NOT:
                cond.append(f"m{i} = 0")
            else:
                should.append(f"m{i}")
        if mm > 0 and should:
            cond.append(f"{' + '.join(should)} >= {mm}")
        # clause sums added left to right in clause order: a fixed
        # summation order keeps scores bit-reproducible
        total = " + ".join(score_cols) or "0D"
        if self.precision == "float32":
            total = f"CAST(CAST({total} AS FLOAT) AS DOUBLE)"
        g = u.groupBy("doc_id").agg(*[F.expr(a) for a in aggs])
        return g.where(" AND ".join(cond)).selectExpr("doc_id", f"{total} AS score")

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

        Returns the Spark plan's last_plan keys (search() adds the
        access path, _routed) plus "keep": {term: the kept blocks'
        min_doc values}, the keep-set _score_terms reads."""
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
            "expected_jobs": 1 + int(len(terms_with_boost) > 1),
            "keep": {t: set(lo[kept & (term == t)].tolist()) for t in wv},
        }

    def _search_pruned_or(self, terms_with_boost: List[Tuple[str, float]],
                          k: int, local: bool = False) -> pd.DataFrame:
        """Term / OR-of-terms top-k over the block-max keep-set
        (plan_pruned_or): the exhaustive plan of the same query — on the
        driver (local) or in Spark, with the same summation order, so the
        same scores — with every dropped block skipped undecoded."""
        plan = self.plan_pruned_or(terms_with_boost, k)
        keep = plan.pop("keep")
        self.last_plan = plan
        self.last_wand_stats = {"blocks_total": plan["blocks_total"],
                                "blocks_decoded": plan["blocks_kept"]}
        leaves = [TermQuery(term=t, boost=b) for t, b in terms_with_boost]
        q = leaves[0] if len(leaves) == 1 else BooleanQuery(clauses=tuple(
            BooleanClause(Occur.SHOULD, leaf) for leaf in leaves))
        if local:
            return self._top_k_local(self._eval(q, 1.0, keep, local=True), k)
        return self._top_k(self._eval(q, 1.0, keep), k)

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

    # -- access path ----------------------------------------------------------

    def _driver_stages(self, q: Query) -> Optional[List[Tuple[set, bool]]]:
        """(term keys, positional) of every leaf stage of a query the
        driver path runs — a term, a phrase, no docs (a query analyzed
        away), or a boolean of those (a non-term FILTER clause only
        without a query cache, whose doc sets are Spark frames), whose
        term clauses are one stage (_score_terms) and each other clause
        its own; None for any other rewritten query."""
        if isinstance(q, MatchNoDocsQuery):
            return []
        if isinstance(q, TermQuery):
            return [({term_key(q.field, q.term)}, False)]
        if isinstance(q, PhraseQuery):
            return [({term_key(q.field, t) for t in q.terms}, True)]
        if not isinstance(q, BooleanQuery) or not q.clauses:
            return None
        terms, out = set(), []
        for c in q.clauses:
            if isinstance(c.query, TermQuery):
                terms.add(term_key(c.query.field, c.query.term))
                continue
            cached = c.occur == Occur.FILTER and self.query_cache is not None
            sub = None if cached else self._driver_stages(c.query)
            if sub is None:
                return None
            out += sub
        return ([(terms, False)] if terms else []) + out

    def _planned_postings(self, q: Query) -> Optional[int]:
        """The postings a driver run of q decodes at most: per leaf stage
        (_driver_stages), the summed df of its terms, plus their summed
        ttf in a phrase — a term read by two stages counts twice — from
        the term statistics, so known before any blob is read. None when
        the driver path does not run q's shape."""
        stages = self._driver_stages(rewrite(q, None))
        if stages is None:
            return None
        stats = self.reader.term_stats(sorted(set().union(*(t for t, _ in stages))))
        total = 0
        for terms, positional in stages:
            for t in terms:
                df, ttf = stats.get(t, (0, 0))
                total += df + (ttf if positional else 0)
        return total

    @staticmethod
    def _routed(plan: dict, postings: Optional[int], local: bool) -> dict:
        """A Spark plan description with the access path that ran:
        "driver" (no Spark job) when local, else the plan's own, with
        reason "over-budget" when only the budget kept the query off the
        driver."""
        plan = dict(plan, postings_planned=postings, budget=codec.DRIVER_POSTINGS_BUDGET)
        if local:
            plan.update(access_path="driver", expected_jobs=0)
        elif postings is not None:
            plan["reason"] = "over-budget"
        return plan

    # -- public API -----------------------------------------------------------

    def search(self, q: Query, k: int = 10, after: Optional[Tuple[float, int]] = None,
               prune=False) -> pd.DataFrame:
        """Top-k: score desc, docID asc (HitQueue.java:76-81). `after`:
        (score, doc_id) cursor for searchAfter paging
        (IndexSearcher.java:419). `prune=True` or "auto": a term /
        OR-of-terms query plans a block-max keep-set on the driver
        (plan_pruned_or) and decodes only the kept blocks, with the
        exhaustive top-k as result (other shapes and paging run
        exhaustive; prune=False is the exhaustive reference).
        A term, phrase or boolean of those whose planned postings
        (_planned_postings) are under codec.DRIVER_POSTINGS_BUDGET runs on the
        driver with the Spark stages' own functions and no Spark job;
        any other query runs its Spark plan. The plan and its reason
        land on self.last_plan (_exhaustive_plan when nothing is pruned)
        and are logged at DEBUG on "lucene_solr_spark.search"."""
        self.last_plan = None
        self._skips = []
        q = self._with_default_field(q)
        postings = self._planned_postings(q)
        local = postings is not None and postings < codec.DRIVER_POSTINGS_BUDGET
        terms = self._as_or_terms(q) if prune and after is None else None
        if terms is not None:
            top = self._search_pruned_or(terms, k, local)
        else:
            top = self._search_exhaustive(q, k, after, local)
            self.last_plan = self._exhaustive_plan(q, prune, after)
        self.last_plan = self._routed(self.last_plan, postings, local)
        _log.debug("search plan: %s", self.last_plan)
        return top

    def _exhaustive_plan(self, q: Query, prune, after) -> dict:
        """last_plan of a search that ran the exhaustive plan: the
        access path and why, the skip-data prefilter's blocks kept out
        of blocks total, and the Spark jobs the plan runs under adaptive
        execution — one for the top-k and one more per aggregating node
        (boolean, phrase, dismax, synonym, term set), each a shuffle
        stage; deletes add none (each decode drops its deleted docs)."""
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
            "expected_jobs": 1 + _shuffles(rewrite(q, None)),
        }

    def scored(self, q: Query):
        """DataFrame (doc_id long, score double) of every doc q matches,
        unranked: the plan that search() ranks and count() counts
        (rewrite, dictionary expansion, rewrite, evaluation)."""
        q = rewrite(self._with_default_field(q), None)
        return self._eval(rewrite(self._expand_multiterm(q), None), 1.0)

    def _search_exhaustive(self, q: Query, k: int, after: Optional[Tuple[float, int]],
                           local: bool = False) -> pd.DataFrame:
        from pyspark.sql import functions as F

        if local:
            return self._top_k_local(self._eval(rewrite(q, None), 1.0, local=True),
                                     k, after)
        scored = self.scored(q)
        if after is not None:
            s, d = after
            scored = scored.where(
                (F.col("score") < float(s))
                | ((F.col("score") == float(s)) & (F.col("doc_id") > int(d)))
            )
        return self._top_k(scored, k)

    def _top_k(self, scored, k: int) -> pd.DataFrame:
        """The k best rows of a (doc_id, score) frame as (rank, doc_id,
        score): one TakeOrdered (per-partition heaps + driver merge)."""
        from pyspark.sql import functions as F

        rows = scored.orderBy(F.desc("score"), F.asc("doc_id")).limit(k).collect()
        return self._hits(np.array([r["doc_id"] for r in rows], dtype=np.int64),
                          np.array([r["score"] for r in rows], dtype=np.float64))

    def _top_k_local(self, scored: pd.DataFrame, k: int,
                     after: Optional[Tuple[float, int]] = None) -> pd.DataFrame:
        """The driver twin of _top_k (and of the `after` cursor filter):
        the k best (score desc, doc_id asc) rows of a pandas (doc_id,
        score) frame, sorting only the rows that reach the k-th score."""
        doc = scored["doc_id"].to_numpy(np.int64)
        sc = scored["score"].to_numpy(np.float64)
        if after is not None:
            s, d = float(after[0]), int(after[1])
            m = (sc < s) | ((sc == s) & (doc > d))
            doc, sc = doc[m], sc[m]
        if 0 < k < len(sc):
            m = sc >= np.partition(sc, len(sc) - k)[len(sc) - k]
            doc, sc = doc[m], sc[m]
        top = np.lexsort((doc, -sc))[:max(k, 0)]
        return self._hits(doc[top], sc[top])

    def _hits(self, doc: np.ndarray, score: np.ndarray) -> pd.DataFrame:
        return pd.DataFrame({
            "rank": np.arange(1, len(doc) + 1),
            "doc_id": doc,
            "score": score.astype(np.float32) if self.precision == "float32" else score,
        })

    def count(self, q: Query) -> int:
        return self.scored(q).count()

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
        """Replace MultiTermQuery nodes via Spark-side dictionary scans
        (MultiTermQuery.java rewrite methods):
        constant_score -> TermInSetQuery; scoring_boolean -> SHOULD
        TermQuery per term, each with its own idf (fuzzy terms carry the
        similarity boost); top_terms_N -> scoring_boolean capped to the
        N most competitive terms (boost desc, term asc)."""
        if isinstance(q, MultiTermQuery):
            terms = self.reader.expand(q)
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


def _shuffles(q: Query) -> int:
    """The aggregating nodes of a rewritten query: each is one shuffle
    stage, so one Spark job, of its plan."""
    if isinstance(q, BooleanQuery):
        return 1 + sum(_shuffles(c.query) for c in q.clauses)
    if isinstance(q, DisjunctionMaxQuery):
        return 1 + sum(_shuffles(d) for d in q.disjuncts)
    return int(isinstance(q, (PhraseQuery, SynonymQuery, TermInSetQuery,
                              MultiTermQuery)))


def _re_escape(c: str) -> str:
    import re

    return re.escape(c)


def _idf(df: int, n: int) -> float:
    """float64 BM25 idf ln(1 + (N - df + 0.5)/(df + 0.5)); 0 for a term
    without postings (its weight is then 0, as Lucene's)."""
    return math.log(1 + (n - df + 0.5) / (df + 0.5)) if df > 0 else 0.0


def _decoded_blocks(pdf, positions: bool = False, keep=None, dels=None):
    """The one block decoder of the Python stages: yields (term, doc_ids,
    tfs, norms[, pos]) per row of a batch of blocks (term, blob, plus
    min_doc with keep, pblob with positions). keep: {term: set of
    min_doc}, the conjunction prefilter's kept blocks — other rows are
    skipped undecoded. The kept rows decode in one
    codec.decode_blocks_batch call; each row yields slices of its flat
    arrays. dels: the reader's DeadDocs; deleted docs drop out of each
    block with their positions (one bitset gather per batch), and a
    block left empty is skipped."""
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


def decode_score(batches: Iterator[pd.DataFrame], info: dict) -> Iterator[pd.DataFrame]:
    """The term scoring stage: per batch of blk rows (term, min_doc,
    blob), (clause_id, doc_id, score) of every live posting of the kept
    blocks, once per clause its term serves. info (Searcher._score_terms):
    by_term {term: [(clause_id, boost)]}, weights, keep, dels, precision
    and norms."""
    for pdf in batches:
        out_cid, out_doc, out_score = [], [], []
        for term, doc_ids, tfs, norms in _decoded_blocks(
                pdf, keep=info["keep"], dels=info["dels"]):
            for cid, boost in info["by_term"][term]:
                out_cid.append(np.full(len(doc_ids), cid, dtype=np.int32))
                out_doc.append(doc_ids)
                out_score.append(_bm25_scores(
                    tfs, norms, info["weights"][f"{term}\x00{boost}"],
                    info["precision"], info["norms"]))
        if out_doc:
            yield pd.DataFrame({"clause_id": np.concatenate(out_cid),
                                "doc_id": np.concatenate(out_doc),
                                "score": np.concatenate(out_score)})


def decode_pos(batches: Iterator[pd.DataFrame], keep, dels,
               slots_by_term: Dict[str, List[int]]) -> Iterator[pd.DataFrame]:
    """The phrase's decode stage: per batch of blk rows (term, min_doc,
    blob, pblob), ONE ROW PER (BLOCK x CHUNK-PIECE x SLOT) with packed
    array columns (chunk, tidx, docs, tfs, norms, pos). Blocks split at
    8192-doc chunk boundaries (most have one piece), so match_chunk sees
    every term's postings of a doc range under ONE group key. Shipping
    block-sized array rows instead of per-doc rows cuts the shuffled ROW
    count by ~128x (same bytes) and — measured at 2M docs — removes the
    3M-small-python-object Arrow serialization that dominated the former
    per-doc-array stage (+1.2s of a 4.9s wall)."""
    for pdf in batches:
        rows_ch, rows_ti, rows_d, rows_tf, rows_nb, rows_p = [], [], [], [], [], []
        for term, doc_ids, tfs, norms, pos in _decoded_blocks(
                pdf, positions=True, keep=keep, dels=dels):
            tfs = tfs.astype(np.int32, copy=False)
            chunks = doc_ids >> CHUNK_BITS
            cut = np.flatnonzero(np.diff(chunks)) + 1
            bounds = np.concatenate(([0], cut, [len(doc_ids)]))
            poff = np.concatenate(([0], np.cumsum(tfs)))
            for a, b in zip(bounds[:-1], bounds[1:]):
                p_piece = pos[poff[a]:poff[b]].astype(np.int32, copy=False)
                for ti in slots_by_term[term]:
                    rows_ch.append(int(chunks[a]))
                    rows_ti.append(ti)
                    rows_d.append(doc_ids[a:b])
                    rows_tf.append(tfs[a:b])
                    rows_nb.append(norms[a:b])
                    rows_p.append(p_piece)
        if rows_ch:
            yield pd.DataFrame({
                "chunk": np.asarray(rows_ch, dtype=np.int64),
                "tidx": np.asarray(rows_ti, dtype=np.int32),
                "docs": pd.Series(rows_d, dtype=object),
                "tfs": pd.Series(rows_tf, dtype=object),
                "norms": pd.Series(rows_nb, dtype=object),
                "pos": pd.Series(rows_p, dtype=object),
            })


def _isin_sorted(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """Membership of sorted-unique a in sorted-unique b."""
    if len(b) == 0 or len(a) == 0:
        return np.zeros(len(a), dtype=bool)
    j = np.searchsorted(b, a).clip(0, len(b) - 1)
    return b[j] == a


def match_chunk(pdf: pd.DataFrame, nslots: int) -> pd.DataFrame:
    """The phrase match of one 8192-doc chunk's pieces (decode_pos rows
    of one chunk) as (doc_id, tf, norm) of the docs holding the phrase:
    ExactPhraseMatcher's advance loop, batched in numpy — conjunction by
    sorted-array intersection of each slot's doc lists, then occurrence
    counting by intersecting composite int64 keys (local_doc << 50 |
    shifted position): term i matches at p0 + i, so slot i's keys use
    pos - i and an occurrence survives every slot's key set. All
    O(postings log) sorted operations; no per-doc python."""
    empty = _frame([], _FREQS)
    chunk = int(pdf["chunk"].iloc[0])
    base = np.int64(chunk) << CHUNK_BITS
    slot_docs, slot_tfs, slot_nbs, slot_pos = [], [], [], []
    for i in range(nslots):
        g = pdf[pdf["tidx"] == i]
        if not len(g):
            return empty
        # pieces of one term within a chunk own disjoint doc ranges (a
        # posting list is sorted and blocks partition it): ordering
        # pieces by first doc yields globally sorted docs and keeps
        # positions aligned — no big sort
        order = sorted(range(len(g)), key=lambda j: g["docs"].iloc[j][0])
        slot_docs.append(np.concatenate(
            [np.asarray(g["docs"].iloc[j], np.int64) for j in order]))
        slot_tfs.append(np.concatenate(
            [np.asarray(g["tfs"].iloc[j], np.int64) for j in order]))
        slot_nbs.append(np.concatenate(
            [np.asarray(g["norms"].iloc[j], np.int64) for j in order]))
        slot_pos.append(np.concatenate(
            [np.asarray(g["pos"].iloc[j], np.int64) for j in order]))
    common = slot_docs[0]
    for i in range(1, nslots):
        common = common[_isin_sorted(common, slot_docs[i])]
        if not len(common):
            return empty
    keys = None
    norm0 = None
    for i in range(nslots):
        mask = _isin_sorted(slot_docs[i], common)
        ld = (slot_docs[i][mask] - base)
        tf_r = slot_tfs[i][mask]
        pos_r = slot_pos[i][np.repeat(mask, slot_tfs[i])]
        # local doc (13 bits) << 50 leaves 50 bits for the shifted
        # position — doc ids stay exact at any corpus size because only
        # the in-chunk offset is encoded
        k = (np.repeat(ld, tf_r) << 50) | (pos_r - i + nslots)
        if i == 0:
            keys = k
            norm0 = (ld, slot_nbs[i][mask])
        else:
            keys = keys[_isin_sorted(keys, k)]
        if not len(keys):
            return empty
    ld_match = keys >> 50
    uld, tf = np.unique(ld_match, return_counts=True)
    nb = norm0[1][np.searchsorted(norm0[0], uld)]
    return pd.DataFrame({"doc_id": base + uld, "tf": tf.astype(np.int64),
                         "norm": nb.astype(np.int32)})


def score_rows(batches: Iterator[pd.DataFrame], weight: dict, precision: str,
               norms_mode: str) -> Iterator[pd.DataFrame]:
    """BM25 (_bm25_scores) of (doc_id, tf, norm) batches with one weight:
    the phrase and synonym scoring stage."""
    for pdf in batches:
        sc = _bm25_scores(pdf["tf"].to_numpy(dtype=np.int64),
                          pdf["norm"].to_numpy(dtype=np.int64),
                          weight, precision, norms_mode)
        yield pd.DataFrame({"doc_id": pdf["doc_id"], "score": sc})


def _boolean_local(u: pd.DataFrame, occur_by_cid: Dict[int, Occur], mm: int,
                   precision: str) -> pd.DataFrame:
    """The driver twin of _eval_boolean's aggregate over its clauses'
    (clause_id, doc_id, score) rows: per clause, the summed score from
    0.0 (Spark's sum) and a match flag; the MUST/FILTER/MUST_NOT and
    min-should-match predicate; clause sums added left to right in
    clause order in double, cast to float32 in float32 mode. Memory is
    O(rows + docs) whatever the clause count: the rows are taken clause
    by clause, each clause's per-doc sum is added into one running total
    (an absent clause adds 0.0, as Spark's coalesce does) and its matches
    into per-doc counters."""
    doc, inv = np.unique(u["doc_id"].to_numpy(np.int64), return_inverse=True)
    # (clause, doc) keys in clause order; each key's scores summed from
    # 0.0 in row order
    key, at = np.unique(u["clause_id"].to_numpy(np.int64) * len(doc) + inv,
                        return_inverse=True)
    sums = np.bincount(at.ravel(), weights=u["score"].to_numpy(np.float64),
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
    return pd.DataFrame({"doc_id": doc[ok], "score": total[ok]})


# column dtypes of the stages' pandas frames, for the empty ones
_SCORED = {"clause_id": np.int32, "doc_id": np.int64, "score": np.float64}
_FREQS = {"doc_id": np.int64, "tf": np.int64, "norm": np.int32}
_PIECES = {"chunk": np.int64, "tidx": np.int32, "docs": object, "tfs": object,
           "norms": object, "pos": object}


def _frame(parts, cols: Dict[str, type]) -> pd.DataFrame:
    """The frames a stage yielded, concatenated; an empty frame of cols
    when it yielded none."""
    parts = list(parts)
    if parts:
        return pd.concat(parts, ignore_index=True)
    return pd.DataFrame({c: np.empty(0, dtype=t) for c, t in cols.items()})


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
