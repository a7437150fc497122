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
  per-leaf scoring           -> block filter (term pushdown) -> Arrow
                                decode+score UDF (vectorized numpy), the
                                one Spark job of a query (plus the shuffle
                                of an aggregating node)
  boolean composition        -> ONE hash aggregation per boolean node:
                                conditional per-clause sums + match
                                counters (Boolean2ScorerSupplier.java:92-113
                                occur buckets; BooleanScorer.java windowed
                                accumulation == Spark hash agg)
  collector / merge          -> orderBy(score desc, doc_id asc).limit(k)
                                == TakeOrderedAndProject (per-partition
                                heaps + driver merge; TopDocs.merge)

Two scoring precisions:
  float32  — bit-parity with Lucene (BM25Similarity float math); per-term
             score float32, clause sums accumulate float64 -> cast float32.
  float64  — all-double arithmetic with a fixed operation order, used by
             the SQL-checked query surface (bit-reproducible vs DuckDB).

Pruning (block metadata = the skip-list/WAND analog, SURVEY §4):
  term / OR-of-terms top-k takes a batch block-max WAND path
  (search(..., prune=True), Broder et al. 2003; Ding & Suel 2011):
  per-block upper bounds from each block's competitive impact frontier,
  a running threshold from the blocks decoded so far, and a descent
  that stops at the first block with UB + slack < threshold. Docs whose
  blocks were pruned can surface only with partial sums provably below
  the true k-th score, so the emitted top-k is exactly the exhaustive
  one — shadow-verified in tests/test_wand.py.
"""

from __future__ import annotations

import logging
import math
import os
from typing import Dict, Iterator, List, Optional, Tuple

import numpy as np
import pandas as pd

from .. import bm25
from ..codec import decode_block, decode_block_positions
from ..fields import FIELD_SEP, split_term_key, term_key
from ..smallfloat import LENGTH_TABLE
from ..indexing.builder import POSTINGS_SCHEMA
from ..indexing.deletes import delete_generations, deleted_docs_df
from ..indexing.manifest import ManifestStore, doc_meta_path, postings_path
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


def _data_files(root: str) -> List[str]:
    """Data files of a Spark-written parquet directory; as in Spark,
    names starting with '_' or '.' (_SUCCESS, checksums) are not data."""
    if not os.path.isdir(root):
        return []
    return sorted(os.path.join(root, f) for f in os.listdir(root)
                  if not f.startswith(("_", ".")))


def _footer_schema(roots: List[str], drop=()):
    """Spark schema of the parquet files under roots: the first footer of
    each root, unified, minus the columns in drop."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import from_arrow_schema
    from pyspark.sql.types import StructType

    schema = from_arrow_schema(pa.unify_schemas(
        [pq.read_schema(fs[0]) for fs in map(_data_files, roots) if fs]))
    return StructType([f for f in schema.fields if f.name not in drop])


def _read_term_rows(roots: List[str], columns: List[str], terms):
    """The rows of the given terms in the parquet files under roots,
    read on the driver with pyarrow (a term `isin` filter)."""
    import pyarrow.dataset as ds

    files = [f for r in roots for f in _data_files(r)]
    return ds.dataset(files, format="parquet").to_table(
        columns=columns, filter=ds.field("term").isin(list(terms)))


class IndexReader:
    """Unified view over the live segments of an index."""

    def __init__(self, spark, index_dir: str, norms: str = "byte"):
        self.spark = spark
        self.index_dir = index_dir
        self.norms = norms
        self.store = ManifestStore(index_dir)
        self.manifest = self.store.load()
        if not self.manifest.segments:
            raise ValueError(f"no live segments in {index_dir}")
        self.doc_count = self.manifest.total_docs
        self.sum_dl = self.manifest.sum_dl
        segs = [self.store.segment_dir(s.name) for s in self.manifest.segments]
        self._block_dirs = [postings_path(d) for d in segs]
        self._stats_dirs = [os.path.join(d, "term_stats.parquet") for d in segs]
        doc_dirs = [doc_meta_path(d) for d in segs]
        # pinned schemas, so no read infers one (an inference is a Spark
        # job): blocks take the writers' POSTINGS_SCHEMA; term stats and
        # doc meta (whose columns vary with fields and stored content)
        # take one pyarrow footer read per segment. Doc meta drops the
        # postings columns the builder's union write leaves null there.
        self.blocks = spark.read.schema(POSTINGS_SCHEMA).parquet(*self._block_dirs)
        self.stats = spark.read.schema(
            _footer_schema(self._stats_dirs)).parquet(*self._stats_dirs)
        self.doc_meta = spark.read.schema(_footer_schema(
            doc_dirs, drop=self.blocks.columns)).parquet(*doc_dirs)
        # liveDocs: tombstones filter matches at collect time; stats
        # intentionally still count deleted docs (Lucene semantics —
        # "docFreq ignores deletions") until a merge purges them
        self.has_deletes = bool(delete_generations(index_dir))
        self.deletes = deleted_docs_df(spark, index_dir) if self.has_deletes else None
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

        The fast path is GUARDED, not assumed (the density/order
        preconditions are checkable, so check them):
          - deletes or merged segments (merge keeps global docIDs, so
            purged deletes leave gaps and cross-batch docID order is
            only the sort order if batches arrived monotone) -> full
            TakeOrdered over doc_meta (always correct);
          - otherwise one tiny count job verifies every segment head
            yields min(k, doc_count) rows (docID density) and falls
            back to the full sort on any shortfall."""
        from functools import reduce

        from pyspark.sql import DataFrame, functions as F

        sort = self.manifest.index_sort
        if not sort:
            raise ValueError("index has no index_sort (build with index_sort=[...])")

        def full_sort():
            return self.live(self.doc_meta).orderBy(
                *[F.col(c) for c in sort], F.asc("doc_id")
            ).limit(k)

        segs = self.manifest.segments
        if self.has_deletes or any(
            s.name.startswith("seg_m_")
            or str(s.source_batch).startswith("merge:")
            for s in segs
        ):
            return full_sort()
        heads = []
        for i, s in enumerate(segs):
            d = self.store.segment_dir(s.name)
            # docIDs are dense in sort order within the segment, so the
            # segment's first k docs are exactly ids < doc_base + k: a
            # parquet-pushable range predicate — row groups past the
            # head never leave disk (the scan-stops-early move; a bare
            # LIMIT would not work, Spark schedules splits by size)
            heads.append(
                self.spark.read.schema(self.doc_meta.schema)
                .parquet(doc_meta_path(d))
                .where(F.col("doc_id") < s.doc_base + k)
                .withColumn("_seg", F.lit(i))
            )
        merged = reduce(DataFrame.unionByName, heads)
        # density check: each head must hold exactly min(k, doc_count)
        # rows or the head predicate missed live docs — one job over
        # the already-pruned head rows (<= k * n_segments of them)
        got = {
            r["_seg"]: r["cnt"]
            for r in merged.groupBy("_seg").agg(F.count(F.lit(1)).alias("cnt")).collect()
        }
        for i, s in enumerate(segs):
            if got.get(i, 0) != min(k, s.doc_count):
                return full_sort()
        return merged.drop("_seg").orderBy(
            *[F.col(c) for c in sort], F.asc("doc_id")
        ).limit(k)

    def live(self, df):
        """Apply the liveDocs filter (anti-join on tombstones)."""
        if not self.has_deletes:
            return df
        return df.join(self.deletes, "doc_id", "left_anti")

    def _term_stats_rows(self, terms: Tuple[str, ...]) -> list:
        """The query terms' entries of every live segment's term
        dictionary (term_stats), read on the driver with pyarrow — the
        in-heap terms index analog (BlockTreeTermsWriter.java:196), so
        statistics cost no Spark job. One Row per term, the shape of a
        groupBy("term") over self.stats: df and ttf summed across
        segments, the per-segment impact tables (gimps) and cost
        sketches (gqs) gathered for term_wand_stats / term_cost_stats to
        merge. Serves term_stats, term_wand_stats and term_cost_stats;
        single-entry cache, as one search asks for the same set twice."""
        from pyspark.sql import Row

        cached = getattr(self, "_stats_rows_cache", None)
        if cached is not None and cached[0] == terms:
            return cached[1]
        tbl = _read_term_rows(self._stats_dirs, [
            "term", "df", "ttf", "gimp_norm", "gimp_tf", "gnblocks", "gq_tf",
            "gq_dl"], terms)
        acc: Dict[str, list] = {}
        for r in tbl.to_pylist():
            a = acc.setdefault(r["term"], [0, 0, [], []])
            a[0] += r["df"]
            a[1] += r["ttf"]
            a[2].append(Row(gimp_norm=r["gimp_norm"], gimp_tf=r["gimp_tf"]))
            a[3].append(Row(gnblocks=r["gnblocks"], gq_tf=r["gq_tf"],
                            gq_dl=r["gq_dl"]))
        rows = [Row(term=t, df=a[0], ttf=a[1], gimps=a[2], gqs=a[3])
                for t, a in sorted(acc.items())]
        self._stats_rows_cache = (terms, rows)
        return rows

    def term_stats(self, terms: List[str]) -> Dict[str, Tuple[int, int]]:
        """Global (df, ttf) per term — summed across segments on the
        driver, broadcast into scoring UDFs."""
        if not terms:
            return {}
        rows = self._term_stats_rows(tuple(sorted(set(terms))))
        return {r["term"]: (int(r["df"]), int(r["ttf"])) for r in rows
                if r["term"] in set(terms)}

    def term_wand_stats(self, terms: List[str]) -> Dict[str, Tuple[list, list]]:
        """Per-term GLOBAL competitive-impact table (norms, tfs) — the
        per-segment tables persisted in term_stats
        (CompetitiveImpactAccumulator.java:30), merged per norm value by
        max tf — the WAND slack bound input, so the pruned search needs
        no extra metadata job. Terms without postings are absent.
        Served from the same driver read as term_stats (shared cache)."""
        if not terms:
            return {}
        want = set(terms)
        out = {}
        for r in self._term_stats_rows(tuple(sorted(want))):
            if r["term"] not in want:
                continue
            acc: Dict[int, int] = {}
            for seg in r["gimps"]:
                for nb, tf in zip(seg["gimp_norm"], seg["gimp_tf"]):
                    if acc.get(nb, -1) < tf:
                        acc[nb] = tf
            ks = sorted(acc)
            out[r["term"]] = (ks, [acc[nb] for nb in ks])
        return out

    def term_cost_stats(
        self, terms: List[str]
    ) -> Optional[Dict[str, Tuple[np.ndarray, np.ndarray, np.ndarray]]]:
        """Per-term block-UB distribution for the access-path cost gate:
        {term: (tf, dl, weight)} where (tf[i], dl[i]) are realized
        frontier pairs at equally-spaced order statistics of the
        per-block upper bound and weight[i] = blocks represented by
        point i. Merged across segments driver-side (each segment's
        points carry weight nblocks_seg / npoints_seg — an empirical
        mixture, exact when every block is a point). None when any
        live segment holding a term wrote no sketch (multi-field and
        zero-doc segments, builder.py compute_term_stats) — callers
        fall back to un-gated behavior. Served from the same driver read
        as term_stats."""
        if not terms:
            return None
        want = set(terms)
        rows = [r for r in self._term_stats_rows(tuple(sorted(set(terms))))
                if r["term"] in want]
        out: Dict[str, Tuple[np.ndarray, np.ndarray, np.ndarray]] = {}
        for r in rows:
            tfs, dls, wts = [], [], []
            for seg in r["gqs"]:
                nb, qtf, qdl = seg["gnblocks"], seg["gq_tf"], seg["gq_dl"]
                if qtf is None or qdl is None or not len(qtf):
                    return None
                w = float(nb) / len(qtf)
                tfs.append(np.asarray(qtf, dtype=np.float64))
                dls.append(np.asarray(qdl, dtype=np.float64))
                wts.append(np.full(len(qtf), w, dtype=np.float64))
            out[r["term"]] = (np.concatenate(tfs), np.concatenate(dls),
                              np.concatenate(wts))
        return out

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
        spans = sorted(
            (s.doc_base, s.doc_base + s.doc_count)
            for r in readers for s in r.manifest.segments
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
        self._block_dirs = [d for r in readers for d in r._block_dirs]
        self._stats_dirs = [d for r in readers for d in r._stats_dirs]
        self.has_deletes = any(r.has_deletes for r in readers)
        self.deletes = (
            _union_all([r.deletes for r in readers if r.has_deletes])
            if self.has_deletes else None
        )
        self.field_stats: Dict[str, Tuple[int, int]] = {}
        for r in readers:
            for f, (dc, dl) in r.field_stats.items():
                c0, l0 = self.field_stats.get(f, (0, 0))
                self.field_stats[f] = (c0 + dc, l0 + dl)
        self.cache_scope = "+".join(r.cache_scope for r in readers)

        class _Segs:
            segments = [s for r in readers for s in r.manifest.segments]

        self.manifest = _Segs()

    live = IndexReader.live
    _term_stats_rows = IndexReader._term_stats_rows
    term_stats = IndexReader.term_stats
    term_wand_stats = IndexReader.term_wand_stats
    term_cost_stats = IndexReader.term_cost_stats
    collection_stats = IndexReader.collection_stats
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
        # introspection: the WAND gate's decision (plan_pruned_or) for
        # term / OR queries, else _exhaustive_plan's description
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

    def _weights(self, terms_with_boost: List[Tuple[str, float]]):
        """Per-term scoring constants; float32 Lucene-style or float64.
        Terms are term-dict KEYS (possibly field-prefixed); N and avgdl
        come from the key's field stats (per-field CollectionStatistics)."""
        stats = self.reader.term_stats(sorted({t for t, _ in terms_with_boost}))
        out = {}
        for term, boost in terms_with_boost:
            fld, _ = split_term_key(term)
            n, sttf = self.reader.collection_stats(fld)
            if n <= 0:
                n, sttf = 1, 1  # unknown field: no postings exist anyway
            df, _ = stats.get(term, (0, 0))
            if self.precision == "float32":
                tw = bm25.make_term_weight(term, df, n, sttf, boost)
                out[(term, boost)] = {
                    "wv": float(tw.weight_value),
                    "cache": tw.cache.tolist(),
                    "avgdl32": float(bm25.avg_field_length(sttf, n)),
                    "df": df,
                }
            else:
                idf = math.log(1 + (n - df + 0.5) / (df + 0.5)) if df > 0 else 0.0
                avgdl = sttf / n
                out[(term, boost)] = {"idf": idf, "avgdl": avgdl, "df": df, "boost": boost}
        return out

    # -- leaf scoring: decode blocks -> (clause_id, doc_id, score) ----------

    def _score_terms(self, clause_terms: List[Tuple[int, str, float]],
                     keep: Optional[Dict[str, set]] = None):
        """clause_terms: (clause_id, term, boost). Returns DataFrame
        (clause_id int, doc_id long, score double). Scores are exact
        float32 values widened to double (float32 mode) or pure doubles
        (float64 mode) — downstream sums happen in double either way.
        keep: the conjunction prefilter's kept block keys per term
        (_conjunction_blocks); other blocks are skipped undecoded."""
        from pyspark.sql import functions as F

        spark = self.reader.spark
        weights = self._weights([(t, b) for _, t, b in clause_terms])
        by_term: Dict[str, List[Tuple[int, float]]] = {}
        for cid, t, b in clause_terms:
            by_term.setdefault(t, []).append((cid, b))
        precision = self.precision
        norms_mode = self.reader.norms
        k1 = 1.2
        b_ = 0.75
        bc = spark.sparkContext.broadcast(
            {
                "by_term": by_term,
                "weights": {f"{t}\x00{b}": w for (t, b), w in weights.items()},
                "keep": keep,
            }
        )

        def decode_score(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            info = bc.value
            kept = info["keep"]
            for pdf in batches:
                out_cid, out_doc, out_score = [], [], []
                for term, md, blob in zip(pdf["term"], pdf["min_doc"], pdf["blob"]):
                    if kept is not None and md not in kept[term]:
                        continue
                    doc_ids, tfs, norms = decode_block(bytes(blob))
                    for cid, boost in info["by_term"][term]:
                        w = info["weights"][f"{term}\x00{boost}"]
                        if precision == "float32":
                            if norms_mode == "byte":
                                cache = np.asarray(w["cache"], dtype=np.float32)
                                nv = cache[norms & 0xFF]
                            else:
                                # exact lengths stored: float32 norm from dl
                                nv = _norm32(norms, w["avgdl32"])
                            freq = tfs.astype(np.float32)
                            sc = (
                                (np.float32(w["wv"]) * freq) / (freq + nv)
                            ).astype(np.float32).astype(np.float64)
                        else:
                            dl = norms.astype(np.float64)
                            freq = tfs.astype(np.float64)
                            denom = freq + k1 * (1 - b_ + b_ * dl / w["avgdl"])
                            sc = w["idf"] * (freq * (k1 + 1)) / denom * w["boost"]
                        out_cid.append(np.full(len(doc_ids), cid, dtype=np.int32))
                        out_doc.append(doc_ids)
                        out_score.append(sc)
                if out_doc:
                    yield pd.DataFrame(
                        {
                            "clause_id": np.concatenate(out_cid),
                            "doc_id": np.concatenate(out_doc),
                            "score": np.concatenate(out_score),
                        }
                    )

        terms = list(by_term.keys())
        # project BEFORE the Arrow stage: the decoder reads the block key
        # and its doc section only (column pruning reaches the scan)
        filtered = self.reader.blocks.where(F.col("term").isin(terms)).select(
            "term", "min_doc", "blob")
        return filtered.mapInPandas(
            decode_score, schema="clause_id int, doc_id long, score double"
        )

    # -- phrase leaf ---------------------------------------------------------

    def _score_phrase(self, cid: int, q: PhraseQuery, boost: float):
        """Exact phrase (slop=0, ExactPhraseMatcher): vectorized block
        decode to exploded (doc_id, pos) rows per term, then a JVM
        position self-join — term i matches at (doc, p0+i) — counts
        phrase occurrences; tf scored like a term with idf = sum of
        per-term idfs (BM25Similarity idfExplain array). No per-doc
        Python anywhere: decode is numpy-batch, matching is a Catalyst
        join, final scoring is one Arrow pass over (doc, tf, norm)."""
        from pyspark.sql import functions as F

        spark = self.reader.spark
        terms = [term_key(q.field, t) for t in q.terms]
        n, sttf = self.reader.collection_stats(q.field)
        if n <= 0:
            return spark.createDataFrame([], "clause_id int, doc_id long, score double")
        stats = self.reader.term_stats(terms)
        if any(stats.get(t, (0, 0))[0] == 0 for t in terms):
            return spark.createDataFrame([], "clause_id int, doc_id long, score double")
        idf_sum32 = np.float32(
            float(
                np.sum(
                    np.array(
                        [float(bm25.idf(stats[t][0], n)) for t in terms], dtype=np.float64
                    )
                )
            )
        )
        weight_value = float(np.float32(np.float32(idf_sum32 * np.float32(boost)) * (bm25.K1 + np.float32(1.0))))
        avgdl32 = bm25.avg_field_length(sttf, n)
        cache = bm25.norm_cache(avgdl32).tolist()
        idf_sum64 = sum(
            math.log(1 + (n - stats[t][0] + 0.5) / (stats[t][0] + 0.5)) for t in terms
        )
        avgdl64 = sttf / n
        precision = self.precision
        norms_mode = self.reader.norms
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
        bc = spark.sparkContext.broadcast(
            {"cache": cache, "wv": weight_value, "avgdl32": float(avgdl32),
             "idf64": idf_sum64, "avgdl64": avgdl64, "boost": boost,
             "keep": keep}
        )

        nslots = len(terms)

        def decode_pos(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            # ONE ROW PER (BLOCK x CHUNK-PIECE x SLOT), all columns
            # packed arrays: blocks are split at 8192-doc chunk
            # boundaries (most have one piece) so the downstream
            # phrase match can co-locate every term's postings for a
            # doc range under ONE shuffle key. Shipping block-sized
            # array rows instead of per-doc rows cuts the shuffled ROW
            # count by ~128x (same bytes) and — measured at 2M docs —
            # removes the 3M-small-python-object Arrow serialization
            # that dominated the former per-doc-array stage (+1.2s of
            # a 4.9s wall).
            kept = bc.value["keep"]
            for pdf in batches:
                rows_ch, rows_ti, rows_d, rows_tf, rows_nb, rows_p = (
                    [], [], [], [], [], [])
                for term, md, blob, pb in zip(pdf["term"], pdf["min_doc"],
                                              pdf["blob"], pdf["pblob"]):
                    if kept is not None and md not in kept[term]:
                        continue
                    doc_ids, tfs, norms, pos = decode_block_positions(
                        bytes(blob), pb)
                    if len(doc_ids) == 0:
                        continue
                    tfs = tfs.astype(np.int32, copy=False)
                    chunks = doc_ids >> CHUNK_BITS
                    cut = np.flatnonzero(np.diff(chunks)) + 1
                    bounds = np.concatenate(([0], cut, [len(doc_ids)]))
                    poff = np.concatenate(([0], np.cumsum(tfs)))
                    for a, b in zip(bounds[:-1], bounds[1:]):
                        d_piece = doc_ids[a:b]
                        tf_piece = tfs[a:b]
                        nb_piece = norms[a:b]
                        p_piece = pos[poff[a]:poff[b]].astype(
                            np.int32, copy=False)
                        for ti in slots_by_term[term]:
                            rows_ch.append(int(chunks[a]))
                            rows_ti.append(ti)
                            rows_d.append(d_piece)
                            rows_tf.append(tf_piece)
                            rows_nb.append(nb_piece)
                            rows_p.append(p_piece)
                if rows_ch:
                    yield pd.DataFrame(
                        {
                            "chunk": np.asarray(rows_ch, dtype=np.int64),
                            "tidx": np.asarray(rows_ti, dtype=np.int32),
                            "docs": pd.Series(rows_d, dtype=object),
                            "tfs": pd.Series(rows_tf, dtype=object),
                            "norms": pd.Series(rows_nb, dtype=object),
                            "pos": pd.Series(rows_p, dtype=object),
                        }
                    )

        occ = (
            self.reader.blocks.where(F.col("term").isin(terms))
            .select("term", "min_doc", "blob", "pblob")
            .mapInPandas(
                decode_pos,
                "chunk long, tidx int, docs array<long>, tfs array<int>, "
                "norms array<int>, pos array<int>")
        )

        # ONE shuffle (the chunk-piece rows), then the whole phrase
        # match runs vectorized numpy per 8192-doc chunk group
        # (ExactPhraseMatcher's advance loop, batched): conjunction by
        # sorted-array intersection of each slot's doc lists, then
        # occurrence counting by intersecting composite int64 keys
        # (local_doc << 50 | shifted position) — term i matches at
        # p0 + i, so slot i's keys use pos - i and an occurrence
        # survives every slot's key set. All O(postings log) sorted
        # operations; no per-doc python, no per-position Catalyst work.
        def _isin_sorted(a: np.ndarray, b: np.ndarray) -> np.ndarray:
            # membership of sorted-unique a in sorted-unique b
            if len(b) == 0 or len(a) == 0:
                return np.zeros(len(a), dtype=bool)
            j = np.searchsorted(b, a).clip(0, len(b) - 1)
            return b[j] == a

        def match_chunk(pdf: pd.DataFrame) -> pd.DataFrame:
            empty = pd.DataFrame(
                {"doc_id": np.empty(0, np.int64), "tf": np.empty(0, np.int64),
                 "norm": np.empty(0, np.int32)})
            chunk = int(pdf["chunk"].iloc[0])
            base = np.int64(chunk) << CHUNK_BITS
            slot_docs, slot_tfs, slot_nbs, slot_pos = [], [], [], []
            for i in range(nslots):
                g = pdf[pdf["tidx"] == i]
                if not len(g):
                    return empty
                # pieces of one term within a chunk own disjoint doc
                # ranges (a posting list is sorted and blocks partition
                # it): ordering pieces by first doc yields globally
                # sorted docs and keeps positions aligned — no big sort
                order = sorted(range(len(g)),
                               key=lambda j: g["docs"].iloc[j][0])
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
                # local doc (13 bits) << 50 leaves 50 bits for the
                # shifted position — doc ids stay exact at any corpus
                # size because only the in-chunk offset is encoded
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
            return pd.DataFrame({"doc_id": base + uld,
                                 "tf": tf.astype(np.int64),
                                 "norm": nb.astype(np.int32)})

        freq = occ.groupBy("chunk").applyInPandas(
            match_chunk, "doc_id long, tf long, norm int")

        def score_rows(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            info = bc.value
            for pdf in batches:
                tf = pdf["tf"].to_numpy(dtype=np.int64)
                nb = pdf["norm"].to_numpy(dtype=np.int64)
                if precision == "float32":
                    if norms_mode == "byte":
                        cache_arr = np.asarray(info["cache"], dtype=np.float32)
                        nv = cache_arr[nb & 0xFF]
                    else:
                        nv = _norm32(nb, info["avgdl32"])
                    f32 = tf.astype(np.float32)
                    sc = ((np.float32(info["wv"]) * f32) / (f32 + nv)).astype(np.float32).astype(np.float64)
                else:
                    dl = nb.astype(np.float64)
                    denom = tf + 1.2 * (1 - 0.75 + 0.75 * dl / info["avgdl64"])
                    sc = info["idf64"] * (tf * 2.2) / denom * info["boost"]
                yield pd.DataFrame({"doc_id": pdf["doc_id"], "score": sc})

        scored = freq.mapInPandas(score_rows, "doc_id long, score double")
        return scored.select(F.lit(cid).cast("int").alias("clause_id"), "doc_id", "score")

    # -- segment-native positions / similarities / spans ---------------------
    #
    # The scale-path (persisted FOR-128 segments) answers the SAME span,
    # sloppy-phrase and pluggable-Similarity queries as the live
    # FulltextIndex: blocks already store positions and norms, so these
    # are decode + the shared scoring/matching expressions
    # (similarities.py, spanmatch.py) — wiring, not re-analysis.
    # Scoring here is float64 (the SQL-oracle precision); the float32
    # Lucene-bit-parity claim covers the BM25 term/boolean/phrase paths.

    def _decode_positions_df(self, term_keys: List[str]):
        """(doc_id, term, norm, pos) occurrence rows decoded from the
        position-bearing blocks of the given term-dict keys. Positions
        are presented 1-BASED (pos0 + 1), matching the live tokens
        relation and the SQL oracles; blocks store 0-based positions."""
        from pyspark.sql import functions as F

        def decode_pos(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            for pdf in batches:
                cols_doc, cols_term, cols_nb, cols_pos = [], [], [], []
                for term, blob, pb in zip(pdf["term"], pdf["blob"], pdf["pblob"]):
                    doc_ids, tfs, norms, pos = decode_block_positions(
                        bytes(blob), pb)
                    cols_doc.append(np.repeat(doc_ids, tfs))
                    cols_nb.append(np.repeat(norms, tfs))
                    cols_term.append(np.full(len(pos), term, dtype=object))
                    cols_pos.append(pos + 1)
                if cols_doc:
                    yield pd.DataFrame(
                        {
                            "doc_id": np.concatenate(cols_doc),
                            "term": np.concatenate(cols_term),
                            "norm": np.concatenate(cols_nb),
                            "pos": np.concatenate(cols_pos),
                        }
                    )

        return (
            self.reader.blocks.where(F.col("term").isin(sorted(set(term_keys))))
            .select("term", "blob", "pblob")
            .mapInPandas(decode_pos, "doc_id long, term string, norm int, pos long")
        )

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
        singleton collect_list appends. Positions 1-based like
        _decode_positions_df."""

        def decode_pos(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            for pdf in batches:
                cols_doc, cols_term, cols_nb, cols_parr = [], [], [], []
                for term, blob, pb in zip(pdf["term"], pdf["blob"], pdf["pblob"]):
                    doc_ids, tfs, norms, pos = decode_block_positions(
                        bytes(blob), pb)
                    if len(doc_ids) == 0:
                        continue
                    cols_doc.append(doc_ids)
                    cols_nb.append(norms)
                    cols_term.append(np.full(len(doc_ids), term, dtype=object))
                    cols_parr.extend(np.split(pos + 1, np.cumsum(tfs)[:-1]))
                if cols_doc:
                    yield pd.DataFrame(
                        {
                            "doc_id": np.concatenate(cols_doc),
                            "term": np.concatenate(cols_term),
                            "norm": np.concatenate(cols_nb),
                            "parr": pd.Series(cols_parr, dtype=object),
                        }
                    )

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
        # contributes its idf once per occurrence in the query (matches
        # the live twin in fulltext.py span_near/sloppy_phrase_multi).
        idf_sum = sum(sims.idf_bm25(stats[t][0], n) for t in term_keys)
        return idf_sum, sttf / n

    def _score_span_freq(self, freq_df, idf_sum: float, avgdl: float):
        """BM25-score a (doc_id, dl, tf) span-frequency frame."""
        from pyspark.sql import functions as F

        from .. import similarities as sims

        sc = freq_df.where(F.col("tf") > 0).select(
            "doc_id",
            sims.bm25_score(F.col("tf"), F.col("dl"), idf=idf_sum, avgdl=avgdl)
            .alias("score"),
        )
        return self.reader.live(sc)

    def _empty_scored(self):
        return self.reader.spark.createDataFrame([], "doc_id long, score double")

    def span_near(self, terms: List[str], slop: int = 2,
                  ordered: bool = True, field: Optional[str] = None):
        """SpanNearQuery over the segment index (spans/
        SpanNearQuery.java:42): decode positions -> per-doc array
        gather -> windowed tuple-weight expression (spanmatch) ->
        BM25 with summed idf. Same semantics as FulltextIndex.span_near
        and the same SQL oracle."""
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
        with w = max(q) - min(q) <= slop — the n-term generalization,
        identical to FulltextIndex.sloppy_phrase_multi (and to the
        2-term |p2-p1-1| form, which is its n=2 case)."""
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
        occ = self._decode_positions_df([key]).where(F.col("pos") <= end)
        freq = occ.groupBy("doc_id").agg(
            F.count(F.lit(1)).cast("double").alias("tf"),
            F.first("norm").alias("norm"),
        ).withColumn("dl", self._dl_col(F.col("norm")))
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
        """(doc_id, term, tf, dl) decoded from blocks — the per-doc
        statistics every SimilarityBase.score(freq, norm) consumes."""
        from pyspark.sql import functions as F

        def decode_tf(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            for pdf in batches:
                docs, terms_o, tfs, nbs = [], [], [], []
                for term, blob in zip(pdf["term"], pdf["blob"]):
                    d, f, nb = decode_block(bytes(blob))
                    docs.append(d)
                    terms_o.append(np.full(len(d), term, dtype=object))
                    tfs.append(f)
                    nbs.append(nb)
                if docs:
                    yield pd.DataFrame(
                        {
                            "doc_id": np.concatenate(docs),
                            "term": np.concatenate(terms_o),
                            "tf": np.concatenate(tfs),
                            "norm": np.concatenate(nbs),
                        }
                    )

        df = (
            self.reader.blocks.where(F.col("term").isin(sorted(set(term_keys))))
            .select("term", "blob")
            .mapInPandas(decode_tf, "doc_id long, term string, tf long, norm int")
        )
        return df.withColumn("dl", self._dl_col(F.col("norm"))).drop("norm")

    SIMILARITIES = ("bm25", "classic", "lm_dirichlet", "lm_jelinek_mercer",
                    "dfr_inl2", "dfi_chi2", "ib_spl", "axiomatic_f2exp")

    def similarity_term_query(self, term: str, sim: str,
                              field: Optional[str] = None, **params):
        """TermQuery under a pluggable Similarity over the SEGMENT
        index (the SimilarityBase.score(freq, norm) plug point,
        similarities/SimilarityBase.java:71): one block decode to
        (doc_id, tf, dl), then the shared scoring expression from
        similarities.py — identical float64 math to the live path and
        the SQL oracles. Collection stats come from the manifest +
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
        return self.reader.live(tfdl.select("doc_id", score.alias("score")))

    def passage_highlight(self, terms: List[str], window: int = 16,
                          k: int = 10, field: Optional[str] = None):
        """UnifiedHighlighter passage scoring over the SEGMENT index
        (UnifiedHighlighter.java:92, PassageScorer): needs only the
        persisted positions + term stats — no stored text. Fixed-width
        token passages, passage score = sum of matched terms' idf,
        best passage per doc, top-k docs. Same plan shape as the live
        path: one aggregation + one window."""
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
        bc = spark.sparkContext.broadcast({"idf": idf_of, "window": window})

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
                for term, blob, pb in zip(pdf["term"], pdf["blob"], pdf["pblob"]):
                    doc_ids, tfs, norms, pos = decode_block_positions(
                        bytes(blob), pb)
                    if len(doc_ids) == 0:
                        continue
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
        occ = self.reader.live(
            src.select("term", "blob", "pblob").mapInPandas(
                decode_passages, "doc_id long, passage long, w double"))
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
        return self.reader.live(
            dm.select("doc_id", pos.alias("pos"), snippet.alias("snippet"))
            .where(F.col("pos") > 0)
        )

    # -- boolean composition --------------------------------------------------

    def _eval(self, q: Query, boost: float):
        """Returns DataFrame (doc_id long, score double) of matching docs.
        Score is the float32-exact (widened) or float64 node score."""
        from pyspark.sql import functions as F

        spark = self.reader.spark
        b = boost * q.boost
        if isinstance(q, MatchNoDocsQuery):
            return spark.createDataFrame([], "doc_id long, score double")
        if isinstance(q, MatchAllDocsQuery):
            return self.reader.doc_meta.select(
                "doc_id", F.lit(float(np.float32(b)) if self.precision == "float32" else float(b)).alias("score")
            )
        if isinstance(q, TermQuery):
            df = self._score_terms([(0, term_key(q.field, q.term), b)])
            return df.select("doc_id", "score")
        if isinstance(q, TermInSetQuery):
            const = float(np.float32(b)) if self.precision == "float32" else float(b)
            df = self._score_terms([(0, term_key(q.field, t), 1.0) for t in q.terms])
            return df.select("doc_id").distinct().select(
                "doc_id", F.lit(const).alias("score")
            )
        if isinstance(q, SynonymQuery):
            return self._eval_synonym(q, b)
        if isinstance(q, PhraseQuery):
            return self._score_phrase(0, q, b).select("doc_id", "score")
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
            return self._eval_boolean(q, b)
        raise TypeError(f"unsupported query node: {q!r}")

    def _eval_synonym(self, q: SynonymQuery, boost: float):
        """Blended stats: df = max over terms; tf summed per doc
        (SynonymQuery.java:47)."""
        from pyspark.sql import functions as F

        spark = self.reader.spark
        keys = [term_key(q.field, t) for t in q.terms]
        stats = self.reader.term_stats(keys)
        df_blend = max((stats.get(t, (0, 0))[0] for t in keys), default=0)
        n, sttf = self.reader.collection_stats(q.field)
        if df_blend == 0 or n <= 0:
            return spark.createDataFrame([], "doc_id long, score double")
        precision = self.precision
        norms_mode = self.reader.norms
        if precision == "float32":
            tw = bm25.make_term_weight("syn", df_blend, n, sttf, boost)
            wv, cache = float(tw.weight_value), tw.cache.tolist()
            idf64 = avgdl64 = 0.0
        else:
            wv, cache = 0.0, []
            idf64 = math.log(1 + (n - df_blend + 0.5) / (df_blend + 0.5))
            avgdl64 = sttf / n
        avgdl32 = float(bm25.avg_field_length(sttf, n))

        def decode_tf(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            for pdf in batches:
                docs, tfs, nbs = [], [], []
                for blob in pdf["blob"]:
                    d, f, nb = decode_block(bytes(blob))
                    docs.append(d)
                    tfs.append(f)
                    nbs.append(nb)
                if docs:
                    yield pd.DataFrame(
                        {
                            "doc_id": np.concatenate(docs),
                            "tf": np.concatenate(tfs),
                            "norm": np.concatenate(nbs),
                        }
                    )

        per_doc = (
            self.reader.blocks.where(F.col("term").isin(keys))
            .select("term", "blob")
            .mapInPandas(decode_tf, "doc_id long, tf long, norm int")
            .groupBy("doc_id")
            .agg(F.sum("tf").alias("tf"), F.first("norm").alias("norm"))
        )
        bc = self.reader.spark.sparkContext.broadcast(
            {"wv": wv, "cache": cache, "avgdl32": avgdl32,
             "idf64": idf64, "avgdl64": avgdl64, "boost": boost}
        )

        def score_rows(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            info = bc.value
            for pdf in batches:
                tf = pdf["tf"].to_numpy(dtype=np.int64)
                nb = pdf["norm"].to_numpy(dtype=np.int64)
                if precision == "float32":
                    if norms_mode == "byte":
                        cache_arr = np.asarray(info["cache"], dtype=np.float32)
                        nv = cache_arr[nb & 0xFF]
                    else:
                        nv = _norm32(nb, info["avgdl32"])
                    freq = tf.astype(np.float32)
                    sc = ((np.float32(info["wv"]) * freq) / (freq + nv)).astype(np.float32).astype(np.float64)
                else:
                    dl = nb.astype(np.float64)
                    denom = tf + 1.2 * (1 - 0.75 + 0.75 * dl / info["avgdl64"])
                    sc = info["idf64"] * (tf * 2.2) / denom * info["boost"]
                yield pd.DataFrame({"doc_id": pdf["doc_id"], "score": sc})

        return per_doc.mapInPandas(score_rows, "doc_id long, score double")

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
        tbl = _read_term_rows(self.reader._block_dirs,
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

    def _eval_boolean(self, q: BooleanQuery, boost: float):
        """One hash aggregation: per-clause conditional sums (fixed
        summation order across clause ids — bit-reproducible) + occur
        counters, then the MUST/SHOULD/MUST_NOT/FILTER predicate.
        Conjunctions with >=2 MUST/FILTER term clauses skip every block
        outside the MUST terms' common doc ranges (exact; planned on the
        driver from the skip data, _conjunction_blocks)."""
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
                sub = self._eval(c.query, boost if c.occur != Occur.FILTER else 1.0)
                parts.append(
                    sub.select(F.lit(i).cast("int").alias("clause_id"), "doc_id", "score")
                )
        if flat_terms:
            must_terms = sorted({
                t for cid, t, _ in flat_terms
                if occur_by_cid[cid] in (Occur.MUST, Occur.FILTER)
            })
            keep = None
            # prune only when every clause of the query is a flat term:
            # a non-term MUST sub-clause (e.g. phrase) isn't represented
            # in the common region, and its matches would be truncated
            # by the pruned SHOULD/NOT decodes
            if len(must_terms) >= 2 and len(flat_terms) == len(q.clauses):
                keep = self._conjunction_blocks(
                    must_terms, sorted({t for _, t, _ in flat_terms}))[0]
            parts.insert(0, self._score_terms(flat_terms, keep=keep))
        u = parts[0]
        for p in parts[1:]:
            u = u.unionByName(p)

        n_must = sum(1 for o in occur_by_cid.values() if o == Occur.MUST)
        n_filter = sum(1 for o in occur_by_cid.values() if o == Occur.FILTER)
        n_should_total = sum(1 for o in occur_by_cid.values() if o == Occur.SHOULD)
        mm = q.min_should_match
        if n_must == 0 and n_filter == 0 and n_should_total > 0:
            mm = max(mm, 1)

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

    # -- block-max WAND pruning (Ding & Suel 2011; Broder et al. 2003) -------

    WAND_MARGIN = 1e-4  # float32 rounding slack (CheckHits tolerance scale)
    # rare-term prefetch engages only when the common clauses carry at
    # least this many postings (see the gate in _search_pruned); tests
    # set it to 0 on an instance to force the path on tiny fixtures
    WAND_PREFETCH_MIN_COMMON_POSTINGS = 512_000
    # doc-range-aligned block-max slack engages only when the common
    # clauses carry at least this many postings (the extra metadata job
    # wave must repay itself in skipped decode work); tests set it to 0
    # on an instance to force the path on tiny fixtures
    WAND_ALIGNED_MIN_COMMON_POSTINGS = 512_000
    WAND_ALIGNED_BUCKETS = 8192      # doc-space granularity of the table
    WAND_ALIGNED_SPAN_CAP = 256      # blocks spanning more buckets than
    #                                  this become a global-floor row
    #                                  (bounds the explode fan-out)
    # rare-prefetch driver budget: below this many aggregated rare docs
    # the exact per-doc partials are collected (full-fidelity fold +
    # exact doc-range slack); above it the prefetch degrades to a
    # BOUNDED summary (top-N partials + bucketed range-max table) so
    # the driver cost stays O(N + maxdoc/bucket) at ANY corpus size
    # instead of silently disabling pruning (tests shrink these on an
    # instance to force the summary path on tiny fixtures)
    WAND_PREFETCH_EXACT_CAP = 2_000_000
    WAND_PREFETCH_TOPN = 131_072
    WAND_PREFETCH_BUCKET_DOCS = 65_536
    # tombstones broadcast into the WAND partitions at most; above it
    # the pruned search defers to the exhaustive plan (same ranks)
    WAND_MAX_TOMBSTONES = 2_000_000

    def _aligned_bucket_ubs(self, terms: List[str], by_term: dict,
                            winfo: dict, ub_wv: dict):
        """Per-term per-doc-range-bucket max block UB: the block-max
        table of true Block-Max WAND (Ding & Suel 2011 §4; Lucene's
        ImpactsEnum.advanceShallow exposes the same per-doc-range
        impact bounds), doc-range aligned so two common terms prune
        each other wherever their high-impact doc ranges don't
        coincide.

        ONE metadata-only job: scan the query terms' block metadata
        (Catalyst prunes the postings blob from the parquet scan),
        compute each block's exact impact UB with the SAME kernel the
        WAND partition uses (_block_ubs), explode each block into the
        doc-space buckets its [min_doc, max_doc] range overlaps, and
        hash-aggregate max(ub) per (term, bucket). The collected table
        is <= |terms| x WAND_ALIGNED_BUCKETS rows REGARDLESS of corpus
        size (blocks spanning > WAND_ALIGNED_SPAN_CAP buckets fold into
        a per-term global floor instead of exploding), so the driver
        side stays O(terms x 8k) at any scale.

        Returns (bucket_width, {term: np.ndarray[n_buckets]}) or None
        when the index exposes no doc-space extent."""
        from pyspark.sql import functions as F

        doc_top = max((s.doc_base + s.doc_count
                       for s in self.reader.manifest.segments), default=0)
        if doc_top <= 0:
            return None
        nbk = self.WAND_ALIGNED_BUCKETS
        width = max(1, -(-doc_top // nbk))
        span_cap = self.WAND_ALIGNED_SPAN_CAP
        precision = self.precision
        norms_mode = self.reader.norms
        info = {"by_term": by_term, "winfo": winfo, "ub_wv": ub_wv}

        def bucket_ubs(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            for pdf in batches:
                if not len(pdf):
                    continue
                t_arr = pdf["term"].to_numpy()
                ub = _block_ubs(t_arr, pdf["imp_tf"].to_numpy(),
                                pdf["imp_norm"].to_numpy(), info, precision,
                                norms_mode)
                lo = pdf["min_doc"].to_numpy(dtype=np.int64) // width
                hi = pdf["max_doc"].to_numpy(dtype=np.int64) // width
                span = hi - lo + 1
                wide = span > span_cap
                parts = []
                if wide.any():
                    parts.append(pd.DataFrame({
                        "term": t_arr[wide], "bucket": -1, "ub": ub[wide]}))
                nr = np.flatnonzero(~wide)
                if len(nr):
                    reps = span[nr]
                    starts = np.repeat(lo[nr], reps)
                    # per-row ramp 0..span-1 without a Python loop
                    ramp = np.arange(reps.sum(), dtype=np.int64) - np.repeat(
                        np.concatenate(([0], np.cumsum(reps)[:-1])), reps)
                    parts.append(pd.DataFrame({
                        "term": np.repeat(t_arr[nr], reps),
                        "bucket": starts + ramp,
                        "ub": np.repeat(ub[nr], reps)}))
                if parts:
                    yield (pd.concat(parts, ignore_index=True)
                           if len(parts) > 1 else parts[0])

        rows = (
            self.reader.blocks.where(F.col("term").isin(sorted(terms)))
            .select("term", "min_doc", "max_doc", "imp_tf", "imp_norm")
            .mapInPandas(bucket_ubs, "term string, bucket long, ub double")
            .groupBy("term", "bucket").agg(F.max("ub").alias("ub"))
            .toPandas()
        )
        out: Dict[str, np.ndarray] = {}
        for t in terms:
            out[t] = np.zeros(nbk, dtype=np.float64)
        for t, grp in rows.groupby("term"):
            b = grp["bucket"].to_numpy(dtype=np.int64)
            u = grp["ub"].to_numpy(dtype=np.float64)
            g = b < 0
            if g.any():
                out[t][:] = float(u[g].max())
            fine = ~g
            if fine.any():
                bi = np.clip(b[fine], 0, nbk - 1)
                np.maximum.at(out[t], bi, u[fine])
        return width, out

    def _per_clause_params(self, clause_terms: List[Tuple[int, str, float]]):
        """Shared WAND weight bookkeeping. Returns (winfo, ub_wv, slack):
        winfo: per-(term, boost) scoring constants; ub_wv: per-term UB
        weight = SUM of the term's clause weight values (a term repeated
        in several SHOULD clauses with different boosts contributes each
        clause's score to a doc's total, so the block bound must bound
        the sum — the per-clause UB was the duplicate-boost bug);
        slack[t]: sum of the OTHER terms' ub_wv — a driver-side bound on
        everything a doc can earn elsewhere (BM25's tf saturation keeps
        every per-clause score strictly below its weight value)."""
        weights = self._weights([(t, b) for _, t, b in clause_terms])
        winfo: Dict[str, dict] = {}
        for (t, b), w in weights.items():
            if self.precision == "float32":
                winfo[f"{t}\x00{b}"] = {
                    "wv": float(w["wv"]), "cache": w["cache"],
                    "avgdl32": float(w["avgdl32"]), "df": w["df"],
                }
            else:
                winfo[f"{t}\x00{b}"] = {
                    "wv": w["idf"] * (bm25.K1 + 1.0) * w["boost"],
                    "avgdl": w["avgdl"], "idf": w["idf"], "boost": w["boost"],
                    "df": w["df"],
                }
        ub_wv: Dict[str, float] = {}
        for _, t, b in clause_terms:
            ub_wv[t] = ub_wv.get(t, 0.0) + float(winfo[f"{t}\x00{b}"]["wv"])
        total_wv = sum(ub_wv.values())
        slack = {t: total_wv - v for t, v in ub_wv.items()}
        return winfo, ub_wv, slack

    def _term_global_ub(self, term: str, winfo: dict, wv_total: float,
                        imp: Tuple[list, list]) -> float:
        """Upper bound on a term's total per-doc contribution: max over
        the term's merged competitive (norm, tf) frontier `imp`
        (term_wand_stats) of score(tf, norm) — the exact max over all
        blocks' impact bounds, i.e. the tightest slack the persisted
        metadata supports (Lucene's MaxScoreCache.computeMaxScore over
        merged impacts, search/similarities/BM25Similarity + Impacts
        API)."""
        w = winfo[next(k for k in winfo if k.startswith(term + "\x00"))]

        def nv_of(norm: int) -> float:
            if self.reader.norms == "byte":
                if self.precision == "float32":
                    return float(np.asarray(w["cache"], dtype=np.float64)[norm & 0xFF])
                return 1.2 * (0.25 + 0.75 * float(LENGTH_TABLE[norm & 0xFF]) / w["avgdl"])
            avgdl = w["avgdl32"] if self.precision == "float32" else w["avgdl"]
            return 1.2 * (0.25 + 0.75 * float(norm) / avgdl)

        nbs, tfs = imp
        return max(wv_total * tf / (tf + nv_of(nb)) for nb, tf in zip(nbs, tfs))

    def _prefetch_rare_partials(self, rare_terms: List[str], by_term: dict,
                                winfo: dict, del_arr, k: int):
        """Decode the rare terms' postings in one tiny job and return
        (sorted doc ids, aligned exact clause-sum partials, theta0 =
        k-th best partial, bucket_table). The per-doc sums are EXACT
        for the rare clauses (every rare block is decoded, tombstones
        filtered), so theta0 is a valid global pruning threshold and
        the per-doc values are valid per-block slack inputs.

        Scale guard: below WAND_PREFETCH_EXACT_CAP aggregated docs the
        exact per-doc partials are collected (bucket_table = None and
        the kernel uses exact doc-range slack). Above it the collect
        degrades to a BOUNDED summary instead of disabling pruning:
        (a) the top-N partials by value (TakeOrdered — contains the
        true top-k, so theta0 stays exact, and the theta fold adds a
        SUBSET of the true rare mass: theta only gets lower = rank-safe)
        and (b) a bucketed range-max table over doc space for the
        per-block slack (bucket max >= exact doc-range max = a valid
        upper bound). Driver cost is then O(topN + maxdoc/bucket)
        regardless of corpus size."""
        from pyspark.sql import functions as F

        precision = self.precision
        norms_mode = self.reader.norms
        info = {"by_term": by_term, "winfo": winfo}

        def decode_rare(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            for pdf in batches:
                if not len(pdf):
                    continue
                terms = pdf["term"].to_numpy()
                blobs = pdf["blob"].to_numpy()
                docs_out: List[np.ndarray] = []
                sc_out: List[np.ndarray] = []
                for i in range(len(pdf)):
                    doc_ids, tfs, norms = decode_block(bytes(blobs[i]))
                    if del_arr is not None and len(del_arr):
                        p = np.minimum(np.searchsorted(del_arr, doc_ids),
                                       len(del_arr) - 1)
                        keep = del_arr[p] != doc_ids
                        if not keep.all():
                            doc_ids, tfs, norms = (
                                doc_ids[keep], tfs[keep], norms[keep])
                            if not len(doc_ids):
                                continue
                    tot = np.zeros(len(doc_ids), dtype=np.float64)
                    for _cid, sc in _wand_clause_scores(
                            terms[i], tfs, norms, info, precision, norms_mode):
                        tot += sc
                    docs_out.append(doc_ids)
                    sc_out.append(tot)
                if docs_out:
                    yield pd.DataFrame({
                        "doc_id": np.concatenate(docs_out),
                        "partial": np.concatenate(sc_out),
                    })

        cap = self.WAND_PREFETCH_EXACT_CAP
        agg = (
            self.reader.blocks.where(F.col("term").isin(rare_terms))
            .select("term", "blob")
            .mapInPandas(decode_rare, "doc_id long, partial double")
            .groupBy("doc_id").agg(F.sum("partial").alias("partial"))
        )
        # Arrow collect: at engaged scale this is O(100k) rows, and
        # driver-side Row materialization was measurably the or-WAND
        # bottleneck (~1 s at 200k rare postings); toPandas rides the
        # same Arrow batches the executors already produce. Persisted
        # up front so the summary path's two extra projections reuse
        # the decoded+aggregated partials instead of re-decoding.
        agg = agg.persist()
        try:
            pdf_rows = agg.limit(cap + 1).toPandas()
            if not len(pdf_rows):
                return np.empty(0, dtype=np.int64), np.empty(0), -np.inf, None
            bucket = None
            if len(pdf_rows) > cap:
                # summary path: the aggregated rare-doc set is too big
                # for a full-fidelity broadcast — collect two bounded
                # projections of it instead
                topn = max(self.WAND_PREFETCH_TOPN, 8 * k)
                pdf_rows = (agg.orderBy(F.desc("partial"), F.asc("doc_id"))
                            .limit(topn).toPandas())
                w = self.WAND_PREFETCH_BUCKET_DOCS
                b_pdf = (
                    agg.groupBy(
                        F.floor(F.col("doc_id") / w).cast("long").alias("b"))
                    .agg(F.max("partial").alias("m"))
                    .toPandas()
                )
                nb = int(b_pdf["b"].max()) + 1
                arr = np.zeros(nb, dtype=np.float64)
                arr[b_pdf["b"].to_numpy(dtype=np.int64)] = (
                    b_pdf["m"].to_numpy(dtype=np.float64))
                bucket = (w, arr)
        finally:
            agg.unpersist()
        docs = pdf_rows["doc_id"].to_numpy(dtype=np.int64)
        parts = pdf_rows["partial"].to_numpy(dtype=np.float64)
        o = np.argsort(docs)
        docs, parts = docs[o], parts[o]
        theta0 = (float(np.partition(parts, -k)[-k])
                  if len(parts) >= k else -np.inf)
        return docs, parts, theta0, bucket

    def _search_pruned_or(self, terms_with_boost: List[Tuple[str, float]],
                          k: int) -> "pd.DataFrame":
        """Rank-safe block-max top-k for a term / OR-of-terms query in
        ONE Spark job (single mapInPandas stage + one hash agg +
        TakeOrdered — the same shape as the exhaustive plan, minus the
        pruned decode work).

        Per partition (the WAND-heap unit; Ding & Suel 2011 block-max
        bounds, skip-list analog Lucene50SkipWriter.java:46):
          1. compute every local block's UB from its impact frontier
             (imp_tf, imp_norm), vectorized — weights/caches ride a
             broadcast;
          2. decode blocks in UB-descending order until >= ~4k postings
             are seen; theta := k-th best per-doc PARTIAL sum so far.
             Any k distinct docs' partial sums lower-bound the true
             global k-th score (each partial <= its doc's true total),
             so theta is a valid pruning threshold no matter how the
             doc's other postings are laid out across partitions;
          3. prune every remaining block with UB + slack(term) <
             theta - margin, where slack(term) = sum of the OTHER
             terms' total weight values (driver-side bound — BM25's tf
             saturation keeps each per-clause score strictly below its
             weight value), decode the survivors.
        A pruned block's docs may surface elsewhere with partial sums,
        but the pruning condition proves their true totals stay below
        theta <= true k-th score, so the final top-k is exactly the
        exhaustive one (shadow-verified in tests/test_wand.py). Emitted
        rows are per-clause and the final aggregation uses the same
        ordered conditional-sum shape as _eval_boolean, so scores are
        bit-identical to the exhaustive path.

        Multi-term slack: slack(t) = sum of the OTHER terms' GLOBAL max
        block UB (the persisted impact tables, term_wand_stats — Ding &
        Suel block-max bound) — the sum-of-weight-values bound is the
        tf->inf asymptote and prunes almost nothing on OR queries.

        Deletes: tombstones are broadcast into the partition and
        filtered BEFORE theta computation (liveDocs applied per leaf,
        like Weight.scorerSupplier under LRUQueryCache's liveDocs), so
        incremental indexes keep the one-job plan. Returns None when
        the index holds more than WAND_MAX_TOMBSTONES tombstones (the
        broadcast would not fit the driver); the caller then runs the
        exhaustive plan, which returns the same ranks."""
        from pyspark.sql import functions as F

        del_arr = None
        if self.reader.has_deletes:
            # theta must lower-bound the k-th LIVE score: ship the
            # tombstone set to the partitions (sorted for searchsorted).
            # Un-merged tombstone sets are small by construction (merge
            # purges them); the limit bounds the collect itself.
            cap = self.WAND_MAX_TOMBSTONES
            del_rows = self.reader.deletes.select("doc_id").limit(cap + 1).collect()
            if len(del_rows) > cap:
                return None
            del_arr = np.sort(np.array([r["doc_id"] for r in del_rows],
                                       dtype=np.int64))

        clause_terms = [(i, t, b) for i, (t, b) in enumerate(terms_with_boost)]
        winfo, ub_wv, slack = self._per_clause_params(clause_terms)
        rare_docs = rare_partials = rare_bucket = None
        theta0 = -np.inf
        rare_set: set = set()
        if len(ub_wv) > 1:
            # tighten: replace the weight-value (tf->inf) slack with a
            # global block-max slack from the impact tables persisted in
            # term_stats (free — the same tiny filtered scan term stats
            # already take); a term without postings contributes nothing
            gws = self.reader.term_wand_stats(sorted(ub_wv))
            gmax = {
                t: self._term_global_ub(t, winfo, ub_wv[t], gws[t])
                if t in gws else 0.0
                for t in ub_wv
            }
            total = sum(gmax.values())
            slack = {t: total - gmax.get(t, 0.0) for t in ub_wv}
        by_term: Dict[str, List[Tuple[int, float]]] = {}
        for cid, t, b in clause_terms:
            by_term.setdefault(t, []).append((cid, b))
        if len(ub_wv) > 1:
            # Rare-term prefetch (impact-ordered refinement): with
            # term-partitioned postings the per-partition probe theta can
            # never exceed a high-idf rare term's score, so a common
            # term's blocks survive slack = gmax(rare) + ... and nothing
            # prunes on mixed-idf OR queries. Decode the rare (low-df)
            # terms in ONE tiny job, collect their exact per-doc clause
            # sums, and broadcast (sorted doc ids, partial sums, theta0 =
            # k-th best partial). Common-term blocks then prune against
            # theta0 with per-BLOCK slack = other COMMON terms' gmax +
            # max rare partial inside the block's [min_doc, max_doc]
            # doc range (searchsorted into the broadcast) — 0 for the
            # vast majority of blocks, so the common term's postings
            # are mostly skipped. Rank-safety: rare partials are exact
            # (every rare block decoded), so theta0 lower-bounds the true
            # k-th score, and the per-block bound dominates every doc's
            # true total. Scale: prefetch rows are capped; the broadcast
            # is O(sum of rare dfs) <= the cap.
            df_of = {
                t: winfo[f"{t}\x00{by_term[t][0][1]}"].get("df", 0)
                for t in ub_wv
            }
            max_df = max(df_of.values()) if df_of else 0
            # rare = at least 2x smaller than the biggest clause term
            # (relative, so the optimization engages at every corpus
            # size; 2x is what the bench runs were tuned with — the
            # common-postings gate below is the real cost guard).
            # No absolute postings budget: the prefetch job's
            # decode is distributed (and bounded by the common decode
            # it exists to skip), and its driver collect is bounded
            # inside _prefetch_rare_partials — exact per-doc partials
            # under WAND_PREFETCH_EXACT_CAP aggregated docs, a top-N +
            # bucketed-range-max summary above it
            cand_rare: set = set(
                t for t in ub_wv if 0 < df_of[t] * 2 <= max_df)
            # the prefetch costs one extra job wave (fixed scheduler +
            # filtered-scan latency, ~0.5-1 s on a warm local session and
            # comparable on a cluster); it repays only by SKIPPING decode
            # of common-term blocks, so it must not engage unless the
            # common terms carry enough postings for the skipped decode
            # to outweigh a wave (decoding <2M postings is sub-second)
            common_df = sum(df_of[t] for t in ub_wv if t not in cand_rare)
            if common_df < self.WAND_PREFETCH_MIN_COMMON_POSTINGS:
                cand_rare = set()
            if cand_rare and cand_rare != set(ub_wv):
                pre = self._prefetch_rare_partials(
                    sorted(cand_rare), by_term, winfo, del_arr, k)
                if pre is not None:
                    rare_docs, rare_partials, theta0, rare_bucket = pre
                    rare_set = cand_rare
                    # common-term slack now excludes the rare terms'
                    # global UB (replaced per block by the doc-range
                    # max); rare terms are always decoded (tiny)
                    common = [t for t in ub_wv if t not in rare_set]
                    cg = {t: gmax.get(t, ub_wv[t]) for t in common}
                    ctot = sum(cg.values())
                    slack = dict(slack)
                    for t in common:
                        slack[t] = ctot - cg[t]
        aligned_width = 0
        aligned_tbl = None
        if len(ub_wv) > 1:
            # doc-range-aligned slack for the COMMON terms: two similar-
            # weight common terms barely prune each other under a global
            # other-term bound (every block's key clears theta), but
            # their high-impact doc ranges rarely coincide — the aligned
            # bucket table turns that misalignment into pruning. One
            # extra metadata-only wave, gated like the rare prefetch.
            common_terms = sorted(t for t in ub_wv if t not in rare_set)
            common_post = sum(df_of.get(t, 0) for t in common_terms)
            if (len(common_terms) > 1
                    and common_post >= self.WAND_ALIGNED_MIN_COMMON_POSTINGS):
                al = self._aligned_bucket_ubs(
                    common_terms, by_term, winfo, ub_wv)
                if al is not None:
                    aligned_width, aligned_tbl = al
        precision = self.precision
        norms_mode = self.reader.norms
        margin = self.WAND_MARGIN
        spark = self.reader.spark
        rare_cids = np.array(
            sorted(cid for t in rare_set for cid, _ in by_term[t]),
            dtype=np.int32)
        bc = spark.sparkContext.broadcast(
            {"by_term": by_term, "winfo": winfo, "ub_wv": ub_wv,
             "slack": slack, "k": k, "deletes": del_arr,
             "rare_set": rare_set, "rare_docs": rare_docs,
             "rare_partials": rare_partials, "theta0": theta0,
             "rare_cids": rare_cids, "rare_bucket": rare_bucket,
             "aligned": aligned_tbl, "aligned_width": aligned_width}
        )
        # decode-fraction instrumentation (blocks decoded vs blocks seen)
        # for the scale-curve evidence; accumulator updates ride task
        # completion, zero cost on the data path
        acc_total = spark.sparkContext.accumulator(0)
        acc_decoded = spark.sparkContext.accumulator(0)

        def wand_partition(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            info = bc.value
            pdfs = [p for p in batches if len(p)]
            if not pdfs:
                return
            pdf = pd.concat(pdfs, ignore_index=True) if len(pdfs) > 1 else pdfs[0]
            terms = pdf["term"].to_numpy()
            n_post = pdf["n"].to_numpy(dtype=np.int64)
            blobs = pdf["blob"].to_numpy()

            # per-block UBs (impact frontier) + slack
            ub = _block_ubs(terms, pdf["imp_tf"].to_numpy(),
                            pdf["imp_norm"].to_numpy(), info, precision,
                            norms_mode)
            slack_arr = np.empty(len(pdf), dtype=np.float64)
            for t in pd.unique(terms):
                slack_arr[terms == t] = info["slack"][t]

            aligned = info.get("aligned")
            if aligned:
                # doc-range-ALIGNED slack (true Block-Max WAND bound,
                # Ding & Suel 2011 §4): for a block of term t spanning
                # docs [lo, hi], what the OTHER common terms can add to
                # any doc in it is bounded by the max UB of THEIR blocks
                # overlapping [lo, hi] — looked up in the broadcast
                # per-term bucket tables (driver metadata job) via a
                # sparse-table range max. Far tighter than the global
                # other-term gmax when terms' high-impact doc ranges
                # don't coincide (the common case).
                width = info["aligned_width"]
                min_doc_a = pdf["min_doc"].to_numpy(dtype=np.int64)
                max_doc_a = pdf["max_doc"].to_numpy(dtype=np.int64)
                nbk = len(next(iter(aligned.values())))
                lo_b = np.clip(min_doc_a // width, 0, nbk - 1)
                hi_b = np.clip(max_doc_a // width, 0, nbk - 1)
                M = {}
                allsum = np.zeros(len(pdf), dtype=np.float64)
                for u, arr in aligned.items():
                    M[u] = _range_max(_sparse_table(arr), lo_b, hi_b)
                    allsum += M[u]
                for t in M:
                    m = terms == t
                    if m.any():
                        slack_arr[m] = allsum[m] - M[t][m]

            rset = info["rare_set"]
            if rset:
                # prefetch mode: rare-term blocks always decode (tiny);
                # common-term slack = other COMMON gmax (already in
                # slack_arr) + max exact rare partial within the block's
                # doc range (searchsorted into the broadcast arrays)
                rdocs, rparts = info["rare_docs"], info["rare_partials"]
                min_doc = pdf["min_doc"].to_numpy(dtype=np.int64)
                max_doc = pdf["max_doc"].to_numpy(dtype=np.int64)
                is_rare = np.isin(terms, list(rset))
                slack_arr[is_rare] = np.inf
                com = np.flatnonzero(~is_rare)
                rbt = info.get("rare_bucket")
                if len(com) and rbt is not None:
                    # summary mode: bucketed range-max table (bucket max
                    # >= exact doc-range max, a valid upper bound); one
                    # O(1)-per-block vectorized sparse-table query
                    w, barr = rbt
                    nb = len(barr)
                    lo_b = np.clip(min_doc[com] // w, 0, nb - 1)
                    hi_b = np.clip(max_doc[com] // w, 0, nb - 1)
                    slack_arr[com] += _range_max(
                        _sparse_table(barr), lo_b, hi_b)
                elif len(com) and len(rdocs):
                    lo = np.searchsorted(rdocs, min_doc[com], side="left")
                    hi = np.searchsorted(rdocs, max_doc[com], side="right")
                    add = np.zeros(len(com), dtype=np.float64)
                    nz = np.flatnonzero(hi > lo)
                    for jj in nz:
                        add[jj] = rparts[lo[jj]:hi[jj]].max()
                    slack_arr[com] += add

            # Block-max WAND descent (Ding & Suel 2011, Lucene's
            # ImpactsDISI.advanceShallow loop): walk blocks in
            # (UB + slack)-descending order, refreshing theta (k-th best
            # per-doc partial sum decoded so far, a valid global lower
            # bound) as postings accumulate, and STOP the instant the
            # next block's bound falls below theta — the order is
            # monotone, so every remaining block is provably out too.
            # This replaces the fixed-size probe + one-shot filter: with
            # exact impact bounds the score distribution's top is razor
            # thin, and a theta from one probe block pruned ~nothing
            # while the true theta prunes 94-99% (measured, diag).
            key = ub + slack_arr
            order = np.argsort(-key, kind="stable")
            kk = info["k"]

            out_cid: List[np.ndarray] = []
            out_doc: List[np.ndarray] = []
            out_score: List[np.ndarray] = []

            dels = info["deletes"]

            acc_total.add(len(pdf))

            def decode(idx: int) -> None:
                acc_decoded.add(1)
                doc_ids, tfs, norms = decode_block(bytes(blobs[idx]))
                if dels is not None and len(dels):
                    # liveDocs per leaf: searchsorted probe against the
                    # broadcast (sorted) tombstone set
                    p = np.minimum(np.searchsorted(dels, doc_ids), len(dels) - 1)
                    keep = dels[p] != doc_ids
                    if not keep.all():
                        doc_ids, tfs, norms = doc_ids[keep], tfs[keep], norms[keep]
                        if not len(doc_ids):
                            return
                for cid, sc in _wand_clause_scores(
                        terms[idx], tfs, norms, info, precision, norms_mode):
                    out_cid.append(np.full(len(doc_ids), cid, dtype=np.int32))
                    out_doc.append(doc_ids)
                    out_score.append(sc)

            theta = float(info["theta0"])
            single_clause = (
                len(info["by_term"]) == 1
                and len(next(iter(info["by_term"].values()))) == 1
            )

            rare_cids = info.get("rare_cids")
            has_rare = rare_cids is not None and len(rare_cids) > 0

            def refresh_theta() -> float:
                # k-th best per-doc PARTIAL sum decoded so far; single
                # clause: each doc appears in exactly one block, so the
                # scores array IS the per-doc sums (no unique/bincount).
                # With a rare prefetch, locally-decoded rare rows are
                # EXCLUDED and replaced by the broadcast exact global
                # rare partials (same clause sums, computed once on the
                # driver) — folding the co-occurrence mass into theta
                # without double counting; pure-rare docs are already
                # covered by theta0 (the k-th best exact rare partial).
                if not out_doc:
                    return theta
                if single_clause:
                    sums = np.concatenate(out_score)
                else:
                    docs_all = np.concatenate(out_doc)
                    sc_all = np.concatenate(out_score)
                    if has_rare:
                        cid_all = np.concatenate(out_cid)
                        common = ~np.isin(cid_all, rare_cids)
                        docs_all, sc_all = docs_all[common], sc_all[common]
                        if not len(docs_all):
                            return theta
                    uniq, inv = np.unique(docs_all, return_inverse=True)
                    sums = np.bincount(inv, weights=sc_all)
                    if has_rare and len(info["rare_docs"]):
                        rdocs = info["rare_docs"]
                        p = np.minimum(np.searchsorted(rdocs, uniq),
                                       len(rdocs) - 1)
                        hit = rdocs[p] == uniq
                        sums = sums + np.where(
                            hit, info["rare_partials"][p], 0.0)
                if len(sums) < kk:
                    return theta
                return max(theta, float(np.partition(sums, -kk)[-kk]))

            # refresh cadence: a refresh recomputes per-doc sums over
            # EVERYTHING decoded so far (O(R log R)), so refreshing on a
            # fixed block count is quadratic when theta keeps improving
            # by epsilon — measured 16 s on a 2M-doc mixed-df OR (~1.5k
            # refreshes x ~400k-row unique/bincount) vs 0.7 s at 200k.
            # Two triggers, both geometric in total cost:
            #   - every `chunk` blocks while theta is improving, but
            #     only until the decoded-posting count crosses
            #     `next_rows`, which doubles on each such refresh — the
            #     refresh series then sums to <= 2x one final-size
            #     recompute no matter how long the descent runs;
            #   - chunk itself doubles when a refresh stops improving
            #     theta (the converged case stays O(log n) refreshes).
            chunk = 4
            since = 0
            rows_decoded = 0
            next_rows = 0
            for idx in order:
                if key[idx] < theta - margin:
                    break  # sorted descending: all remaining blocks out
                decode(idx)
                rows_decoded += int(n_post[idx])
                since += 1
                if since >= chunk and rows_decoded >= next_rows:
                    new_theta = refresh_theta()
                    if new_theta <= theta + 1e-12:
                        chunk = min(chunk * 2, 256)
                    theta = new_theta
                    since = 0
                    next_rows = max(1024, rows_decoded * 2)

            if out_doc:
                yield pd.DataFrame(
                    {
                        "clause_id": np.concatenate(out_cid),
                        "doc_id": np.concatenate(out_doc),
                        "score": np.concatenate(out_score),
                    }
                )

        wand_cols = ["term", "n", "blob", "imp_tf", "imp_norm"]
        if rare_set or aligned_tbl:
            wand_cols += ["min_doc", "max_doc"]
        cand = (
            self.reader.blocks.where(F.col("term").isin(sorted(ub_wv)))
            .select(*wand_cols)
            .mapInPandas(wand_partition, "clause_id int, doc_id long, score double")
        )
        # identical aggregation shape to _eval_boolean: per-clause
        # conditional sums added in fixed clause order, then float cast.
        # Single clause: every doc appears in exactly one block, so the
        # groupBy would be an identity shuffle — go straight to the
        # TakeOrdered (same shuffle-free plan as the exhaustive path).
        cids = sorted({cid for cid, _, _ in clause_terms})
        if len(cids) == 1:
            scored = cand.select("doc_id", "score")
        else:
            aggs = [
                F.sum(F.when(F.col("clause_id") == i, F.col("score"))).alias(f"s{i}")
                for i in cids
            ]
            g = cand.groupBy("doc_id").agg(*aggs)
            total = F.coalesce(F.col(f"s{cids[0]}"), F.lit(0.0))
            for i in cids[1:]:
                total = total + F.coalesce(F.col(f"s{i}"), F.lit(0.0))
            if self.precision == "float32":
                total = total.cast("float").cast("double")
            scored = g.select("doc_id", total.alias("score"))
        rows = (
            scored.orderBy(F.desc("score"), F.asc("doc_id"))
            .limit(k)
            .collect()
        )
        self.last_wand_stats = {
            "blocks_total": int(acc_total.value),
            "blocks_decoded": int(acc_decoded.value),
            "rare_prefetch": bool(rare_set),
            "rare_summary": rare_bucket is not None,
            "aligned_slack": aligned_tbl is not None,
        }
        return pd.DataFrame(
            {
                "rank": range(1, len(rows) + 1),
                "doc_id": [r["doc_id"] for r in rows],
                "score": np.array([r["score"] for r in rows], dtype=np.float32)
                if self.precision == "float32"
                else [r["score"] for r in rows],
            }
        )

    # -- access-path cost model (WAND vs exhaustive, Lucene's
    # IndexOrDocValuesQuery.java:52 / BooleanWeight.java:317 analog) ----------
    # Decoded-postings throughput of the pruned partition kernel (python
    # block-at-a-time descent loop) vs the exhaustive vectorized
    # decode+hash-agg plan, and the fixed cost of one extra job wave
    # (scheduler + filtered scan on a warm session). Calibrated against
    # the measured r4/sf1 walls: term-WAND sf1 decoded 8.5% of 1.9M
    # postings in ~0.28s variable time; exhaustive paid ~0.95s for the
    # full 1.9M; the OR rare-prefetch wave costs ~0.5s.
    PLAN_LOOP_RATE = 550_000.0   # pruned decode, postings/sec
    PLAN_VEC_RATE = 2_800_000.0  # exhaustive decode+agg, postings/sec
    PLAN_WAVE_S = 0.45           # one extra job wave, seconds
    # blocks the descent decodes while theta converges (probe + refresh
    # lag), regardless of how prunable the tail is — measured ~70-660
    # across the 200k/2M calibration queries; charged once per search
    PLAN_OVERHEAD_BLOCKS = 500.0
    # theta estimate = this weighted quantile of the best term's
    # block-UB distribution: the true k-th doc score provably sits at
    # or above the k-th best block UB (each block's frontier bound is
    # REALIZED by a doc in it), and for k << 128 that is inside the
    # top 1/16 order-statistic segment of the sketch
    PLAN_THETA_QUANTILE = 1.0 - 1.0 / 16.0

    def plan_pruned_or(self, terms_with_boost: List[Tuple[str, float]],
                       k: int) -> dict:
        """Cost-based access-path choice for a term / OR-of-terms top-k:
        estimate the pruned (block-max WAND) plan's decode fraction from
        the PERSISTED per-term block-UB quantile sketch (term_stats
        gq_tf/gq_dl — zero jobs; the stats ride the same driver read the
        weights need), simulate which pruning machinery would engage
        (rare prefetch, aligned slack — mirroring _search_pruned_or's
        gates), and compare modeled wall costs. Returns a dict with
        'use_wand' plus the estimates (kept on self.last_plan for bench
        and test introspection). Missing sketch (multi-field / no-sketch
        segments, or a term without postings) => use_wand=True (always
        prune when asked)."""
        clause_terms = [(i, t, b) for i, (t, b) in enumerate(terms_with_boost)]
        winfo, ub_wv, _ = self._per_clause_params(clause_terms)
        cost = self.reader.term_cost_stats(sorted(ub_wv))
        if cost is None or any(t not in cost for t in ub_wv):
            return {"use_wand": True, "reason": "no-cost-stats"}
        gws = self.reader.term_wand_stats(sorted(ub_wv))
        gmax = {t: self._term_global_ub(t, winfo, ub_wv[t], gws[t])
                for t in ub_wv}
        anykey = {t: next(kk for kk in winfo if kk.startswith(t + "\x00"))
                  for t in ub_wv}
        df_of = {t: winfo[anykey[t]].get("df", 0) for t in ub_wv}
        total_post = float(sum(df_of.values()))
        if total_post <= 0:
            return {"use_wand": True, "reason": "empty"}

        # mirror _search_pruned_or's machinery gates
        rare: set = set()
        prefetch = False
        if len(ub_wv) > 1:
            max_df = max(df_of.values())
            cand = set(t for t in ub_wv if 0 < df_of[t] * 2 <= max_df)
            common_df = sum(df_of[t] for t in ub_wv if t not in cand)
            if common_df < self.WAND_PREFETCH_MIN_COMMON_POSTINGS:
                cand = set()
            if cand and cand != set(ub_wv):
                rare, prefetch = cand, True
        common = [t for t in ub_wv if t not in rare]
        aligned = (len(common) > 1
                   and sum(df_of[t] for t in common)
                   >= self.WAND_ALIGNED_MIN_COMMON_POSTINGS)

        # per-term block-UB points under the QUERY's weights/avgdl
        upoints: Dict[str, Tuple[np.ndarray, np.ndarray]] = {}
        for t in ub_wv:
            qtf, qdl, qw = cost[t]
            w = winfo[anykey[t]]
            avgdl = float(w.get("avgdl") or w.get("avgdl32"))
            nv = 1.2 * (0.25 + 0.75 * qdl / avgdl)
            u = float(ub_wv[t]) * qtf / (qtf + nv)
            order = np.argsort(u)
            upoints[t] = (u[order], qw[order])

        def _wquantile(u: np.ndarray, w: np.ndarray, q: float) -> float:
            cw = np.cumsum(w)
            if cw[-1] <= 0:
                return float(u[-1]) if len(u) else 0.0
            return float(u[np.searchsorted(cw, q * cw[-1], side="left")])

        # theta estimate: top-segment order statistic of the strongest
        # term's UB distribution (see PLAN_THETA_QUANTILE). The k-th
        # best doc score can't be below the k-th best block UB (each
        # block bound is realized), and k << blocks places it in the
        # top sketch segment.
        theta = max(_wquantile(u, w, self.PLAN_THETA_QUANTILE)
                    for u, w in upoints.values())
        ctot = sum(gmax[t] for t in common)
        decoded = float(sum(df_of[t] for t in rare))
        frac_by_term = {}
        for t in common:
            slack_t = ctot - gmax[t]
            u, qw = upoints[t]
            wsum = qw.sum()
            frac = float(qw[u >= theta - slack_t].sum() / wsum) if wsum else 1.0
            frac_by_term[t] = frac
            decoded += df_of[t] * frac
        decoded += self.PLAN_OVERHEAD_BLOCKS * 128.0
        decoded = min(decoded, total_post)
        waves = (1 if prefetch else 0) + (1 if aligned else 0)
        cost_wand = decoded / self.PLAN_LOOP_RATE + waves * self.PLAN_WAVE_S
        cost_exh = total_post / self.PLAN_VEC_RATE
        return {
            "use_wand": bool(cost_wand < cost_exh),
            "reason": "cost-model",
            "est_decoded_postings": int(decoded),
            "total_postings": int(total_post),
            "est_decode_fraction": round(decoded / total_post, 4),
            "frac_by_term": {t: round(f, 4) for t, f in frac_by_term.items()},
            "prefetch": prefetch, "aligned": aligned,
            "cost_wand_s": round(cost_wand, 4),
            "cost_exhaustive_s": round(cost_exh, 4),
        }

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

    # -- public API -----------------------------------------------------------

    def search(self, q: Query, k: int = 10, after: Optional[Tuple[float, int]] = None,
               prune=False) -> pd.DataFrame:
        """Top-k: score desc, docID asc (HitQueue.java:76-81). `after`:
        (score, doc_id) cursor for searchAfter paging
        (IndexSearcher.java:419). `prune=True`: block-max WAND pruning
        for term / OR-of-terms queries (rank-identical; falls back to
        exhaustive for other shapes or when paging). `prune="auto"`:
        cost-based access-path choice — the planner estimates the
        pruned plan's decode fraction from persisted per-term block-UB
        quantile sketches and runs WAND only when the model says
        pruning pays (Lucene's BooleanWeight.java:317 scorer-vs-
        BulkScorer and IndexOrDocValuesQuery.java:52 access-path
        choice); either choice returns the identical rank-safe top-k.
        The decision and its estimates land on self.last_plan; an index
        with more than WAND_MAX_TOMBSTONES tombstones runs the
        exhaustive plan (last_plan reason "tombstone-cap"). Every other
        search describes its plan there too (_exhaustive_plan), and
        each plan is logged at DEBUG on "lucene_solr_spark.search"."""
        self.last_plan = None
        self._skips = []
        q = self._with_default_field(q)
        top = None
        if prune and after is None:
            terms = self._as_or_terms(q)
            if terms is not None:
                use_wand = True
                if prune == "auto":
                    self.last_plan = self.plan_pruned_or(terms, k)
                    use_wand = self.last_plan["use_wand"]
                if use_wand:
                    top = self._search_pruned_or(terms, k)
                    if top is None:
                        self.last_plan = {"use_wand": False,
                                          "reason": "tombstone-cap"}
        if top is None:
            top = self._search_exhaustive(q, k, after)
            if self.last_plan is None:
                self.last_plan = self._exhaustive_plan(q, prune, after)
        _log.debug("search plan: %s", self.last_plan)
        return top

    def _exhaustive_plan(self, q: Query, prune, after) -> dict:
        """last_plan of a search that ran the exhaustive plan without a
        WAND gate decision: the access path and why, the skip-data
        prefilter's blocks kept out of blocks total, and the Spark jobs
        expected under adaptive execution — one for the top-k, one more
        for the shuffle of any aggregating node (boolean, phrase,
        dismax, synonym, term set) and two for the tombstone anti-join
        (its distinct and its broadcast); a multi-term query's
        dictionary expansion adds one more."""
        if self._skips:
            path, reason = "skip-data", "conjunction"
        elif self._as_or_terms(q) is None:
            path, reason = "exhaustive", "no-prefilterable-conjunction"
        else:
            path = "exhaustive"
            reason = "search-after" if prune and after is not None else "prune-off"
        q = rewrite(q, None)
        shuffle = not isinstance(q, (TermQuery, MatchAllDocsQuery,
                                     MatchNoDocsQuery))
        return {
            "access_path": path, "reason": reason,
            "blocks_kept": sum(k for k, _ in self._skips) if self._skips else None,
            "blocks_total": sum(t for _, t in self._skips) if self._skips else None,
            "expected_jobs": 1 + int(shuffle) + 2 * int(self.reader.has_deletes),
        }

    def _search_exhaustive(self, q: Query, k: int,
                           after: Optional[Tuple[float, int]]) -> pd.DataFrame:
        from pyspark.sql import functions as F

        q = rewrite(q, dictionary_terms=None)
        q = self._expand_multiterm(q)
        q = rewrite(q, dictionary_terms=None)
        scored = self.reader.live(self._eval(q, 1.0))
        if after is not None:
            s, d = after
            scored = scored.where(
                (F.col("score") < float(s))
                | ((F.col("score") == float(s)) & (F.col("doc_id") > int(d)))
            )
        rows = (
            scored.orderBy(F.desc("score"), F.asc("doc_id")).limit(k).collect()
        )
        return pd.DataFrame(
            {
                "rank": range(1, len(rows) + 1),
                "doc_id": [r["doc_id"] for r in rows],
                "score": np.array([r["score"] for r in rows], dtype=np.float32)
                if self.precision == "float32"
                else [r["score"] for r in rows],
            }
        )

    def count(self, q: Query) -> int:
        q = self._expand_multiterm(rewrite(self._with_default_field(q), None))
        return self.reader.live(self._eval(rewrite(q, None), 1.0)).count()

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


def _re_escape(c: str) -> str:
    import re

    return re.escape(c)


def _norm32(lengths: np.ndarray, avgdl32: float) -> np.ndarray:
    """float32 norm for exact (unquantized) doc lengths, same op order
    as BM25Similarity's cache fill: k1 * ((1-b) + (b*dl)/avgdl)."""
    dl = lengths.astype(np.float32)
    return (
        bm25.K1 * ((np.float32(1.0) - bm25.B) + (bm25.B * dl) / np.float32(avgdl32))
    ).astype(np.float32)


def _block_ubs(terms: np.ndarray, imp_tf_col: np.ndarray,
               imp_nb_col: np.ndarray, info: dict, precision: str,
               norms_mode: str) -> np.ndarray:
    """Vectorized per-block upper-bound scores, grouped by term: the
    max over each block's competitive impact frontier — REALIZED
    (tf, norm) pairs, an exact block bound
    (CompetitiveImpactAccumulator.java:30). Shared by the WAND
    partition kernel and the aligned block-max metadata job so both
    see identical bounds."""
    ub = np.empty(len(terms), dtype=np.float64)
    for t in pd.unique(terms):
        idx = np.flatnonzero(terms == t)
        wv_t = info["ub_wv"][t]
        w = info["winfo"][f"{t}\x00{info['by_term'][t][0][1]}"]
        lists_tf = imp_tf_col[idx]
        lens = np.fromiter((len(x) for x in lists_tf), dtype=np.int64,
                           count=len(idx))
        ftf = np.concatenate([np.asarray(x, dtype=np.float64) for x in lists_tf])
        fnb = np.concatenate(
            [np.asarray(x, dtype=np.int64) for x in imp_nb_col[idx]])
        if norms_mode == "byte":
            if precision == "float32":
                fnv = np.asarray(w["cache"], dtype=np.float64)[fnb & 0xFF]
            else:
                fnv = 1.2 * (0.25 + 0.75 * LENGTH_TABLE[
                    fnb & 0xFF].astype(np.float64) / w["avgdl"])
        else:
            avgdl = w["avgdl32"] if precision == "float32" else w["avgdl"]
            fnv = 1.2 * (0.25 + 0.75 * fnb.astype(np.float64) / avgdl)
        pair_sc = wv_t * ftf / (ftf + fnv)
        offs = np.zeros(len(idx), dtype=np.int64)
        np.cumsum(lens[:-1], out=offs[1:])
        ub[idx] = np.maximum.reduceat(pair_sc, offs)
    return ub


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


def _wand_clause_scores(term: str, tfs: np.ndarray, norms: np.ndarray,
                        info: dict, precision: str, norms_mode: str):
    """Per-clause float32/float64 scores for a decoded block — identical
    arithmetic to _score_terms.decode_score. Shared by the WAND
    partition kernel and the rare-term prefetch so every path emits
    bit-identical scores."""
    out = []
    for cid, boost in info["by_term"][term]:
        w = info["winfo"][f"{term}\x00{boost}"]
        if precision == "float32":
            if norms_mode == "byte":
                cache = np.asarray(w["cache"], dtype=np.float32)
                nv = cache[norms & 0xFF]
            else:
                nv = _norm32(norms, w["avgdl32"])
            freq = tfs.astype(np.float32)
            sc = ((np.float32(w["wv"]) * freq) / (freq + nv)).astype(
                np.float32).astype(np.float64)
        else:
            # identical op order to _score_terms.decode_score
            dl = norms.astype(np.float64)
            freq = tfs.astype(np.float64)
            denom = freq + 1.2 * (1 - 0.75 + 0.75 * dl / w["avgdl"])
            sc = w["idf"] * (freq * (1.2 + 1)) / denom * w["boost"]
        out.append((cid, sc))
    return out
