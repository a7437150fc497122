"""Segment builder: corpus DataFrame -> inverted-index segment.

The Spark-first restatement of the reference write path
(IndexWriter.addDocument -> DefaultIndexingChain.invert ->
FreqProxTermsWriter flush -> Lucene50PostingsWriter blocks; SURVEY §3.3):

  DWPT (thread-private chamber)       == Spark partition: ONE fused
      mapInPandas does analyze + invert + block packing per partition
      (DocumentsWriter.java:101 — chambers never share state)
  term hash pools                     == per-chamber python dict of
      per-term (docs, tfs, norms, positions) arrays
      (TermsHashPerField.java:30)
  flush-by-RAM                        == chamber flushes block rows
      every FLUSH_TOKENS buffered tokens
      (FlushByRamOrCountsPolicy.java:58, 16MB default)
  FOR-128 block write                 == numpy bit-packing (codec.py)
  segment + segments_N commit         == parquet dirs + manifest commit

Scale design (north rule) — NO token-level shuffle at all:
  assign_doc_ids range-partitions the corpus by the canonical
  (repo, path) order, so every partition owns a contiguous ascending
  doc_id range. Per-term posting lists from different chambers are
  therefore disjoint ordered doc ranges: each chamber emits FINAL
  block rows, and the postings table is just their union. The only
  data that crosses the wire is block rows (~tokens/128) and the
  doc-meta rows. Chamber-boundary tail blocks (<128 postings) are
  repacked by the tiered merge (merge.py), exactly like Lucene
  consolidates small segments. Skew is a non-issue on the write path
  (no shuffle key to skew); term_stats aggregates only block-level
  metadata (two-level agg).
"""

from __future__ import annotations

import hashlib
import os
import time
from typing import Iterator, List, Optional, Tuple

import numpy as np
import pandas as pd

from ..codec import split_blocks_batch
from ..fields import FIELD_SEP, FieldSpec, fdl_col, normalize_fields
from .docids import assign_doc_ids
from . import manifest as manifest_mod
from .manifest import Manifest, ManifestStore, SegmentInfo

POSTINGS_SCHEMA = (
    "term string, n int, min_doc long, max_doc long, max_tf int, "
    "sum_tf long, min_norm int, imp_tf array<int>, imp_norm array<int>, "
    "blob binary, pblob binary"
)

# one UDF pass emits BOTH postings blocks and doc metadata (discriminated
# union — avoids tokenizing the corpus twice)
INVERT_SCHEMA = (
    "kind string, "
    + POSTINGS_SCHEMA + ", "
    "doc_id long, repo string, path string, commit string, lang string, "
    "length int, norm int, sha256 string"
)


def invert_schema(field_specs: Optional[List[FieldSpec]],
                  store: bool = False) -> str:
    """Chamber output schema; multi-field builds add one per-field
    doc-length column (fdl_<name>) to the doc-meta rows — the FieldInfos
    per-field stats ride these (docCount(field), sumTotalTermFreq(field));
    store=True adds the stored-content column (the Lucene stored-fields
    analog, codecs/lucene50/Lucene50StoredFieldsFormat.java:44-58 —
    parquet's columnar compression replaces the chunked-LZ4 format)."""
    out = INVERT_SCHEMA
    if field_specs:
        out += ", " + ", ".join(f"{fdl_col(fs.name)} int" for fs in field_specs)
    if store:
        out += ", content string"
    return out

def _block_best_expr(avgdl: float, norms_mode: str):
    """SQL expression for a block's canonical impact summary: struct
    ('s', 'tf', 'dl') where s = BM25 tf-saturation (k1=1.2, b=0.75,
    the defaults; dl from the norm under `norms_mode`) maximized over
    the block's REALIZED competitive-impact frontier, and (tf, dl) is
    the frontier pair achieving it. The (tf, dl) pair is stored — not
    the saturation value — so a query can re-evaluate the bound under
    its own avgdl/similarity params."""
    from ..smallfloat import LENGTH_TABLE

    if norms_mode == "byte":
        lt = "array(" + ",".join(
            f"{float(v)}D" for v in LENGTH_TABLE.tolist()) + ")"

        def dl(col: str) -> str:
            return f"element_at({lt}, (({col} % 256) + 256) % 256 + 1)"
    else:
        def dl(col: str) -> str:
            return f"CAST({col} AS DOUBLE)"

    def nv(col: str) -> str:
        return f"(1.2D * (0.25D + 0.75D * {dl(col)} / {float(avgdl)}D))"

    def sat(tfcol: str, normcol: str) -> str:
        return f"(CAST({tfcol} AS DOUBLE) / ({tfcol} + {nv(normcol)}))"

    return (
        "aggregate(arrays_zip(imp_tf, imp_norm), "
        "named_struct('s', CAST(-1.0 AS DOUBLE), 'tf', CAST(0 AS BIGINT), "
        "'dl', CAST(0.0 AS DOUBLE)), "
        f"(acc, p) -> CASE WHEN {sat('p.imp_tf', 'p.imp_norm')} > acc.s "
        f"THEN named_struct('s', {sat('p.imp_tf', 'p.imp_norm')}, "
        "'tf', CAST(p.imp_tf AS BIGINT), "
        f"'dl', CAST({dl('p.imp_norm')} AS DOUBLE)) ELSE acc END)"
    )


N_UB_QUANTILES = 17  # order statistics kept per term (0/16 .. 16/16)


def compute_term_stats(blocks, avgdl: Optional[float] = None,
                       norms_mode: Optional[str] = None):
    """Per-term stats from block metadata: (df, ttf) for scoring plus
    the WAND bound input — the per-term GLOBAL competitive-impact table
    (gimp_norm/gimp_tf, norm-ascending): for each norm value seen in
    any block frontier, the max tf realized at-or-above it is
    Pareto-reduced so the query-time slack bound
    max over pairs of score(tf, norm) equals the max over ALL blocks'
    impact bounds (CompetitiveImpactAccumulator.java:30 merged across
    the whole term, persisted so pruned searches need no metadata job).
    Pure metadata SQL — blob bytes never leave disk (column pruning).

    Every segment writes the same columns. gnblocks = the term's block
    count; (gq_tf, gq_dl) is the cost-gate sketch, written when
    (avgdl, norms_mode) are given and typed nulls otherwise
    (multi-field and zero-doc segments): N_UB_QUANTILES equally-spaced
    order statistics of
    the per-block frontier upper bound, stored as the REALIZED (tf, dl)
    pair at each quantile so queries re-evaluate the bound under their
    own parameters. This is the driver-side input that lets the planner
    estimate a pruned search's decode fraction with zero query-time
    metadata jobs (the access-path cost model of Lucene's
    IndexOrDocValuesQuery.java:52 / BooleanWeight.java:317, applied to
    WAND-vs-exhaustive plan choice)."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    stats = blocks.groupBy("term").agg(
        F.sum("n").alias("df"), F.sum("sum_tf").alias("ttf"),
        F.count(F.lit(1)).alias("gnblocks"))
    ex = blocks.select(
        "term", F.explode_outer(F.arrays_zip("imp_norm", "imp_tf")).alias("p")
    ).where(F.col("p").isNotNull()).select(
        "term", F.col("p.imp_norm").alias("nb"), F.col("p.imp_tf").alias("tf"))
    g = ex.groupBy("term", "nb").agg(F.max("tf").alias("tf"))
    # Pareto reduction: keep (nb, tf) only when tf beats every pair at
    # a smaller-or-equal norm (shorter doc) — dominated pairs can never
    # be the max of the monotone score, so dropping them is exact
    w = (Window.partitionBy("term").orderBy("nb")
         .rowsBetween(Window.unboundedPreceding, -1))
    sky = g.withColumn("cmx", F.max("tf").over(w)).where(
        F.col("cmx").isNull() | (F.col("tf") > F.col("cmx")))
    gimp = (
        sky.groupBy("term").agg(
            F.sort_array(F.collect_list(F.struct("nb", "tf"))).alias("z"))
        .select("term", F.col("z.nb").alias("gimp_norm"),
                F.col("z.tf").alias("gimp_tf"))
    )
    out = stats.join(gimp, "term", "left")
    if avgdl is None or norms_mode is None or avgdl <= 0:
        return out.select(
            "*", F.lit(None).cast("array<bigint>").alias("gq_tf"),
            F.lit(None).cast("array<double>").alias("gq_dl"))
    # cost-gate sketch: equally-spaced order statistics of per-block
    # frontier UB, canonical ordering = BM25 defaults at this segment's
    # avgdl. Window + groupBy share the hash partitioning on `term`
    # (one exchange); metadata columns only, blobs never read.
    nq = N_UB_QUANTILES
    bl = blocks.select(
        "term", F.expr(_block_best_expr(avgdl, norms_mode)).alias("bb"))
    wq = Window.partitionBy("term").orderBy(
        F.col("bb.s").asc(), F.col("bb.tf").asc())
    ranked = bl.select(
        "term", "bb", F.row_number().over(wq).alias("rn"),
        F.count(F.lit(1)).over(Window.partitionBy("term")).alias("cnt"))
    qsel = ranked.where(
        (F.col("cnt") <= nq) | F.expr(
            f"array_contains(transform(sequence(0, {nq - 1}), "
            f"i -> CAST(round(i * (cnt - 1) / {nq - 1}.0) AS INT) + 1), rn)"))
    gq = (
        qsel.groupBy("term").agg(
            F.sort_array(F.collect_list(F.struct(
                F.col("bb.s").alias("s"), F.col("rn").alias("rn"),
                F.col("bb.tf").alias("tf"), F.col("bb.dl").alias("dl")
            ))).alias("z"))
        .select("term", F.expr("transform(z, x -> x.tf)").alias("gq_tf"),
                F.expr("transform(z, x -> x.dl)").alias("gq_dl"))
    )
    return out.join(gq, "term", "left")


CHUNK_BITS = 13  # 8192-doc chunks: the unit of mega-term splitting
BLOCK = 128
FLUSH_TOKENS = 4_000_000  # per-chamber RAM-budget analog (IndexWriterConfig 16MB)


def _make_invert_fn(analyzer: str, norms: str, with_positions: bool,
                    flush_tokens: int = FLUSH_TOKENS,
                    field_specs: Optional[List[FieldSpec]] = None,
                    store: bool = False):
    """Per-partition fused analyze+invert ("DWPT chamber",
    DocumentsWriterPerThread / TermsHashPerField.add:
    index/DefaultIndexingChain.java:763-869):

    Each input partition holds a CONTIGUOUS ascending doc_id range
    (assign_doc_ids range-partitions by the canonical order), so the
    chamber can emit FINAL per-term block rows directly — per-term doc
    lists from different partitions are disjoint ordered ranges and
    concatenate trivially. This removes the token-level shuffle
    entirely: nothing larger than block rows ever crosses the wire.
    Tail blocks at chamber boundaries are shorter than 128; the tiered
    merge (merge.py) repacks them, exactly like Lucene segment merges.

    Memory: the chamber flushes whenever `flush_tokens` tokens are
    buffered (flush-by-RAM analog, FlushByRamOrCountsPolicy.java:58).
    """
    from ..analysis import analyze_field, vectorized_field_tokens

    # Tokenizer-path knob, resolved DRIVER-side at closure creation and
    # shipped to workers in the closure. The byte-level ASCII tokenizer
    # (analysis._ascii_fast_tokens) is ~2.6x faster per core than the
    # regex path but trades instructions for memory traffic, so it
    # inverts at high per-host concurrency: interleaved same-session
    # A/B at local[32] on a 1.6M-doc corpus measured 31.8k docs/s
    # (byte path) vs 67.1k docs/s (regex path) under a moderate host
    # memory ceiling, while at 8-way the byte path wins ~1.3x
    # end-to-end (BASELINE.md round 4). Default is therefore the
    # bandwidth-lean regex path; set LSS_ASCII_FAST=1 on deployments
    # with few cores per executor (4-8, the common cluster shape),
    # where per-core bandwidth is plentiful and the byte path wins.
    ascii_fast = os.environ.get("LSS_ASCII_FAST", "0") == "1"
    from ..smallfloat import int_to_byte4_np

    all_cols = [c.strip().split()[0]
                for c in invert_schema(field_specs, store).split(",")]

    def pad(df: pd.DataFrame) -> pd.DataFrame:
        for c in all_cols:
            if c not in df.columns:
                df[c] = None
        return df[all_cols]

    def invert(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # vectorized token buffers: flat (term, doc, pos, norm) arrays
        vbufs: List[Tuple[np.ndarray, np.ndarray, Optional[np.ndarray], np.ndarray]] = []
        n_buffered = 0
        # rows from the per-doc analyzer fallback are appended AFTER the
        # batch's vectorized bulk, so they can break the invariant the
        # single-sort flush fast path rests on (see flush()); any
        # fallback row this flush forces the full lexsort
        fb_dirty = False

        def invert_field_column(contents: pd.Series, fanalyzer: str,
                                prefix: str, doc_ids_arr: np.ndarray) -> np.ndarray:
            """Vectorized invert of one field column into vbufs (term
            keys get `prefix`); returns per-row field lengths. Rows the
            vectorized tokenizer can't handle (rare Unicode under
            'standard'; non-vectorizable analyzers) run the per-doc
            analyze_field reference path — parity, not the hot path."""
            flat, kept_doc, kept_pos, lengths, fb = vectorized_field_tokens(
                contents, fanalyzer, with_positions, prefix, ascii_fast)
            fb_rows: List[Tuple[int, dict]] = []
            for i in fb:
                per_doc, length = analyze_field(contents.iloc[i], fanalyzer)
                lengths[i] = length
                fb_rows.append((i, per_doc))
            nb_doc = (int_to_byte4_np(lengths) if norms == "byte"
                      else lengths).astype(np.int64)
            if len(kept_doc):
                # prefixing happened at the vocab level inside
                # vectorized_field_tokens — flat already carries it
                vbufs.append((
                    flat,
                    doc_ids_arr[kept_doc],
                    kept_pos if with_positions else None,
                    nb_doc[kept_doc],
                ))
            if fb_rows:
                nonlocal fb_dirty
                fb_dirty = True
            for i, per_doc in fb_rows:
                for term, plist in per_doc.items():
                    m = len(plist)
                    vbufs.append((
                        np.full(m, prefix + term, dtype=object),
                        np.full(m, doc_ids_arr[i], dtype=np.int64),
                        np.asarray(plist, dtype=np.int64) if with_positions else None,
                        np.full(m, nb_doc[i], dtype=np.int64),
                    ))
            return lengths

        def flush() -> pd.DataFrame:
            """Group the buffered token arrays into per-(term, doc)
            postings and FOR-128 block rows: factorize + ONE lexsort +
            numpy run-length encoding + BATCH block encoding
            (codec.split_blocks_batch) — no per-term Python at all; the
            whole flush is a handful of vectorized passes."""
            nonlocal vbufs, n_buffered, fb_dirty
            out_df = None
            if vbufs:
                T = np.concatenate([b[0] for b in vbufs])
                D = np.concatenate([b[1] for b in vbufs])
                P = (np.concatenate([b[2] for b in vbufs])
                     if with_positions else None)
                NB = np.concatenate([b[3] for b in vbufs])
                codes, uniques = pd.factorize(pd.Series(T), sort=False)
                n0 = len(codes)
                bits = n0.bit_length()
                if fb_dirty:
                    order = (np.lexsort((P, D, codes)) if with_positions
                             else np.lexsort((D, codes)))
                    Ts = codes[order]
                elif len(uniques).bit_length() + bits <= 62:
                    # the buffers are appended doc-by-doc in ascending
                    # (doc, pos) order and a term key never spans two
                    # fields (prefix), so every equal-code group is
                    # ALREADY (doc, pos)-sorted: a stable sort by term
                    # code alone is exact. Fuse (code, stream index)
                    # into one int64 and np.sort IN PLACE — a direct
                    # value sort with no indirection, measured ~5-10x
                    # faster than the 2-3 indirect stable passes of
                    # lexsort; uniqueness of the fused key makes the
                    # unstable quicksort exact. The flush sort is the
                    # chamber's memory-bandwidth hot spot, and
                    # bandwidth is the 4N-concurrency ceiling on
                    # shared hosts.
                    key = (codes << bits) | np.arange(n0, dtype=np.int64)
                    key.sort()
                    order = key & np.int64((1 << bits) - 1)
                    Ts = key >> bits          # == codes[order], no gather
                else:
                    order = np.argsort(codes, kind="stable")
                    Ts = codes[order]
                Ds = D[order]
                NBs = NB[order]
                Ps = P[order] if with_positions else None
                n = len(Ts)
                term_change = np.empty(n, dtype=bool)
                term_change[0] = True
                term_change[1:] = Ts[1:] != Ts[:-1]
                doc_change = np.empty(n, dtype=bool)
                doc_change[0] = True
                doc_change[1:] = Ds[1:] != Ds[:-1]
                run_start = np.flatnonzero(term_change | doc_change)
                run_tf = (np.append(run_start[1:], n) - run_start).astype(np.int64)
                run_doc = Ds[run_start]
                run_nb = NBs[run_start]
                is_head = term_change[run_start]
                term_first = np.flatnonzero(is_head)
                term_last = np.append(term_first[1:], len(run_start))
                res = split_blocks_batch(run_doc, run_tf, run_nb,
                                         term_first, term_last,
                                         positions=Ps)
                if len(res["n"]):
                    term_names = np.asarray(uniques, dtype=object)[
                        Ts[run_start[term_first]]][res["term_idx"]]
                    out_df = pd.DataFrame({
                        "kind": "blk", "term": term_names,
                        **{k: res[k] for k in ("n", "min_doc", "max_doc",
                                               "max_tf", "sum_tf",
                                               "min_norm", "imp_tf",
                                               "imp_norm", "blob", "pblob")},
                    })
            vbufs = []
            n_buffered = 0
            fb_dirty = False
            return pad(out_df) if out_df is not None else None

        for pdf in batches:
            doc_ids_arr = pdf["doc_id"].to_numpy(dtype=np.int64)
            ndocs = len(pdf)
            if field_specs is not None:
                # -- multi-field chamber, vectorized per field ---------
                # each field runs the SAME vectorized token path as the
                # single-field chamber (per-Arrow-batch pandas str ops
                # + numpy), with field-prefixed term keys and THAT
                # FIELD's length norm per posting; per-doc per-field
                # lengths land in fdl_* doc-meta columns. No per-doc
                # Python except the sha hash and analyzer fallbacks.
                total_len = np.zeros(ndocs, dtype=np.int64)
                field_texts: List[pd.Series] = []
                doc_rows: dict = {}
                for fs in field_specs:
                    contents = pdf[fs.source_col].fillna("").astype(str)
                    field_texts.append(contents)
                    lengths = invert_field_column(
                        contents, fs.analyzer, fs.name + FIELD_SEP, doc_ids_arr)
                    doc_rows[fdl_col(fs.name)] = lengths
                    total_len += lengths
                n_buffered += int(total_len.sum())
                sha_src = field_texts[0]
                for t in field_texts[1:]:
                    sha_src = sha_src + FIELD_SEP + t
                df_docs = pd.DataFrame(
                    {
                        "doc_id": doc_ids_arr,
                        "repo": pdf["repo"].to_numpy(),
                        "path": pdf["path"].to_numpy(),
                        "commit": pdf["commit"].to_numpy(),
                        "lang": pdf["lang"].to_numpy(),
                        "length": total_len,
                        "norm": (int_to_byte4_np(total_len) if norms == "byte"
                                 else total_len).astype(np.int64),
                        "sha256": [hashlib.sha256(t.encode()).hexdigest()
                                   for t in sha_src],
                        **doc_rows,
                    }
                )
                df_docs.insert(0, "kind", "doc")
                yield pad(df_docs)
                if n_buffered >= flush_tokens:
                    out = flush()
                    if out is not None:
                        yield out
                continue
            # -- single-field path, fully vectorized tokenization ------
            # (analysis.vectorized_field_tokens: no per-token and no
            # per-doc Python in the hot path — the input_hint's
            # "vectorized pandas/Arrow UDFs" contract; rare Unicode
            # rows under "standard" take the per-doc parity fallback)
            contents = pdf["content"].fillna("").astype(str)
            lengths = invert_field_column(contents, analyzer, "", doc_ids_arr)
            n_buffered += int(lengths.sum())

            df_docs = pd.DataFrame(
                {
                    "doc_id": doc_ids_arr,
                    "repo": pdf["repo"].to_numpy(),
                    "path": pdf["path"].to_numpy(),
                    "commit": pdf["commit"].to_numpy(),
                    "lang": pdf["lang"].to_numpy(),
                    "length": lengths,
                    "norm": (int_to_byte4_np(lengths) if norms == "byte"
                             else lengths).astype(np.int64),
                    "sha256": [hashlib.sha256(t.encode()).hexdigest()
                               for t in contents],
                }
            )
            if store:
                df_docs["content"] = contents.to_numpy(dtype=object)
            df_docs.insert(0, "kind", "doc")
            yield pad(df_docs)
            if n_buffered >= flush_tokens:
                out = flush()
                if out is not None:
                    yield out
        out = flush()
        if out is not None:
            yield out

    return invert


def build_segment(
    spark,
    corpus_df,
    seg_dir: str,
    doc_base: int = 0,
    analyzer: str = "standard",
    norms: str = "byte",
    positions: bool = True,
    num_partitions: Optional[int] = None,
    assume_sorted: bool = False,
    fields=None,
    index_sort: Optional[List[str]] = None,
    store: bool = False,
) -> dict:
    """Build one segment from a corpus batch. Returns counters.

    index_sort: IndexWriterConfig.setIndexSort analog — docIDs are
    assigned in THIS column order instead of the canonical
    (repo, path), so the segment's physical doc order matches the sort
    and sorted top-k can early-terminate (IndexReader.sorted_head).

    norms='byte': Lucene intToByte4-quantized field length (bit-parity
    with the reference); norms='exact': raw field length stored instead
    (used by the SQL-oracle-checked query surface).

    fields: optional multi-field spec ([(name, source_col[, analyzer])]
    or {name: col} or [FieldSpec]); when given, each field is inverted
    under its own analyzer into (field \\x1f term) keys with per-field
    norms/stats (Document-of-fields model, document/Document.java:41);
    `analyzer` is ignored. All segments of one index must agree on the
    field layout.
    """
    from pyspark.sql import functions as F

    field_specs = normalize_fields(fields) if fields is not None else None
    if store and field_specs:
        raise ValueError("store=True supports single-field builds; "
                         "multi-field stored fields: store each source "
                         "column in its own single-field index")
    parts = num_partitions or spark.sparkContext.defaultParallelism
    t0 = time.time()
    phases = {}

    with_ids, id_cache = assign_doc_ids(
        corpus_df, list(index_sort) if index_sort else ["repo", "path"],
        base=doc_base, num_partitions=parts,
        assume_sorted=assume_sorted,
    )
    phases["ids"] = round(time.time() - t0, 2)

    inverted = with_ids.mapInPandas(
        _make_invert_fn(analyzer, norms, positions, field_specs=field_specs,
                        store=store),
        schema=invert_schema(field_specs, store),
    )

    # ONE pass, ONE write: the chamber output lands partitioned by kind
    # (blk/doc) — no persist, no second materialization of the corpus
    os.makedirs(seg_dir, exist_ok=True)
    inv_path = os.path.join(seg_dir, "inverted.parquet")
    tp = time.time()
    inverted.write.mode("overwrite").partitionBy("kind").parquet(inv_path)
    phases["invert_write"] = round(time.time() - tp, 2)

    meta = spark.read.parquet(manifest_mod.doc_meta_path(seg_dir))
    aggs = [F.count(F.lit(1)).alias("doc_count"), F.sum("length").alias("sum_dl")]
    if field_specs:
        for fs in field_specs:
            c = fdl_col(fs.name)
            aggs.append(F.sum(c).alias(f"dl_{fs.name}"))
            # docCount(field) = docs with >=1 token in the field
            aggs.append(
                F.sum((F.col(c) > 0).cast("long")).alias(f"dc_{fs.name}")
            )
    counters_row = meta.agg(*aggs).collect()[0]

    # two-level term stats: per-block metadata -> per-term (reads only
    # the small metadata columns back from the written postings)
    tp = time.time()
    blocks = spark.read.parquet(manifest_mod.postings_path(seg_dir))
    # per-term GLOBAL block-max + impact-table inputs — the WAND slack
    # bound reads them straight from term_stats (no per-query metadata
    # job; Ding & Suel 2011 block-max table, persisted). The cost-gate
    # quantile sketch needs this segment's avgdl (canonical UB
    # ordering); multi-field builds skip it (per-field avgdl differs —
    # the pruned OR path is single-field).
    avgdl_seg = None
    if not field_specs and counters_row["doc_count"]:
        avgdl_seg = float(counters_row["sum_dl"] or 0) / float(
            counters_row["doc_count"])
    term_stats = compute_term_stats(blocks, avgdl=avgdl_seg,
                                    norms_mode=None if field_specs else norms)
    term_stats.write.mode("overwrite").parquet(os.path.join(seg_dir, "term_stats.parquet"))
    phases["stats"] = round(time.time() - tp, 2)

    # per-row integrity: recompute sha with Spark's JVM-side sha2 over the
    # source and compare against the python-hashlib values in doc_meta
    if field_specs:
        parts_expr = []
        for i, fs in enumerate(field_specs):
            if i:
                parts_expr.append(F.lit(FIELD_SEP))
            parts_expr.append(F.coalesce(F.col(fs.source_col), F.lit("")))
        sha_src_col = F.concat(*parts_expr) if len(parts_expr) > 1 else parts_expr[0]
    else:
        sha_src_col = F.col("content")
    src_sha = corpus_df.select(
        "repo", "path", F.sha2(sha_src_col, 256).alias("sha_jvm")
    )
    tp = time.time()
    mismatches = (
        meta.join(src_sha, ["repo", "path"], "inner")
        .where(F.col("sha256") != F.col("sha_jvm"))
        .count()
    )
    phases["sha_check"] = round(time.time() - tp, 2)
    id_cache.unpersist()
    if mismatches:
        raise RuntimeError(f"content sha256 mismatch on {mismatches} rows")

    size_bytes = sum(
        os.path.getsize(os.path.join(dp, fn))
        for dp, _, fns in os.walk(seg_dir)
        for fn in fns
    )
    out = {
        "doc_count": int(counters_row["doc_count"]),
        "sum_dl": int(counters_row["sum_dl"] or 0),
        "size_bytes": size_bytes,
        "wall_s": time.time() - t0,
        "sha_mismatches": int(mismatches),
        "phases": phases,
    }
    if field_specs:
        out["field_stats"] = {
            fs.name: [int(counters_row[f"dc_{fs.name}"] or 0),
                      int(counters_row[f"dl_{fs.name}"] or 0)]
            for fs in field_specs
        }
    return out


def build_index(
    spark,
    index_dir: str,
    corpus_batches,
    analyzer: str = "standard",
    norms: str = "byte",
    positions: bool = True,
    fail_after_batch: Optional[int] = None,
    assume_sorted: bool = False,
    fields=None,
    min_doc_base: int = 0,
    index_sort: Optional[List[str]] = None,
    store: bool = False,
) -> Manifest:
    """Log-structured index build: one segment per batch, manifest commit
    after each — resumable at batch granularity (north rule). Completed
    batches (recorded in the live manifest) are skipped on re-run.

    corpus_batches: ordered list of (batch_id, DataFrame). Order is part
    of the contract: docID bases are assigned cumulatively.
    fail_after_batch: test hook — simulate a crash after N batches.
    """
    from .manifest import commit_lock

    mstore = ManifestStore(index_dir)
    lock = commit_lock(index_dir)
    with lock:
        manifest = mstore.load()
        if index_sort is not None:
            if manifest.segments and manifest.index_sort != list(index_sort):
                raise ValueError(
                    f"index_sort {list(index_sort)} conflicts with existing "
                    f"index sort {manifest.index_sort} (IndexWriterConfig "
                    "forbids changing the index sort of an existing index)")
        effective_sort = (list(index_sort) if index_sort is not None
                          else manifest.index_sort)
    for i, (batch_id, df) in enumerate(corpus_batches):
        # reload under the commit lock every batch: a BACKGROUND merge
        # (indexing/scheduler.py) may have swapped segments between
        # batches, and committing a stale snapshot would clobber it
        with lock:
            manifest = mstore.load()
            if batch_id in manifest.completed_batches():
                continue
            # allocate from the persisted high-water mark, never
            # total_docs: after a purging merge, total_docs < already-
            # assigned max ID and reusing IDs of live docs would corrupt
            # scoring and deletes. min_doc_base floors a shard's id
            # range (MultiReader requires disjoint per-shard ranges)
            doc_base = max(manifest.next_doc_id, manifest.total_docs, min_doc_base)
        seg_name = f"seg_{batch_id}"
        seg_dir = mstore.segment_dir(seg_name)
        counters = build_segment(
            spark, df, seg_dir, doc_base=doc_base,
            analyzer=analyzer, norms=norms, positions=positions,
            assume_sorted=assume_sorted, fields=fields,
            index_sort=effective_sort, store=store,
        )
        with lock:
            manifest = mstore.load()
            manifest.index_sort = effective_sort
            manifest.norms = norms
            manifest.next_doc_id = max(
                manifest.next_doc_id, doc_base + counters["doc_count"])
            manifest.segments.append(
                SegmentInfo(
                    name=seg_name,
                    doc_base=doc_base,
                    doc_count=counters["doc_count"],
                    sum_dl=counters["sum_dl"],
                    size_bytes=counters["size_bytes"],
                    source_batch=batch_id,
                    field_stats=counters.get("field_stats"),
                    format_version=manifest_mod.FORMAT_VERSION,
                )
            )
            manifest = mstore.commit(
                manifest,
                lineage_entry={
                    "kind": "build",
                    "batch": batch_id,
                    **{k: counters[k] for k in ("doc_count", "sum_dl", "wall_s", "sha_mismatches")},
                },
            )
        if fail_after_batch is not None and i + 1 >= fail_after_batch:
            raise KeyboardInterrupt(f"simulated crash after batch {batch_id}")
    with lock:
        return mstore.load()
