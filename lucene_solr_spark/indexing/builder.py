"""Segment builder: corpus DataFrame -> inverted-index segment.

The Spark-first restatement of the reference write path
(IndexWriter.addDocument -> DefaultIndexingChain.invert ->
FreqProxTermsWriter flush -> Lucene50PostingsWriter blocks; SURVEY §3.3):

  DWPT (thread-private chamber)       == Spark partition: ONE fused
      mapInPandas does analyze + invert + block packing + file writes
      per partition (DocumentsWriter.java:101 — chambers never share
      state)
  term hash pools                     == per-chamber python dict of
      per-term (docs, tfs, norms, positions) arrays
      (TermsHashPerField.java:30)
  flush-by-RAM                        == chamber flushes block rows
      every FLUSH_TOKENS buffered tokens
      (FlushByRamOrCountsPolicy.java:58, 16MB default)
  FOR-128 block write                 == numpy bit-packing (codec.py)
  flush writes stats with postings    == the chamber computes its term
      stats from its own block metadata (FreqProxTermsWriter.java:68-87,
      BlockTreeTermsWriter.java:196) — nothing re-reads the postings
  segment + segments_N commit         == parquet files + manifest commit

Scale design (north rule) — NO token-level shuffle at all:
  assign_doc_ids range-partitions the corpus by the canonical
  (repo, path) order, so every partition owns a contiguous ascending
  doc_id range. Per-term posting lists from different chambers are
  therefore disjoint ordered doc ranges: each chamber emits FINAL
  block rows, and the postings table is just their union. Chamber-
  boundary tail blocks (<128 postings) are repacked by the tiered merge
  (merge.py), exactly like Lucene consolidates small segments.

One pass, one job: each chamber writes its partition's files itself
with pyarrow (SegmentPartWriter):
  inverted.parquet/kind=blk/part-<pid>.parquet   blocks, POSTINGS_SCHEMA,
      term-sorted, in row groups of ROW_GROUP_ROWS (2048): readers keep
      each group's term min/max as the terms index and read only the
      groups that can hold a query term
  inverted.parquet/kind=doc/part-<pid>.parquet   doc metadata only, in
      row groups of DOC_ROW_GROUP_ROWS (16384): never looked up by term
  term_stats.parquet/part-<pid>.parquet          the partition's term
      stats (term_stats_table over its block metadata), row groups as blk
The term-sorted files carry min/max statistics on `term` alone (no
reader prunes them on another column) and write min_doc/max_doc
DELTA_BINARY_PACKED without a dictionary; these savings pay for the
finer row groups (ROW_GROUP_ROWS has the measured sizes).
and returns one counters row; a task without rows writes no files (a
scan pays a task per file). A partition is a sub-segment for
statistics: term_stats holds one row per term per partition, and every
reader sums them (df/ttf).
Each file is written under a '.'-prefixed temp name and renamed into
place, so a failed attempt's leftovers are never read, and a retried
task's deterministic name replaces its earlier file. The merge's repack
(merge.py) writes its blocks and term stats through the same writer.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import time
import uuid
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

DOC_SCHEMA = (
    "doc_id long, repo string, path string, commit string, lang string, "
    "length int, norm int, sha256 string"
)

TERM_STATS_SCHEMA = "term string, df long, ttf long"

# rows per parquet row group of the blk and term-stats files. The rows
# are term-sorted, so a term lookup (manifest._read_term_rows, a Spark
# `term IN` scan) reads only the row groups whose term min/max holds the
# term: a smaller group decompresses less blob per lookup. The encoding
# pays for the extra groups (_PartFile): min/max statistics on `term`
# only, and min_doc/max_doc delta-encoded without a dictionary. On the
# 30k-doc perfbench index these rules cost +1.3% (2048) or +0.6% (4096)
# in total bytes, where 2048-row groups alone cost +3.9% (bulk_build)
# and +5% (ingest_merge); scripts/term_read_bench.py holds the read side
ROW_GROUP_ROWS = 2048
# doc metadata is read whole or by doc-id range (sorted_head), never by
# term: it keeps large row groups and statistics on every scalar column
DOC_ROW_GROUP_ROWS = 16384
# the blk columns written DELTA_BINARY_PACKED: ascending doc ids within a
# term, whose dictionary never pays
DELTA_COLUMNS = ("min_doc", "max_doc")


def doc_schema(field_specs: Optional[List[FieldSpec]],
               store: bool = False) -> str:
    """Doc-meta schema; multi-field builds add one per-field doc-length
    column (fdl_<name>) — the FieldInfos per-field stats ride these
    (docCount(field), sumTotalTermFreq(field)); store=True adds the
    stored-content column (the Lucene stored-fields analog,
    codecs/lucene50/Lucene50StoredFieldsFormat.java:44-58 — parquet's
    columnar compression replaces the chunked-LZ4 format)."""
    out = DOC_SCHEMA
    if field_specs:
        out += ", " + ", ".join(f"{fdl_col(fs.name)} int" for fs in field_specs)
    if store:
        out += ", content string"
    return out


def arrow_schema(ddl: str):
    """The pyarrow schema of a flat Spark DDL string of this module."""
    import pyarrow as pa

    types = {"string": pa.string(), "int": pa.int32(), "long": pa.int64(),
             "bigint": pa.int64(), "double": pa.float64(),
             "binary": pa.binary(), "array<int>": pa.list_(pa.int32()),
             "array<bigint>": pa.list_(pa.int64()),
             "array<double>": pa.list_(pa.float64())}
    return pa.schema([(c.split()[0], types[c.split()[1]])
                      for c in ddl.split(",")])


class _PartFile:
    """One parquet file of a task, written under a '.'-prefixed temp
    name (readers skip '.'-names, as Spark does) and renamed into place
    by close(). by_term: a term-sorted blk or term-stats file, in row
    groups of ROW_GROUP_ROWS with statistics on `term` only and
    DELTA_COLUMNS delta-encoded; else row groups of DOC_ROW_GROUP_ROWS
    with statistics on every scalar column. Every write appends whole
    row groups."""

    def __init__(self, path: str, schema, by_term: bool = False):
        self.path = path
        self.schema = schema
        self.by_term = by_term
        self.writer = None

    def write(self, data) -> None:
        import pyarrow as pa
        import pyarrow.parquet as pq

        if self.writer is None:
            d, name = os.path.split(self.path)
            os.makedirs(d, exist_ok=True)
            self.tmp = os.path.join(d, f".{name}.{uuid.uuid4().hex}.tmp")
            if self.by_term:
                delta = [f.name for f in self.schema if f.name in DELTA_COLUMNS]
                kw = dict(write_statistics=["term"],
                          use_dictionary=[f.name for f in self.schema
                                          if f.name not in delta],
                          column_encoding=dict.fromkeys(delta, "DELTA_BINARY_PACKED")
                          or None)
            else:
                # blobs and lists never prune anything
                kw = dict(write_statistics=[
                    f.name for f in self.schema if f.type.num_fields == 0
                    and not pa.types.is_binary(f.type)])
            self.writer = pq.ParquetWriter(self.tmp, self.schema, **kw)
        if isinstance(data, pd.DataFrame):
            data = pa.Table.from_pandas(data, schema=self.schema,
                                        preserve_index=False)
        self.writer.write_table(data, row_group_size=(
            ROW_GROUP_ROWS if self.by_term else DOC_ROW_GROUP_ROWS))

    def close(self, keep_empty: bool = False) -> int:
        """Rename into place; returns the file's size in bytes. A file
        that got no rows is written only when keep_empty."""
        if self.writer is None:
            if not keep_empty:
                return 0
            self.write(self.schema.empty_table())
        self.writer.close()
        os.replace(self.tmp, self.path)
        return os.path.getsize(self.path)


def _task_pid() -> int:
    from pyspark import TaskContext

    ctx = TaskContext.get()
    return ctx.partitionId() if ctx else 0


class SegmentPartWriter:
    """A task's blocks of one segment: its kind=blk part file and, on
    close, its term-stats part file, computed from the same blocks'
    metadata (the blobs are written once and never read back). Without
    blocks it writes no files, unless keep_empty."""

    META_COLS = ["term", "n", "sum_tf"]

    def __init__(self, seg_dir: str, pid: int, keep_empty: bool = False):
        self.name = f"part-{pid:05d}.parquet"
        self.keep_empty = keep_empty
        self.seg_dir = seg_dir
        self.blk = _PartFile(
            os.path.join(manifest_mod.postings_path(seg_dir), self.name),
            arrow_schema(POSTINGS_SCHEMA), by_term=True)
        self.meta: List[pd.DataFrame] = []

    def add_blocks(self, blocks: pd.DataFrame) -> None:
        """Append block rows (term-sorted within the call)."""
        self.blk.write(blocks)
        self.meta.append(blocks[self.META_COLS])

    def close(self) -> dict:
        """Write the term stats; returns {blocks, bytes, stats_s}."""
        t0 = time.perf_counter()
        meta = (pd.concat(self.meta, ignore_index=True) if self.meta
                else pd.DataFrame({c: [] for c in self.META_COLS}))
        stats = term_stats_table(meta)
        stats_s = time.perf_counter() - t0
        sf = _PartFile(os.path.join(self.seg_dir, "term_stats.parquet",
                                    self.name),
                       arrow_schema(TERM_STATS_SCHEMA), by_term=True)
        if len(stats):
            sf.write(stats)
        return {"blocks": len(meta),
                "bytes": (self.blk.close(self.keep_empty)
                          + sf.close(self.keep_empty)),
                "stats_s": stats_s}


def term_stats_table(blocks: pd.DataFrame):
    """Per-term stats of a set of blocks (columns term, n, sum_tf), as a
    term-sorted pyarrow table in TERM_STATS_SCHEMA: df = sum(n) and
    ttf = sum(sum_tf), the scoring statistics. Pure numpy over block
    metadata: blobs are never touched."""
    import pyarrow as pa

    codes, uniq = pd.factorize(
        pd.Series(blocks["term"].to_numpy(), dtype=object), sort=True)
    # blocks grouped by term
    order = np.argsort(codes, kind="stable")
    head = np.flatnonzero(np.diff(codes[order], prepend=-1))

    def per_term_sum(col: str) -> np.ndarray:
        return np.add.reduceat(blocks[col].to_numpy(dtype=np.int64)[order], head)

    return pa.Table.from_arrays(
        [pa.array(np.asarray(uniq, dtype=object), type=pa.string()),
         pa.array(per_term_sum("n")), pa.array(per_term_sum("sum_tf"))],
        schema=arrow_schema(TERM_STATS_SCHEMA))


CHUNK_BITS = 13  # 8192-doc chunks: the unit of mega-term splitting
BLOCK = 128
FLUSH_TOKENS = 4_000_000  # per-chamber RAM-budget analog (IndexWriterConfig 16MB)


def counters_schema(field_specs: Optional[List[FieldSpec]]) -> str:
    """The one row an invert task returns: its partition id, docs,
    summed doc length, block count, bytes written, stats-kernel seconds
    and, multi-field, each field's (sum of lengths, docs with a token)."""
    out = ("pid int, docs long, sum_dl long, blocks long, bytes long, "
           "stats_s double")
    for fs in field_specs or ():
        out += f", `dl_{fs.name}` long, `dc_{fs.name}` long"
    return out


def _make_invert_fn(seg_dir: str, analyzer: str, norms: str,
                    with_positions: bool,
                    flush_tokens: int = FLUSH_TOKENS,
                    field_specs: Optional[List[FieldSpec]] = None,
                    store: bool = False):
    """Per-partition fused analyze+invert+write ("DWPT chamber",
    DocumentsWriterPerThread / TermsHashPerField.add:
    index/DefaultIndexingChain.java:763-869):

    Each input partition holds a CONTIGUOUS ascending doc_id range
    (assign_doc_ids range-partitions by the canonical order), so the
    chamber can emit FINAL per-term block rows directly — per-term doc
    lists from different partitions are disjoint ordered ranges and
    concatenate trivially. This removes the token-level shuffle
    entirely. Tail blocks at chamber boundaries are shorter than 128;
    the tiered merge (merge.py) repacks them, exactly like Lucene
    segment merges.

    The chamber writes its blk, doc and term-stats part files under
    seg_dir itself and yields one counters row (counters_schema).
    Called outside Spark (no TaskContext) it runs as partition 0.

    Memory: the chamber flushes whenever `flush_tokens` tokens are
    buffered (flush-by-RAM analog, FlushByRamOrCountsPolicy.java:58);
    each flush appends its term-sorted blocks to the blk file.
    """
    from ..analysis import analyze_field, vectorized_field_tokens
    from ..smallfloat import int_to_byte4_np

    doc_arrow = arrow_schema(doc_schema(field_specs, store))

    def invert(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        pid = _task_pid()
        blk_out = SegmentPartWriter(seg_dir, pid)
        doc_out = _PartFile(os.path.join(manifest_mod.doc_meta_path(seg_dir),
                                         blk_out.name), doc_arrow)
        counters = {"docs": 0, "sum_dl": 0}
        for fs in field_specs or ():
            counters[f"dl_{fs.name}"] = counters[f"dc_{fs.name}"] = 0
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
                contents, fanalyzer, with_positions, prefix)
            fb_rows: List[Tuple[int, dict]] = []
            for i in fb:
                per_doc, length = analyze_field(contents.iloc[i], fanalyzer)
                lengths[i] = length
                fb_rows.append((i, per_doc))
            nb_doc = (int_to_byte4_np(lengths) if norms == "byte"
                      else lengths).astype(np.int64)
            if len(kept_doc):
                # vectorized_field_tokens applied the prefix: flat
                # already carries it
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

        def flush() -> None:
            """Group the buffered token arrays into per-(term, doc)
            postings and FOR-128 block rows and append them to the blk
            file: sorted factorize + ONE code-first sort + numpy
            run-length encoding + BATCH block encoding
            (codec.split_blocks_batch) — no per-term Python at all; the
            whole flush is a handful of vectorized passes. The codes
            follow term order, so the blocks come out term-sorted."""
            nonlocal vbufs, n_buffered, fb_dirty
            if vbufs:
                T = np.concatenate([b[0] for b in vbufs])
                D = np.concatenate([b[1] for b in vbufs])
                P = (np.concatenate([b[2] for b in vbufs])
                     if with_positions else None)
                NB = np.concatenate([b[3] for b in vbufs])
                codes, uniques = pd.factorize(pd.Series(T), sort=True)
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
                    blk_out.add_blocks(pd.DataFrame({
                        "term": term_names,
                        **{k: res[k] for k in ("n", "min_doc", "max_doc",
                                               "max_tf", "sum_tf",
                                               "min_norm", "imp_tf",
                                               "imp_norm", "blob", "pblob")},
                    }))
            vbufs = []
            n_buffered = 0
            fb_dirty = False

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
                    counters[f"dl_{fs.name}"] += int(lengths.sum())
                    # docCount(field) = docs with >=1 token in the field
                    counters[f"dc_{fs.name}"] += int((lengths > 0).sum())
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
            else:
                # -- single-field path, fully vectorized tokenization --
                # (analysis.vectorized_field_tokens: no per-token and no
                # per-doc Python in the hot path — the input_hint's
                # "vectorized pandas/Arrow UDFs" contract; rare Unicode
                # rows under "standard" take the per-doc parity fallback)
                contents = pdf["content"].fillna("").astype(str)
                total_len = invert_field_column(contents, analyzer, "",
                                                doc_ids_arr)
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
                                   for t in contents],
                    }
                )
                if store:
                    df_docs["content"] = contents.to_numpy(dtype=object)
            doc_out.write(df_docs)
            counters["docs"] += ndocs
            counters["sum_dl"] += int(total_len.sum())
            n_buffered += int(total_len.sum())
            if n_buffered >= flush_tokens:
                flush()
        flush()
        out = blk_out.close()
        out["bytes"] += doc_out.close()
        yield pd.DataFrame([{"pid": pid, **counters, **out}])

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
    from pyspark.sql import Observation
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

    # ONE pass, ONE job: every chamber writes its partition's blk, doc
    # and term-stats files and returns its counters row — no persist, no
    # re-read of the postings
    shutil.rmtree(seg_dir, ignore_errors=True)
    tp = time.time()
    rows = sorted(
        (r.asDict() for r in with_ids.mapInPandas(
            _make_invert_fn(seg_dir, analyzer, norms, positions,
                            field_specs=field_specs, store=store),
            schema=counters_schema(field_specs)).collect()),
        key=lambda r: r["pid"])
    phases["invert_write"] = round(time.time() - tp, 2)
    phases["stats"] = round(sum(r["stats_s"] for r in rows), 2)
    doc_count = sum(r["docs"] for r in rows)
    sum_dl = sum(r["sum_dl"] for r in rows)
    meta = spark.read.schema(doc_schema(field_specs, store)).parquet(
        manifest_mod.doc_meta_path(seg_dir))

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
    # counted by an observed metric over a no-op write: one scan job (plus
    # the join's broadcast), no aggregate exchange
    obs = Observation("sha_check")
    (meta.join(src_sha, ["repo", "path"], "inner")
     .where(F.col("sha256") != F.col("sha_jvm"))
     .observe(obs, F.count(F.lit(1)).alias("mismatches"))
     .write.format("noop").mode("overwrite").save())
    mismatches = obs.get["mismatches"]
    phases["sha_check"] = round(time.time() - tp, 2)
    id_cache.unpersist()
    if mismatches:
        raise RuntimeError(f"content sha256 mismatch on {mismatches} rows")

    out = {
        "doc_count": doc_count,
        "sum_dl": sum_dl,
        "size_bytes": dir_bytes(seg_dir),
        "wall_s": time.time() - t0,
        "sha_mismatches": int(mismatches),
        "phases": phases,
        "partitions": [
            {"pid": r["pid"], "docs": r["docs"], "tokens": r["sum_dl"],
             "blocks": r["blocks"], "bytes": r["bytes"]} for r in rows],
    }
    if field_specs:
        out["field_stats"] = {
            fs.name: [sum(r[f"dc_{fs.name}"] for r in rows),
                      sum(r[f"dl_{fs.name}"] for r in rows)]
            for fs in field_specs
        }
    return out


def dir_bytes(path: str) -> int:
    """Bytes of every file under path."""
    return sum(os.path.getsize(os.path.join(dp, fn))
               for dp, _, fns in os.walk(path) for fn in fns)


def add_segment(manifest: Manifest, name: str, batch_id: str, doc_base: int,
                counters: dict) -> dict:
    """Append the segment a build wrote (build_segment's counters) to
    manifest and advance next_doc_id past its ids; the caller commits.
    Returns the build's lineage fields."""
    manifest.next_doc_id = max(manifest.next_doc_id, doc_base + counters["doc_count"])
    manifest.segments.append(SegmentInfo(
        name=name, doc_base=doc_base, doc_count=counters["doc_count"],
        doc_span=counters["doc_count"], sum_dl=counters["sum_dl"],
        size_bytes=counters["size_bytes"], source_batch=batch_id,
        field_stats=counters.get("field_stats"),
        format_version=manifest_mod.FORMAT_VERSION))
    return {"batch": batch_id, **{k: counters[k] for k in (
        "doc_count", "sum_dl", "wall_s", "sha_mismatches", "partitions")}}


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
        if manifest.segments and manifest.norms != norms:
            # readers score with the manifest's encoding: a segment of
            # another encoding would silently mis-score
            raise ValueError(
                f"norms {norms!r} conflicts with existing index norms "
                f"{manifest.norms!r}")
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
            manifest = mstore.commit(manifest, lineage_entry={
                "kind": "build",
                **add_segment(manifest, seg_name, batch_id, doc_base, counters)})
        if fail_after_batch is not None and i + 1 >= fail_after_batch:
            raise KeyboardInterrupt(f"simulated crash after batch {batch_id}")
    with lock:
        return mstore.load()
