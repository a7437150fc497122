"""Log-structured tiered segment merge.

Policy is a faithful port of the reference's scoring math
(lucene/core/.../index/TieredMergePolicy.java:96-103 defaults,
score():566-610: skew × totAfterMergeBytes^0.05 × nonDelRatio², lower
is better; allowed-segment budget per tier) — the mechanism is ours:
the driver picks candidate sets and runs each merge's three stage bodies
— unpack (decode the inputs' blocks, drop deleted docs), repack (re-block
the (term, doc_id)-sorted postings) and write-docs — over flat arrays.
A merge whose inputs' summed sum_dl is under codec.DRIVER_POSTINGS_BUDGET
runs them on the driver with no Spark job (merge_plan); a bigger one runs
them as mapInArrow stages around a shuffle.

Because docIDs are GLOBAL in this engine (assigned once at build from
the canonical (repo, path) order and never remapped), a merge is a pure
re-layout: no DocIDMerger analog is needed, resume is trivial (the
merged segment's name is a deterministic function of its inputs; the
manifest swap is the only commit point), and query results are
byte-identical before and after any merge.
"""

from __future__ import annotations

import hashlib
import logging
import math
import os
import shutil
import time
from typing import Iterator, List, Optional

import numpy as np
import pandas as pd

from .. import codec
from ..codec import BLOCK_SIZE, POS_SPLIT, decode_blocks_batch, split_blocks_batch
from .builder import POSTINGS_SCHEMA, SegmentPartWriter, _PartFile, _task_pid, dir_bytes
from .manifest import (FORMAT_VERSION, Manifest, ManifestStore, SegmentInfo,
                       _data_files, _footer_schema, doc_meta_path,
                       postings_path)

# TieredMergePolicy.java:96-101 defaults
MAX_MERGE_AT_ONCE = 10
SEGS_PER_TIER = 10.0
MAX_MERGED_SEGMENT_BYTES = 5 * 1024**3
FLOOR_SEGMENT_BYTES = 2 * 1024**2
# repack flush threshold (rows buffered before encoding complete terms);
# module constant so tests can shrink it to exercise the mid-term path
REPACK_FLUSH_ROWS = 2_000_000

_log = logging.getLogger("lucene_solr_spark.indexing")


def _floor_size(bytes_: int) -> int:
    return max(FLOOR_SEGMENT_BYTES, bytes_)


def merge_score(candidate: List[SegmentInfo], hit_too_large: bool) -> float:
    """TieredMergePolicy.score():566-610 — lower is better. A segment's
    bytes after the merge are pro-rated by its share of live docs, and
    nonDelRatio² favours merges that reclaim deletes."""
    after = [s.size_bytes * (1 - s.n_deleted / max(1, s.doc_count)) for s in candidate]
    tot_after = sum(after)
    if hit_too_large:
        skew = 1.0 / min(MAX_MERGE_AT_ONCE, SEGS_PER_TIER)
    else:
        skew = _floor_size(after[0]) / sum(map(_floor_size, after))
    non_del_ratio = tot_after / max(1, sum(s.size_bytes for s in candidate))
    return skew * math.pow(tot_after, 0.05) * math.pow(non_del_ratio, 2)


def find_merges(segments: List[SegmentInfo]) -> Optional[List[SegmentInfo]]:
    """One round of the findMerges loop (TieredMergePolicy.java:~420-560,
    simplified to the essential algorithm): if the segment count exceeds
    the tier budget, score all contiguous windows (size-sorted, up to
    maxMergeAtOnce, byte-capped) and return the best candidate."""
    if len(segments) < 2:
        return None
    by_size = sorted(segments, key=lambda s: -s.size_bytes)
    tot_bytes = sum(_floor_size(s.size_bytes) for s in by_size)
    # allowed segment budget: segsPerTier per exponential tier
    level = FLOOR_SEGMENT_BYTES
    allowed = 0.0
    remaining = tot_bytes
    while True:
        seg_count_level = remaining / level
        if seg_count_level < SEGS_PER_TIER:
            allowed += math.ceil(seg_count_level)
            break
        allowed += SEGS_PER_TIER
        remaining -= SEGS_PER_TIER * level
        level *= MAX_MERGE_AT_ONCE
    if len(segments) <= max(2.0, allowed):
        return None

    best, best_score = None, None
    for start in range(len(by_size)):
        candidate: List[SegmentInfo] = []
        tot = 0
        hit_too_large = False
        for s in by_size[start:]:
            if tot + s.size_bytes > MAX_MERGED_SEGMENT_BYTES:
                hit_too_large = True
                continue
            candidate.append(s)
            tot += s.size_bytes
            if len(candidate) >= MAX_MERGE_AT_ONCE:
                break
        if len(candidate) < 2:
            continue
        sc = merge_score(candidate, hit_too_large)
        if best_score is None or sc < best_score:
            best, best_score = candidate, sc
    return best


def merged_segment_name(inputs: List[SegmentInfo]) -> str:
    h = hashlib.sha1("|".join(sorted(s.name for s in inputs)).encode()).hexdigest()[:12]
    return f"seg_m_{h}"


def merge_plan(inputs: List[SegmentInfo]) -> dict:
    """How a merge of inputs runs, decided before any data is read: on
    the driver when the inputs' summed sum_dl — the tokens they hold, a
    bound on the postings and positions the merge decodes — is under
    codec.DRIVER_POSTINGS_BUDGET (0 Spark jobs), else as Spark jobs (the
    postings repack's shuffle map and result stages, then the doc
    metadata pass)."""
    tokens = sum(s.sum_dl for s in inputs)
    budget = codec.DRIVER_POSTINGS_BUDGET
    driver = tokens < budget
    return {"access_path": "driver" if driver else "spark",
            "tokens_planned": tokens, "budget": budget,
            "expected_jobs": 0 if driver else 3}


def run_merge(spark, store: ManifestStore, manifest: Manifest,
              inputs: List[SegmentInfo], num_partitions: Optional[int] = None) -> Manifest:
    """Execute one merge (its data phase, on the driver or as Spark
    jobs: merge_plan) + manifest swap. Idempotent: the output dir name is
    deterministic, data writes are overwrite-by-name, and the manifest
    commit is the only visibility point — a crash at any moment leaves
    the old generation live (kill/resume test relies on this). The swap
    commits onto the live manifest (_swap)."""
    t0 = time.time()
    plan = merge_plan(inputs)
    merged_info = _merge_data(spark, store, inputs, num_partitions,
                              plan["access_path"] == "driver")
    out = _swap(store, inputs, merged_info, {"wall_s": time.time() - t0, **plan})
    if out is None:
        raise RuntimeError(f"merge inputs no longer live: {[s.name for s in inputs]}")
    return out


def run_merge_concurrent(spark, store: ManifestStore,
                         inputs: List[SegmentInfo],
                         num_partitions: Optional[int] = None) -> Optional[Manifest]:
    """Background-thread merge (ConcurrentMergeScheduler's OneMerge):
    the data phase runs WITHOUT any lock against the inputs' immutable
    segment dirs; the swap (_swap) re-validates the inputs against the
    live manifest — if another merge claimed one, the output is
    abandoned (garbage, never corruption). Returns the committed
    manifest, or None if abandoned."""
    t0 = time.time()
    plan = merge_plan(inputs)
    merged_info = _merge_data(spark, store, inputs, num_partitions,
                              plan["access_path"] == "driver")
    return _swap(store, inputs, merged_info,
                 {"concurrent": True, "wall_s": time.time() - t0, **plan})


def _swap(store: ManifestStore, inputs: List[SegmentInfo], merged: SegmentInfo,
          lineage: dict) -> Optional[Manifest]:
    """The merge's commit, under the commit lock: RELOAD the live manifest
    (a build or delete may have committed meanwhile), abandon the output
    (None) unless every input is still live, carry deletes committed to
    an input since the merge read it, swap; then reclaim the inputs."""
    from .deletes import pack, read_bits, set_ids, write_bits
    from .manifest import commit_lock

    _log.debug("merge plan: %s", lineage)
    with commit_lock(store.index_dir):
        manifest = store.load()
        live = {s.name: s for s in manifest.segments}
        if not all(s.name in live for s in inputs):
            shutil.rmtree(store.segment_dir(merged.name), ignore_errors=True)
            return None
        # docIDs are global: a doc deleted since the merge read its input
        # was live then, so the merge kept it under the same id
        # (IndexWriter.commitMergedDeletesAndUpdates)
        late = [set_ids(read_bits(store, live[s.name]) & ~read_bits(store, s), s.doc_base)
                for s in inputs if live[s.name].del_gen != s.del_gen]
        if late:
            write_bits(store, merged, pack(np.concatenate(late), merged.doc_base, merged.doc_span))
        in_names = {s.name for s in inputs}
        manifest.segments = [s for s in manifest.segments if s.name not in in_names]
        manifest.segments.append(merged)
        manifest.segments.sort(key=lambda s: s.doc_base)
        manifest = store.commit(manifest, lineage_entry={
            "kind": "merge", "inputs": sorted(in_names), "output": merged.name,
            **lineage})
    for s in inputs:
        shutil.rmtree(store.segment_dir(s.name), ignore_errors=True)
    return manifest


def _merge_data(spark, store: ManifestStore, inputs: List[SegmentInfo],
                num_partitions: Optional[int] = None,
                driver: bool = False) -> SegmentInfo:
    """The merge's data phase: read + purge + re-pack + write the merged
    segment dir. Touches NO manifest state — inputs are immutable once
    committed (a delete adds a live-docs generation beside the one the
    inputs name), so this is safe off-thread.

    Three stage bodies run on either access path: _unpack (blocks ->
    live postings), _repack_aggregated (sorted postings -> blocks,
    written by SegmentPartWriter) and _write_docs (live doc metadata).
    driver: pyarrow reads every input file, a (term, doc_id) sort
    replaces the shuffle, and one part file of each kind is written,
    with no Spark job; else mapInArrow stages (positions ride as an
    Arrow list column) around the builder's chunk-salted shuffle."""
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.dataset as ds
    from pyspark.sql.pandas.types import to_arrow_schema

    from ..fields import field_stats_from_meta_cols
    from .deletes import dead_docs

    name = merged_segment_name(inputs)
    out_dir = store.segment_dir(name)
    in_dirs = [store.segment_dir(s.name) for s in inputs]
    has_positions = _segment_has_positions(in_dirs[0])
    # physical purge: deleted docs drop out of the rewrite
    # (SegmentMerger skips liveDocs=false rows)
    dead = dead_docs(store, inputs)
    blk_files = [f for d in in_dirs for f in _data_files(postings_path(d))]
    cols = ["term", "blob"] + (["pblob"] if has_positions else [])
    meta_dirs = [doc_meta_path(d) for d in in_dirs]
    meta_schema = _footer_schema([_data_files(d) for d in meta_dirs])
    doc_arrow = to_arrow_schema(meta_schema)
    field_names = field_stats_from_meta_cols(doc_arrow.names)
    lens = ["length"] + [f"fdl_{fn}" for fn in field_names]
    names = ["n"] + [f"sum_{c}" for c in lens] + [f"nz_{c}" for c in lens]
    shutil.rmtree(out_dir, ignore_errors=True)

    if driver:
        post = _unpack(ds.dataset(blk_files, format="parquet").to_table(columns=cols),
                       dead, has_positions)
        post = post.take(pc.sort_indices(
            post, sort_keys=[("term", "ascending"), ("doc_id", "ascending")]))
        out = SegmentPartWriter(out_dir, 0, keep_empty=True)
        for blk in _repack_aggregated([post], has_positions):
            out.add_blocks(blk)
        out.close()
        meta = ds.dataset([f for d in meta_dirs for f in _data_files(d)],
                          schema=doc_arrow, format="parquet").to_table()
        total = _write_docs([meta], doc_meta_path(out_dir), 0, doc_arrow, dead, lens,
                            keep_empty=True)
    else:
        from pyspark.sql import functions as F

        parts = num_partitions or spark.sparkContext.defaultParallelism

        def unpack(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
            for b in batches:
                yield from _unpack(b, dead, has_positions).to_batches()

        schema = "term string, doc_id long, norm int, tf long"
        if has_positions:
            schema += ", positions array<int>"
        postings = (spark.read.schema(POSTINGS_SCHEMA).parquet(
            *[postings_path(d) for d in in_dirs]).select(*cols).mapInArrow(unpack, schema))
        # same chunk-salted shuffle + sorted pack as the builder
        shuffled = (
            postings.withColumn("chunk", F.shiftright("doc_id", 13))
            .repartition(parts, "term", "chunk")
            .sortWithinPartitions("term", "doc_id")
            .drop("chunk")
        )

        def repack(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
            # the builder's writer: term-sorted blk and term-stats part files
            out = SegmentPartWriter(out_dir, _task_pid())
            for blk in _repack_aggregated(batches, has_positions):
                out.add_blocks(blk)
            yield pa.RecordBatch.from_pylist([out.close()])

        rows = shuffled.mapInArrow(
            repack, "blocks long, bytes long, stats_s double").collect()
        if not any(r["blocks"] for r in rows):
            # every input doc was purged: no task wrote a file, but readers
            # need one of each kind
            SegmentPartWriter(out_dir, 0, keep_empty=True).close()

        def write_docs(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
            c = _write_docs(batches, doc_meta_path(out_dir), _task_pid(),
                            doc_arrow, dead, lens)
            yield pa.RecordBatch.from_arrays([pa.array([v]) for v in c], names=names)

        meta = spark.read.schema(meta_schema).parquet(*meta_dirs)
        rows = meta.mapInArrow(write_docs, ", ".join(f"`{n}` long" for n in names)).collect()
        total = np.sum(rows, axis=0) if rows else np.zeros(len(names), np.int64)
        if not total[0]:
            _PartFile(os.path.join(doc_meta_path(out_dir), "part-00000.parquet"),
                      doc_arrow).close(keep_empty=True)
    total = dict(zip(names, total))

    doc_base = min(s.doc_base for s in inputs)
    return SegmentInfo(
        name=name,
        doc_base=doc_base,
        doc_count=int(total["n"]),
        doc_span=max(s.doc_base + s.doc_span for s in inputs) - doc_base,
        sum_dl=int(total["sum_length"]),
        size_bytes=dir_bytes(out_dir),
        source_batch=f"merge:{'+'.join(s.source_batch for s in inputs)}",
        field_stats={fn: [int(total[f"nz_fdl_{fn}"]), int(total[f"sum_fdl_{fn}"])]
                     for fn in field_names} or None,
        format_version=FORMAT_VERSION,
    )


def _unpack(blocks, dead, with_positions: bool):
    """The merge's decode stage: blk rows (term, blob[, pblob]; a pyarrow
    table or record batch) -> one row per live posting (term, doc_id,
    norm, tf[, positions]), a pyarrow table whose positions are a list
    column built from the decoded offsets. One decode_blocks_batch call;
    deleted docs drop out with their positions."""
    import pyarrow as pa

    d, f, nb, pos, off, _ = decode_blocks_batch(
        blocks.column("blob"), blocks.column("pblob") if with_positions else None)
    blk = np.repeat(np.arange(len(off) - 1), np.diff(off))
    if dead is not None:
        keep = ~dead.probe(d)
        if with_positions:
            pos = pos[np.repeat(keep, f)]
        blk, d, f, nb = blk[keep], d[keep], f[keep], nb[keep]
    cols = {"term": blocks.column("term").take(pa.array(blk)), "doc_id": pa.array(d),
            "norm": pa.array(nb.astype(np.int32)), "tf": pa.array(f)}
    if with_positions:
        po = np.zeros(len(f) + 1, dtype=np.int32)
        np.cumsum(f, out=po[1:])
        cols["positions"] = pa.ListArray.from_arrays(pa.array(po), pa.array(pos.astype(np.int32)))
    return pa.table(cols)


def _write_docs(batches, meta_dir: str, pid: int, doc_arrow, dead, lens: List[str],
                keep_empty: bool = False) -> np.ndarray:
    """The merge's doc-metadata stage: drop deleted docs from batches of
    doc metadata (pyarrow), write the rest as part file pid of meta_dir,
    as the builder's invert task does (a file without rows only when
    keep_empty), and return the live counters: docs, then the sum and
    nonzero count of each lens column — purged docs leave the field
    stats here, as Lucene's FieldInfos do."""
    import pyarrow as pa

    out = _PartFile(os.path.join(meta_dir, f"part-{pid:05d}.parquet"), doc_arrow)
    c = np.zeros(1 + 2 * len(lens), np.int64)
    for b in batches:
        t = b if isinstance(b, pa.Table) else pa.Table.from_batches([b])
        if dead is not None:
            t = t.filter(pa.array(~dead.probe(t.column("doc_id").to_numpy())))
        if t.num_rows:
            out.write(t.cast(doc_arrow))
            v = np.column_stack([t.column(x).to_numpy() for x in lens]).astype(np.int64)
            c += np.concatenate(([len(v)], v.sum(0), (v > 0).sum(0)))
    out.close(keep_empty)
    return c


def _repack_aggregated(batches, with_positions: bool) -> Iterator[pd.DataFrame]:
    """Re-block already-aggregated (term, doc_id, norm, tf[, positions])
    rows — pyarrow tables or record batches, sorted by (term, doc_id) —
    via the batch block encoder. Unlike the builder's raw-token packer,
    (term, doc) pairs are unique here (each doc lived in exactly one
    input segment). Term changes are found by an Arrow compare and the
    positions flattened from their list column: no Python object per
    posting.

    Memory is bounded: rows buffer up to ~2M and COMPLETE terms are
    encoded per round, the (possibly batch-straddling) final term
    carried into the next round. A single term LARGER than the buffer
    (a stop-word-class term in a big merged partition) is encoded
    mid-term at a BLOCK_SIZE multiple — all emitted blocks are full,
    so the codec invariant (a tail block only at true term end) holds,
    and the carried remainder stays < BLOCK_SIZE + one input batch."""
    import pyarrow as pa
    import pyarrow.compute as pc

    def heads(terms) -> np.ndarray:
        tc = np.ones(len(terms), dtype=bool)
        if len(terms) > 1:
            tc[1:] = pc.not_equal(terms[1:], terms[:-1]).to_numpy(zero_copy_only=False)
        return np.flatnonzero(tc)

    def encode(tbl) -> Iterator[pd.DataFrame]:
        terms = tbl.column("term").combine_chunks()
        term_first = heads(terms)
        term_last = np.append(term_first[1:], len(terms))
        P = None
        if with_positions:
            P = pc.list_flatten(tbl.column("positions").combine_chunks()).to_numpy(
                zero_copy_only=False).astype(np.int64)
        res = split_blocks_batch(
            tbl.column("doc_id").to_numpy().astype(np.int64),
            tbl.column("tf").to_numpy().astype(np.int64),
            tbl.column("norm").to_numpy().astype(np.int64),
            term_first, term_last, positions=P)
        nblocks = len(res["n"])
        if not nblocks:
            return
        cols = {"term": terms.take(pa.array(term_first)).to_numpy(
                    zero_copy_only=False)[res["term_idx"]],
                **{k: res[k] for k in ("n", "min_doc", "max_doc", "max_tf",
                                       "sum_tf", "min_norm", "imp_tf",
                                       "imp_norm", "blob", "pblob")}}
        for lo in range(0, nblocks, 65536):
            yield pd.DataFrame({k: v[lo:lo + 65536] for k, v in cols.items()})

    pending: list = []
    n_pending = 0
    for b in batches:
        if not b.num_rows:
            continue
        pending.append(b if isinstance(b, pa.Table) else pa.Table.from_batches([b]))
        n_pending += b.num_rows
        if n_pending >= REPACK_FLUSH_ROWS:
            buf = pa.concat_tables(pending)
            cut = int(heads(buf.column("term").combine_chunks())[-1])
            if cut == 0:
                # ONE term fills the whole buffer: encode full blocks
                # mid-term (cut at a BLOCK_SIZE multiple — no tail
                # block is emitted, so the term can continue in later
                # rounds) instead of growing the buffer without bound
                cut = (buf.num_rows // BLOCK_SIZE) * BLOCK_SIZE
            if cut > 0:
                yield from encode(buf.slice(0, cut))
                buf = buf.slice(cut)
            pending = [buf]
            n_pending = buf.num_rows
    if n_pending:
        yield from encode(pa.concat_tables(pending))


def _segment_has_positions(seg_dir: str) -> bool:
    """Whether the segment's blocks carry positions: the flag byte of its
    first block, read with pyarrow on the driver (no Spark job)."""
    import pyarrow.parquet as pq

    for f in _data_files(postings_path(seg_dir)):
        for batch in pq.ParquetFile(f).iter_batches(batch_size=1, columns=["blob"]):
            if batch.num_rows:
                return batch.column(0)[0].as_py()[8] == POS_SPLIT
    return False


def maybe_merge(spark, index_dir: str, max_rounds: int = 100) -> Manifest:
    """Driver-side merge loop: apply the tiered policy until no merge is
    selected (ConcurrentMergeScheduler analog, run synchronously)."""
    store = ManifestStore(index_dir)
    manifest = store.load()
    for _ in range(max_rounds):
        cand = find_merges(manifest.segments)
        if not cand:
            break
        manifest = run_merge(spark, store, manifest, cand)
    return manifest


def force_merge(spark, index_dir: str, max_segments: int = 1) -> Manifest:
    """forceMerge analog: merge down to max_segments, then rewrite any
    remaining segment that still has deleted docs (forceMergeDeletes
    semantics; the manifest's n_deleted says which)."""
    store = ManifestStore(index_dir)
    manifest = store.load()
    while len(manifest.segments) > max_segments:
        group = manifest.segments[: max(2, min(MAX_MERGE_AT_ONCE, len(manifest.segments)))]
        manifest = run_merge(spark, store, manifest, group)
    for seg in list(manifest.segments):
        if seg.n_deleted:
            manifest = run_merge(spark, store, manifest, [seg])
    return manifest
