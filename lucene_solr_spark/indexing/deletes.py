"""Deletes and updates: per-segment live-docs bitsets named by the manifest.

Reference semantics (IndexWriter.deleteDocuments(Term) -> PendingDeletes
-> .liv files named by SegmentCommitInfo.delGen, Lucene50LiveDocsFormat):

  - a delete ORs bits into the bitset of each segment it touches,
    segments/<name>/live_<del_gen>.bin: ceil(doc_span/8) bytes, bit i
    (least significant first) set when doc doc_base + i is deleted. Under
    the commit lock it writes the file through a temp name, then commits
    the new del_gen and n_deleted (the popcount). Readers open only the
    file the manifest names: a crash before the commit leaves an orphan
    nothing reads, which the retry overwrites.
  - queries drop deleted docs as they decode them (the LeafCollector
    liveDocs check, DeadDocs.probe); df/docCount/avgdl count them until
    a merge purges them ("docFreq ignores deletions").
  - update = delete-by-key + re-add with fresh docIDs (updateDocument),
    committed as ONE manifest generation: the old versions' bits and the
    new segment become visible together (update_documents).
  - a merge drops deleted docs; one committed to an input while it ran
    is ORed into the merged segment's bitset at swap time (merge._swap).
"""

from __future__ import annotations

import logging
import os
import shutil
import time
import uuid
from functools import reduce
from typing import Dict, Iterator, List, Optional, Sequence, Tuple

import numpy as np
import pandas as pd

from ..codec import decode_blocks_batch
from .manifest import (ManifestStore, SegmentInfo, _atomic_write, _data_files,
                       _read_term_rows, commit_lock, doc_meta_path, postings_path)

_log = logging.getLogger("lucene_solr_spark.indexing")

_POPCOUNT = np.array([bin(i).count("1") for i in range(256)], dtype=np.uint8)


# -- the bitset kernel -------------------------------------------------------

def pack(doc_ids: np.ndarray, base: int, span: int) -> np.ndarray:
    """Packed bits over [base, base + span) with doc_ids set."""
    bits = np.zeros((span + 7) // 8, dtype=np.uint8)
    off = np.asarray(doc_ids, dtype=np.int64) - base
    np.bitwise_or.at(bits, off >> 3, (1 << (off & 7)).astype(np.uint8))
    return bits


def popcount(bits: np.ndarray) -> int:
    return int(_POPCOUNT[bits].sum(dtype=np.int64))


def set_ids(bits: np.ndarray, base: int) -> np.ndarray:
    """The doc ids whose bits are set, ascending."""
    return np.flatnonzero(np.unpackbits(bits, bitorder="little")) + base


class DeadDocs:
    """The deleted docs of segments (parts: (doc_base, doc_span, bits)) as
    ONE bitset over the id range their spans cover, so probe() is one
    gather. Spans may interleave (a merge of non-adjacent segments spans
    the ids between them), so the bits are ORed in by id."""

    def __init__(self, parts: List[Tuple[int, int, np.ndarray]]):
        self.parts = parts
        self.lo = min(base for base, _, _ in parts)
        self.span = max(base + span for base, span, _ in parts) - self.lo
        self.bits = pack(np.concatenate([set_ids(b, base) for base, _, b in parts]),
                         self.lo, self.span)

    def probe(self, doc_ids: np.ndarray) -> np.ndarray:
        """Whether each doc id is deleted."""
        off = doc_ids - self.lo
        inside = (off >= 0) & (off < self.span)
        off = np.where(inside, off, 0)
        return inside & (((self.bits[off >> 3] >> (off & 7)) & 1) == 1)

    def ids(self) -> np.ndarray:
        """Every deleted doc id, ascending."""
        return set_ids(self.bits, self.lo)


def live_path(seg_dir: str, del_gen: int) -> str:
    return os.path.join(seg_dir, f"live_{del_gen}.bin")


def read_bits(store: ManifestStore, seg: SegmentInfo) -> np.ndarray:
    """The segment's committed bitset (all clear before its first delete)."""
    if not seg.del_gen:
        return np.zeros((seg.doc_span + 7) // 8, dtype=np.uint8)
    return np.fromfile(live_path(store.segment_dir(seg.name), seg.del_gen),
                       dtype=np.uint8)


def write_bits(store: ManifestStore, seg: SegmentInfo, bits: np.ndarray) -> None:
    """Write bits as the segment's next generation and record it on seg
    (the caller commits the manifest)."""
    _atomic_write(live_path(store.segment_dir(seg.name), seg.del_gen + 1),
                  bits.tobytes())
    seg.del_gen += 1
    seg.n_deleted = popcount(bits)


def dead_docs(store: ManifestStore, segments: List[SegmentInfo]) -> Optional[DeadDocs]:
    """The segments' deleted docs, read on the driver; None without any."""
    parts = [(s.doc_base, s.doc_span, read_bits(store, s))
             for s in segments if s.n_deleted]
    return DeadDocs(parts) if parts else None


# -- deletes -------------------------------------------------------------------

def _or_deletes(store: ManifestStore, manifest, found: Dict[str, np.ndarray]):
    """OR the bits found ({segment name: bits over its span}) into each
    segment's bitset and write the changed ones (the caller holds the
    commit lock and commits manifest). Returns (newly deleted count,
    {segment name: new del_gen})."""
    n_new, gens = 0, {}
    for seg in (s for s in manifest.segments if s.name in found):
        bits = read_bits(store, seg) | found[seg.name]
        if popcount(bits) > seg.n_deleted:
            n_new -= seg.n_deleted
            write_bits(store, seg, bits)
            n_new += seg.n_deleted
            gens[seg.name] = seg.del_gen
    return n_new, gens


def _commit_deletes(index_dir: str, find, kind: str, detail=None) -> int:
    """Under the commit lock: load the manifest, OR the bits find returns
    ({segment name: bits over its span}) into each segment's bitset,
    write the changed ones and commit. Returns the newly deleted count."""
    store = ManifestStore(index_dir)
    with commit_lock(index_dir):
        manifest = store.load()
        found = find(store, manifest.segments) if manifest.segments else {}
        n_new, gens = _or_deletes(store, manifest, found)
        if not n_new:
            return 0
        store.commit(manifest, lineage_entry={
            "kind": "delete", "by": kind, "detail": detail,
            "n_docs": n_new, "del_gens": gens})
    return n_new


def delete_by_terms(spark, index_dir: str, terms: Sequence[str],
                    field: str = None) -> int:
    """deleteDocuments(Term...): delete every doc whose postings contain
    any of the terms (a Lucene Term is a (field, text) pair — pass
    `field` on multi-field indexes). The terms' blocks are read and
    decoded on the driver (pyarrow + one decode_blocks_batch call per
    segment): no Spark job."""
    from ..fields import term_key

    keys = [term_key(field, t) for t in terms]

    def find(store, segments):
        out = {}
        for s in segments:
            blobs = _read_term_rows(_data_files(postings_path(store.segment_dir(s.name))),
                                   ["blob"], keys).column("blob")
            if len(blobs):
                out[s.name] = pack(decode_blocks_batch(blobs)[0], s.doc_base, s.doc_span)
        return out

    return _commit_deletes(index_dir, find, "term", keys)


def _key_finder(spark, keys_df):
    """find(store, segments) of the docs whose (repo, path) is a row of
    keys_df: one scan of the doc metadata semi-joined with the broadcast
    keys; its tasks return packed bits per segment (the range of bytes
    they touch)."""
    from pyspark.sql import DataFrame, functions as F

    def find(store, segments):
        bases = [s.doc_base for s in segments]

        def to_bits(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            for pdf in batches:
                for i, g in pdf.groupby("seg"):
                    off = g["doc_id"].to_numpy(np.int64) - bases[i]
                    lo = int(off.min()) >> 3
                    bits = pack(off, 8 * lo, int(off.max()) + 1 - 8 * lo)
                    yield pd.DataFrame({"seg": [i], "lo": [lo], "bits": [bits.tobytes()]})

        # one scan per segment, tagged with its index: segments' spans
        # may interleave, so a doc id alone does not name its segment
        meta = reduce(DataFrame.union, [
            spark.read.schema("doc_id long, repo string, path string")
            .parquet(doc_meta_path(store.segment_dir(s.name)))
            .withColumn("seg", F.lit(i)) for i, s in enumerate(segments)])
        hits = (meta.join(F.broadcast(keys_df.select("repo", "path")),
                          ["repo", "path"], "left_semi")
                .select("doc_id", "seg"))
        out: Dict[str, np.ndarray] = {}
        for r in hits.mapInPandas(to_bits, "seg int, lo long, bits binary").collect():
            s = segments[r["seg"]]
            bits = out.setdefault(s.name, np.zeros((s.doc_span + 7) // 8, np.uint8))
            part = np.frombuffer(r["bits"], dtype=np.uint8)
            bits[r["lo"]:r["lo"] + len(part)] |= part
        return out

    return find


def _local_key_finder(keys):
    """find(store, segments) of the docs whose (repo, path) is a row of
    the pyarrow table keys, on the driver: each segment's doc metadata
    read with pyarrow (row groups pruned by the keys' paths), then an
    Arrow left-semi join on (repo, path); a null key matches nothing,
    as in Spark's join."""
    import pyarrow.dataset as ds

    keys = keys.select(["repo", "path"])
    paths = keys.column("path").drop_null()

    def find(store, segments):
        out = {}
        for s in segments:
            meta = ds.dataset(_data_files(doc_meta_path(store.segment_dir(s.name))),
                              format="parquet").to_table(
                columns=["doc_id", "repo", "path"], filter=ds.field("path").isin(paths))
            hits = meta.join(keys, keys=["repo", "path"], join_type="left semi")
            if hits.num_rows:
                out[s.name] = pack(hits.column("doc_id").to_numpy(), s.doc_base, s.doc_span)
        return out

    return find


def delete_by_keys(spark, index_dir: str, keys_df) -> int:
    """Delete by document key (repo, path) — the Solr uniqueKey-style
    delete; keys_df: DataFrame(repo string, path string) (_key_finder)."""
    return _commit_deletes(index_dir, _key_finder(spark, keys_df), "key")


# -- updates -------------------------------------------------------------------

# A batch of at most this many rows updates on the driver: one Spark job
# collects it (with the JVM's sha2 of each content) and the driver runs
# the build's invert body over it as partition 0. It bounds driver
# memory — the collected rows, their tokens and the segment being
# written, ~45 traced KB per generated-corpus row — and sits below the
# crossover: scripts/driver_crossover.py --op upsert on 4 cores
# (CHANGES.md) timed the driver path at 0.34 s for 100 rows (the Spark
# build 1.8 s) and 1.4 s for 5,000 rows (2.1 s, 228 traced MB), and the
# Spark build faster at 20,000 rows (3.6 s against 5.4 s). A bigger
# batch builds its segment with Spark jobs.
DRIVER_UPSERT_ROWS = 5_000

_SHA_JVM = "__sha_jvm"


def update_documents(spark, index_dir: str, df, analyzer: str = "standard",
                     positions: bool = True) -> dict:
    """updateDocument: delete the docs with the batch's (repo, path) keys
    and add the batch with fresh docIDs (IndexWriter.updateDocuments:1298)
    in the norm encoding the index records (byte for a new index), as
    ONE commit: the deletes and the new segment become visible in the
    same manifest generation, so no reader or crash sees the old
    versions gone before the new ones exist. Returns counters.

    One Spark job collects at most DRIVER_UPSERT_ROWS + 1 rows with the
    JVM's sha2 of each content. A batch of at most DRIVER_UPSERT_ROWS
    rows is then written on the driver, under the commit lock: sorted in
    the index's doc order, ids assigned from next_doc_id, the build's
    invert body (_make_invert_fn) run as partition 0, the persisted
    sha256 compared with the JVM's, the replaced keys found with pyarrow
    (_local_key_finder). A bigger batch builds its segment with Spark
    (build_segment) and finds the replaced keys with a Spark scan
    (_key_finder) under the lock. The lineage entry (kind "update") and
    a DEBUG log on "lucene_solr_spark.indexing" record the access path,
    the batch rows, the cap and the expected jobs."""
    from pyspark.sql import functions as F

    store = ManifestStore(index_dir)
    # collision-proof batch id: millisecond wall-clock ids collide when
    # two updates land in the same ms (or the clock steps back), and a
    # repeated batch id names an existing segment dir
    batch_id = f"update_{uuid.uuid4().hex[:16]}"
    cap = DRIVER_UPSERT_ROWS
    batch = (df.select("*", F.sha2(F.col("content"), 256).alias(_SHA_JVM))
             .limit(cap + 1).toArrow())
    driver = batch.num_rows <= cap
    plan = {"access_path": "driver" if driver else "spark",
            "batch_rows": batch.num_rows if driver else None, "cap": cap,
            "expected_jobs": 1 if driver else None}
    _log.debug("update plan: %s", plan)
    if driver and not batch.num_rows:
        return {"n_deleted": 0, "n_added": 0, "batch": batch_id}
    with commit_lock(index_dir):
        manifest = store.load()
        doc_base = max(manifest.next_doc_id, manifest.total_docs)
        norms = manifest.norms or "byte"
        seg_dir = store.segment_dir(f"seg_{batch_id}")
        if driver:
            counters = _build_local(batch, seg_dir, doc_base, manifest.index_sort,
                                    analyzer, norms, positions)
            return _commit_update(store, manifest, _local_key_finder(batch),
                                  batch_id, doc_base, norms, counters, plan)
    from .builder import build_segment

    counters = build_segment(spark, df, seg_dir, doc_base=doc_base, analyzer=analyzer,
                             norms=norms, positions=positions,
                             index_sort=manifest.index_sort)
    with commit_lock(index_dir):
        return _commit_update(store, store.load(), _key_finder(spark, df),
                              batch_id, doc_base, norms, counters, plan)


def _build_local(batch, seg_dir: str, doc_base: int, index_sort, analyzer: str,
                 norms: str, positions: bool) -> dict:
    """Write the segment of a collected batch (a pyarrow table with the
    JVM's sha2 of each content in _SHA_JVM) on the driver: build_segment's
    counters, from the same invert body run as partition 0."""
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from .builder import _make_invert_fn, dir_bytes

    t0 = time.time()
    order = index_sort or ["repo", "path"]
    batch = batch.take(pc.sort_indices(
        batch, sort_keys=[(c, "ascending") for c in order], null_placement="at_start"))
    pdf = batch.drop_columns([_SHA_JVM]).to_pandas()
    pdf.insert(0, "doc_id", np.arange(doc_base, doc_base + len(pdf), dtype=np.int64))
    shutil.rmtree(seg_dir, ignore_errors=True)
    row = next(_make_invert_fn(seg_dir, analyzer, norms, positions)(iter([pdf]))).iloc[0]
    # per-row integrity, as build_segment's check: the persisted hashlib
    # sha256 against the JVM's sha2 of the same rows (null content: no check)
    persisted = pq.read_table(os.path.join(doc_meta_path(seg_dir), "part-00000.parquet"),
                              columns=["sha256"]).column(0)
    mismatches = pc.sum(pc.not_equal(persisted, batch.column(_SHA_JVM))).as_py() or 0
    if mismatches:
        raise RuntimeError(f"content sha256 mismatch on {mismatches} rows")
    return {"doc_count": int(row["docs"]), "sum_dl": int(row["sum_dl"]),
            "size_bytes": dir_bytes(seg_dir), "wall_s": time.time() - t0,
            "sha_mismatches": 0,
            "partitions": [{"pid": 0, "docs": int(row["docs"]), "tokens": int(row["sum_dl"]),
                            "blocks": int(row["blocks"]), "bytes": int(row["bytes"])}]}


def _commit_update(store: ManifestStore, manifest, find, batch_id: str, doc_base: int,
                   norms: str, counters: dict, plan: dict) -> dict:
    """The update's one commit (the caller holds the commit lock and
    loaded manifest under it): OR the replaced docs find returns into
    their segments' bitsets, add the new segment and commit both."""
    from .builder import add_segment

    n_new, gens = _or_deletes(store, manifest, find(store, manifest.segments)
                              if manifest.segments else {})
    manifest.norms = norms
    store.commit(manifest, lineage_entry={
        "kind": "update",
        **add_segment(manifest, f"seg_{batch_id}", batch_id, doc_base, counters),
        "n_deleted": n_new, "del_gens": gens, **plan})
    return {"n_deleted": int(n_new), "n_added": counters["doc_count"], "batch": batch_id}
