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
  - update = delete-by-key + re-add with fresh docIDs (updateDocument).
  - a merge drops deleted docs; one committed to an input while it ran
    is ORed into the merged segment's bitset at swap time (merge._swap).
"""

from __future__ import annotations

import os
import uuid
from functools import reduce
from typing import Dict, Iterator, List, Optional, Sequence, Tuple

import numpy as np
import pandas as pd

from ..codec import decode_block
from .manifest import (ManifestStore, SegmentInfo, _atomic_write, _data_files,
                       _read_term_rows, commit_lock, doc_meta_path, postings_path)

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

def _commit_deletes(index_dir: str, find, kind: str, detail=None) -> int:
    """Under the commit lock: load the manifest, OR the bits find returns
    ({segment name: bits over its span}) into each segment's bitset,
    write the changed ones and commit. Returns the newly deleted count."""
    store = ManifestStore(index_dir)
    with commit_lock(index_dir):
        manifest = store.load()
        found = find(store, manifest.segments) if manifest.segments else {}
        n_new, gens = 0, {}
        for seg in (s for s in manifest.segments if s.name in found):
            bits = read_bits(store, seg) | found[seg.name]
            if popcount(bits) > seg.n_deleted:
                n_new -= seg.n_deleted
                write_bits(store, seg, bits)
                n_new += seg.n_deleted
                gens[seg.name] = seg.del_gen
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
    decoded on the driver (pyarrow + numpy): no Spark job."""
    from ..fields import term_key

    keys = [term_key(field, t) for t in terms]

    def find(store, segments):
        out = {}
        for s in segments:
            blobs = _read_term_rows(_data_files(postings_path(store.segment_dir(s.name))),
                                   ["blob"], keys).column("blob").to_pylist()
            if blobs:
                ids = np.concatenate([decode_block(b)[0] for b in blobs])
                out[s.name] = pack(ids, s.doc_base, s.doc_span)
        return out

    return _commit_deletes(index_dir, find, "term", keys)


def delete_by_keys(spark, index_dir: str, keys_df) -> int:
    """Delete by document key (repo, path) — the Solr uniqueKey-style
    delete; keys_df: DataFrame(repo string, path string). One scan of
    the doc metadata semi-joined with the broadcast keys; its tasks
    return packed bits per segment (the range of bytes they touch)."""
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

    return _commit_deletes(index_dir, find, "key")


def update_documents(spark, index_dir: str, df, analyzer: str = "standard",
                     positions: bool = True) -> dict:
    """updateDocument: delete-by-key then append as a new segment with
    fresh docIDs (IndexWriter.updateDocuments:1298), in the norm
    encoding the index records (byte for a new index). Returns
    counters."""
    from .builder import build_index

    norms = ManifestStore(index_dir).load().norms or "byte"
    n_deleted = delete_by_keys(spark, index_dir, df.select("repo", "path"))
    # collision-proof batch id: millisecond wall-clock ids collide when
    # two updates land in the same ms (or the clock steps back), and a
    # repeated batch id makes build_index skip indexing the new docs
    # AFTER their old versions were deleted — silent data loss
    batch_id = f"update_{uuid.uuid4().hex[:16]}"
    manifest = build_index(
        spark, index_dir, [(batch_id, df)],
        analyzer=analyzer, norms=norms, positions=positions,
    )
    return {"n_deleted": int(n_deleted), "n_added": manifest.segments[-1].doc_count,
            "batch": batch_id}
