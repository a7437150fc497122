"""Segment manifest: the index's single source of truth.

The Spark analog of Lucene's segments_N generation files
(lucene/core/.../index/SegmentInfos.java:57-67,119,137) plus the
per-partition lineage / counters the north rule requires for resume.

Layout under <index_dir>/:
  segments/<seg_name>/inverted.parquet/kind=blk/part-<pid>.parquet
      postings blocks (POSTINGS_SCHEMA, term-sorted), one file per
      writing task
  segments/<seg_name>/inverted.parquet/kind=doc/part-<pid>.parquet
      doc metadata
  segments/<seg_name>/term_stats.parquet/part-<pid>.parquet
      per-term stats of that task's blocks: one row per term per file,
      so readers sum df/ttf across files
  segments/<seg_name>/live_<del_gen>.bin
      deleted docs, packed bits of the del_gen the manifest names
  manifest/segments_<N>.json    immutable generation files
  manifest/current              text file holding the live generation N

Commit protocol (crash-safe on a posix fs; on object stores the
production target is an Iceberg/metastore atomic swap):
  1. segment data fully written: every build task and merge repack
     task renames each of its files from a '.'-prefixed temp name into
     place before it returns, and no _SUCCESS marker is written (readers
     skip '.'- and '_'-names); a delete renames its live-docs file into
     place the same way,
  2. write segments_<N+1>.json via temp file + atomic rename,
  3. flip manifest/current via temp file + atomic rename.
A crash between any steps leaves the previous generation live; stale
segment dirs are garbage, never corruption. Rebuilding a batch is
idempotent: segment names are deterministic functions of the batch id.

Every segment records the format it was written in (format_version,
the SegmentInfo.getVersion analog). A reader supports exactly one
format: load() refuses an index holding any segment of another format
(IndexFormatTooOldException), so no read path carries fallbacks for
formats the writers no longer produce.
"""

from __future__ import annotations

import json
import os
import tempfile
import threading
import time
from dataclasses import asdict, dataclass, field
from typing import Dict, List, Optional

# Per-index commit serialization (the IndexWriter commitLock analog,
# index/IndexWriter.java commitLock): concurrent driver threads — a
# batch build and background merges — serialize ONLY the
# load-mutate-commit critical section; the heavy Spark work runs
# outside it. Process-wide by index path.
_COMMIT_LOCKS: Dict[str, threading.Lock] = {}

# The one segment format this engine writes and reads: split position
# column (pblob), per-block competitive impacts, deletes as the
# per-segment live_<del_gen>.bin bitset (format 1 kept index-global
# deletes/ tombstones). Manifests written before the stamp existed load
# every segment as format 0.
FORMAT_VERSION = 2


class IndexFormatError(ValueError):
    """A live segment was written in a format this engine does not read."""
_COMMIT_LOCKS_GUARD = threading.Lock()


def commit_lock(index_dir: str) -> threading.Lock:
    key = os.path.abspath(index_dir)
    with _COMMIT_LOCKS_GUARD:
        lock = _COMMIT_LOCKS.get(key)
        if lock is None:
            _COMMIT_LOCKS[key] = lock = threading.Lock()
        return lock


@dataclass
class SegmentInfo:
    name: str
    doc_base: int
    doc_count: int
    sum_dl: int  # sum of post-stop field lengths (for global avgdl)
    size_bytes: int
    source_batch: str
    # delCount / delGen: popcount and generation of live_<del_gen>.bin
    n_deleted: int = 0
    del_gen: int = 0
    # maxDoc analog: ids lie in [doc_base, doc_base + doc_span), which
    # covers the gaps a merge's purged docs left
    doc_span: int = 0
    # multi-field builds: {field: [docCount, sumTotalTermFreq]} — the
    # FieldInfos/CollectionStatistics analog (per-field BM25 stats)
    field_stats: Optional[Dict[str, List[int]]] = None
    format_version: int = 0


@dataclass
class Manifest:
    generation: int = 0
    segments: List[SegmentInfo] = field(default_factory=list)
    # lineage: one entry per completed build/merge step (counters +
    # watermarks so a 10^12-file build resumes mid-merge)
    lineage: List[dict] = field(default_factory=list)
    # Monotonic docID high-water mark (IndexWriter's never-reused docID
    # allocation). total_docs is NOT safe as a doc_base after a purging
    # merge drops live counts below previously-assigned IDs — reusing an
    # ID of a live doc would sum scores across distinct docs and make
    # deletes hit the wrong doc. next_doc_id only ever grows.
    next_doc_id: int = 0
    # IndexWriterConfig.setIndexSort analog: docIDs were assigned in
    # this column order, so per-segment physical doc order == sort
    # order and sorted top-k can early-terminate (collectors.py).
    index_sort: Optional[List[str]] = None
    # norm encoding of the index ('byte' = Lucene intToByte4 quantized,
    # 'exact' = raw field length). Readers score with it (IndexReader
    # takes no norms argument); build_index refuses a batch of another
    # encoding. None until the first build.
    norms: Optional[str] = None

    @property
    def total_docs(self) -> int:
        return sum(s.doc_count for s in self.segments)

    @property
    def sum_dl(self) -> int:
        return sum(s.sum_dl for s in self.segments)

    def completed_batches(self) -> set:
        return {s.source_batch for s in self.segments} | {
            e["batch"] for e in self.lineage if e.get("kind") == "build"
        }


def _atomic_write(path: str, data) -> None:
    """Write data (str or bytes) to path through a temp file and rename."""
    d = os.path.dirname(path)
    os.makedirs(d, exist_ok=True)
    fd, tmp = tempfile.mkstemp(dir=d, prefix=".")
    with os.fdopen(fd, "wb" if isinstance(data, bytes) else "w") as f:
        f.write(data)
        f.flush()
        os.fsync(f.fileno())
    os.replace(tmp, path)


class ManifestStore:
    def __init__(self, index_dir: str):
        self.index_dir = index_dir
        self.mdir = os.path.join(index_dir, "manifest")

    def current_generation(self) -> int:
        cur = os.path.join(self.mdir, "current")
        if not os.path.exists(cur):
            return 0
        with open(cur) as f:
            return int(f.read().strip())

    def load(self) -> Manifest:
        gen = self.current_generation()
        if gen == 0:
            return Manifest()
        with open(os.path.join(self.mdir, f"segments_{gen}.json")) as f:
            raw = json.load(f)
        segments = [SegmentInfo(**s) for s in raw["segments"]]
        stale = [s for s in segments if s.format_version != FORMAT_VERSION]
        if stale:
            raise IndexFormatError(
                f"{self.index_dir}: segment(s) "
                + ", ".join(f"{s.name} (format {s.format_version})" for s in stale)
                + f" not in segment format {FORMAT_VERSION}; rebuild the index")
        return Manifest(
            generation=raw["generation"],
            segments=segments,
            lineage=raw.get("lineage", []),
            next_doc_id=int(raw["next_doc_id"]),
            index_sort=raw.get("index_sort"),
            norms=raw.get("norms"),
        )

    def commit(self, manifest: Manifest, lineage_entry: Optional[dict] = None) -> Manifest:
        """Two-phase commit: write next-generation file, flip pointer."""
        gen = self.current_generation() + 1
        manifest.generation = gen
        if lineage_entry is not None:
            lineage_entry = dict(lineage_entry, committed_at=time.time(), generation=gen)
            manifest.lineage.append(lineage_entry)
        payload = json.dumps(
            {
                "generation": gen,
                "segments": [asdict(s) for s in manifest.segments],
                "next_doc_id": manifest.next_doc_id,
                "index_sort": manifest.index_sort,
                "norms": manifest.norms,
                "lineage": manifest.lineage,
                "counters": {
                    "total_docs": manifest.total_docs,
                    "sum_dl": manifest.sum_dl,
                    "n_segments": len(manifest.segments),
                },
            },
            indent=1,
        )
        _atomic_write(os.path.join(self.mdir, f"segments_{gen}.json"), payload)
        _atomic_write(os.path.join(self.mdir, "current"), str(gen))
        return manifest

    def segment_dir(self, name: str) -> str:
        return os.path.join(self.index_dir, "segments", name)


def postings_path(seg_dir: str) -> str:
    return os.path.join(seg_dir, "inverted.parquet", "kind=blk")


def doc_meta_path(seg_dir: str) -> str:
    return os.path.join(seg_dir, "inverted.parquet", "kind=doc")


def _data_files(root: str) -> List[str]:
    """Data files of a Spark-written parquet directory; as in Spark,
    names starting with '_' or '.' (_SUCCESS, checksums) are not data."""
    if not os.path.isdir(root):
        return []
    return sorted(os.path.join(root, f) for f in os.listdir(root)
                  if not f.startswith(("_", ".")))


def _read_term_rows(files: List[str], columns: List[str], terms, min_docs=None,
                    span=None):
    """The rows of the given terms in the given parquet files, read with
    pyarrow (a term `isin` filter). min_docs: only the rows whose min_doc
    is one of these (a block keep-set's keys). span: only the blk rows
    whose [min_doc, max_doc] overlaps the doc-id range [lo, hi)."""
    import pyarrow.dataset as ds

    cond = ds.field("term").isin(list(terms))
    if min_docs is not None:
        cond = cond & ds.field("min_doc").isin(list(min_docs))
    if span is not None:
        cond = cond & (ds.field("max_doc") >= span[0]) & (ds.field("min_doc") < span[1])
    return ds.dataset(files, format="parquet").to_table(columns=columns, filter=cond)


def _footer_schema(file_groups: List[List[str]]):
    """Spark schema of groups of parquet files (one group per written
    directory): the first footer of each group, unified."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import from_arrow_schema

    return from_arrow_schema(pa.unify_schemas(
        [pq.read_schema(fs[0]) for fs in file_groups if fs]))
