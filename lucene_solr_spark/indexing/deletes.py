"""Deletes and updates: tombstone files + live-docs filtering.

Reference semantics (IndexWriter.deleteDocuments(Term) ->
BufferedUpdatesStream -> PendingDeletes -> .liv bitsets;
index/IndexWriter.java:1607):

  - delete-by-term / delete-by-key writes a tombstone GENERATION file
    (deletes/gen_N.parquet, one doc_id column) and commits the manifest
    — the Iceberg delete-file analog.
  - queries filter tombstoned docs at COLLECT time (the liveDocs
    check in LeafCollector), NOT in the statistics: like Lucene,
    df/docCount/avgdl keep counting deleted docs until a merge
    physically purges them ("docFreq ignores deletions").
  - update = delete-by-key + re-add with a fresh docID (append batch),
    exactly IndexWriter.updateDocument.
  - merges purge: postings/doc-meta rows of tombstoned docs are
    dropped while rewriting, counters recomputed, and tombstones
    covered by purged segments are compacted away.

Scale: tombstones are a DataFrame (never collected); the live filter
is a broadcast-able left_anti join keyed on doc_id.
"""

from __future__ import annotations

import os
import uuid
from typing import Iterator, List, Sequence

import numpy as np
import pandas as pd

from ..codec import decode_block
from .manifest import ManifestStore, postings_path, doc_meta_path


def _delete_dir(index_dir: str) -> str:
    return os.path.join(index_dir, "deletes")


def delete_generations(index_dir: str) -> List[str]:
    d = _delete_dir(index_dir)
    if not os.path.isdir(d):
        return []
    return sorted(
        os.path.join(d, f) for f in os.listdir(d) if f.endswith(".parquet")
    )


def deleted_docs_df(spark, index_dir: str):
    """All tombstoned doc_ids as a DataFrame (empty frame if none)."""
    gens = delete_generations(index_dir)
    if not gens:
        return spark.createDataFrame([], "doc_id long")
    # pinned schema: the one column tombstones are written with, so the
    # read infers nothing (an inference is a Spark job)
    return spark.read.schema("doc_id long").parquet(*gens).select("doc_id").distinct()


def live_filter(df, deletes_df):
    """doc-level liveDocs check: anti-join on doc_id."""
    return df.join(deletes_df, "doc_id", "left_anti")


def _next_gen_path(index_dir: str) -> str:
    gens = delete_generations(index_dir)
    n = 0
    if gens:
        last = os.path.basename(gens[-1])
        n = int(last[len("gen_"):-len(".parquet")]) + 1
    os.makedirs(_delete_dir(index_dir), exist_ok=True)
    return os.path.join(_delete_dir(index_dir), f"gen_{n:06d}.parquet")


def _commit_tombstones(spark, index_dir: str, doc_ids_df, kind: str,
                       detail=None) -> int:
    """Write one tombstone generation (minus already-deleted) + manifest
    lineage. Returns the number of newly deleted docs."""
    existing = deleted_docs_df(spark, index_dir)
    fresh = doc_ids_df.select("doc_id").distinct().join(existing, "doc_id", "left_anti")
    n = fresh.count()
    if n == 0:
        return 0
    path = _next_gen_path(index_dir)
    fresh.write.mode("overwrite").parquet(path)
    store = ManifestStore(index_dir)
    manifest = store.load()
    store.commit(
        manifest,
        lineage_entry={
            "kind": "delete",
            "by": kind,
            "detail": detail,
            "n_docs": int(n),
            "gen_file": os.path.basename(path),
        },
    )
    return int(n)


def delete_by_terms(spark, index_dir: str, terms: Sequence[str],
                    field: str = None) -> int:
    """deleteDocuments(Term...): tombstone every doc whose postings
    contain any of the terms (a Lucene Term is a (field, text) pair —
    pass `field` on multi-field indexes). One pushdown-filtered scan of
    the postings blocks; doc extraction is a vectorized Arrow decode."""
    from pyspark.sql import functions as F

    from ..fields import term_key

    store = ManifestStore(index_dir)
    manifest = store.load()
    seg_dirs = [store.segment_dir(s.name) for s in manifest.segments]
    if not seg_dirs:
        return 0
    keys = [term_key(field, t) for t in terms]
    blocks = spark.read.parquet(*[postings_path(d) for d in seg_dirs])
    hits = blocks.where(F.col("term").isin(keys))

    def docs_of(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for blob in pdf["blob"]:
                d, _, _ = decode_block(bytes(blob))
                out.append(d)
            if out:
                yield pd.DataFrame({"doc_id": np.concatenate(out)})

    matched = hits.mapInPandas(docs_of, "doc_id long")
    return _commit_tombstones(spark, index_dir, matched, "term", list(keys))


def delete_by_keys(spark, index_dir: str, keys_df) -> int:
    """Delete by document key (repo, path) — the Solr uniqueKey-style
    delete; keys_df: DataFrame(repo string, path string)."""
    from pyspark.sql import functions as F

    store = ManifestStore(index_dir)
    manifest = store.load()
    seg_dirs = [store.segment_dir(s.name) for s in manifest.segments]
    if not seg_dirs:
        return 0
    meta = spark.read.parquet(*[doc_meta_path(d) for d in seg_dirs])
    matched = meta.join(F.broadcast(keys_df.select("repo", "path")), ["repo", "path"]).select("doc_id")
    return _commit_tombstones(spark, index_dir, matched, "key")


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
    # AFTER their old versions were tombstoned — silent data loss
    batch_id = f"update_{uuid.uuid4().hex[:16]}"
    manifest = build_index(
        spark, index_dir, [(batch_id, df)],
        analyzer=analyzer, norms=norms, positions=positions,
    )
    return {"n_deleted": int(n_deleted), "n_added": manifest.segments[-1].doc_count,
            "batch": batch_id}


def compact_tombstones(spark, index_dir: str) -> int:
    """Drop tombstones whose docs no longer exist in any live segment
    (post-merge cleanup). Returns remaining tombstone count."""
    store = ManifestStore(index_dir)
    manifest = store.load()
    gens = delete_generations(index_dir)
    if not gens:
        return 0
    seg_dirs = [store.segment_dir(s.name) for s in manifest.segments]
    dele = deleted_docs_df(spark, index_dir)
    if seg_dirs:
        meta = spark.read.parquet(*[doc_meta_path(d) for d in seg_dirs]).select("doc_id")
        still = dele.join(meta, "doc_id", "left_semi")
    else:
        still = dele.limit(0)
    still = still.persist()
    n = still.count()
    tmp = _next_gen_path(index_dir)
    if n:
        still.write.mode("overwrite").parquet(tmp)
    still.unpersist()
    for g in gens:
        if g != tmp:
            import shutil

            shutil.rmtree(g, ignore_errors=True)
    return int(n)
