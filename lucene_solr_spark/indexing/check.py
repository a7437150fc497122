"""CheckIndex analog: full-index integrity verification.

Reference: lucene/core/.../index/CheckIndex.java (the `java -ea
org.apache.lucene.index.CheckIndex` tool) — walks every segment and
cross-checks terms, postings, norms, stored fields and deletions
against the segment metadata. Same contract here, as Spark jobs over
the index relations:

  manifest       generation file readable, counters match data; every
                 segment in the current format (ManifestStore.load
                 raises IndexFormatError otherwise)
  doc ranges     segment doc_id ranges disjoint; ids within
                 [doc_base, doc_base + doc_span) and below next_doc_id
  doc meta       doc_count / sum_dl match manifest; no duplicate ids
  postings       block invariants (n >= 1, min_doc <= max_doc,
                 max_tf >= 1); decoded block length == n; decoded docs
                 sorted, within [min_doc, max_doc]; min norm matches
  term stats     df == sum(block n), ttf == sum(block sum_tf) per term
                 (term_stats rows summed first: one row per term per
                 writing partition)
  live docs      the live_<del_gen>.bin the manifest names exists, holds
                 ceil(doc_span/8) bytes, popcount == n_deleted (driver)

Returns a report dict; raises CheckIndexFailure when `raise_on_error`.
"""

from __future__ import annotations

import os
import struct
from typing import Iterator, List

import numpy as np
import pandas as pd

from ..codec import POS_NONE, POS_SPLIT, decode_blocks_batch
from .deletes import live_path, popcount, read_bits
from .manifest import ManifestStore, doc_meta_path, postings_path


class CheckIndexFailure(RuntimeError):
    pass


def check_index(spark, index_dir: str, decode_blocks: bool = True,
                raise_on_error: bool = True) -> dict:
    from pyspark.sql import functions as F

    store = ManifestStore(index_dir)
    manifest = store.load()
    errors: List[str] = []
    report: dict = {"generation": manifest.generation,
                    "segments": len(manifest.segments)}

    # segment doc ranges: disjoint, under the high-water mark
    spans = sorted((s.doc_base, s.name) for s in manifest.segments)
    for (b1, n1), (b2, n2) in zip(spans, spans[1:]):
        # spans may interleave (a merge of non-adjacent segments spans
        # the ids between them); ids are checked disjoint below
        if b1 == b2:
            errors.append(f"segments {n1}/{n2} share doc_base {b1}")

    seg_dirs = {s.name: store.segment_dir(s.name) for s in manifest.segments}
    total_docs = 0
    total_dl = 0
    for s in manifest.segments:
        meta = spark.read.parquet(doc_meta_path(seg_dirs[s.name]))
        row = meta.agg(
            F.count(F.lit(1)).alias("n"), F.sum("length").alias("dl"),
            F.min("doc_id").alias("lo"), F.max("doc_id").alias("hi"),
            F.count_distinct("doc_id").alias("nd"),
        ).collect()[0]
        if int(row["n"]) != s.doc_count:
            errors.append(f"{s.name}: doc_count {row['n']} != manifest {s.doc_count}")
        if int(row["dl"] or 0) != s.sum_dl:
            errors.append(f"{s.name}: sum_dl {row['dl']} != manifest {s.sum_dl}")
        if int(row["nd"]) != int(row["n"]):
            errors.append(f"{s.name}: duplicate doc_ids")
        if row["lo"] is not None and int(row["lo"]) < s.doc_base:
            errors.append(f"{s.name}: doc_id {row['lo']} below doc_base {s.doc_base}")
        if row["hi"] is not None and int(row["hi"]) >= s.doc_base + s.doc_span:
            errors.append(f"{s.name}: doc_id {row['hi']} outside doc_span {s.doc_span}")
        if row["hi"] is not None and int(row["hi"]) >= manifest.next_doc_id:
            errors.append(
                f"{s.name}: doc_id {row['hi']} >= next_doc_id {manifest.next_doc_id}")
        total_docs += int(row["n"])
        total_dl += int(row["dl"] or 0)
    report["docs"] = total_docs
    report["sum_dl"] = total_dl

    # cross-segment uniqueness of doc ids
    if len(manifest.segments) > 1:
        all_meta = spark.read.parquet(
            *[doc_meta_path(d) for d in seg_dirs.values()])
        dup = (
            all_meta.groupBy("doc_id").agg(F.count(F.lit(1)).alias("c"))
            .where(F.col("c") > 1).count()
        )
        if dup:
            errors.append(f"{dup} doc_ids shared across segments")

    # postings block invariants + stats reconciliation per segment
    n_blocks = 0
    for s in manifest.segments:
        blocks = spark.read.parquet(postings_path(seg_dirs[s.name]))
        bad = blocks.where(
            (F.col("n") < 1) | (F.col("min_doc") > F.col("max_doc"))
            | (F.col("max_tf") < 1) | (F.col("sum_tf") < F.col("n"))
        ).count()
        if bad:
            errors.append(f"{s.name}: {bad} blocks violate metadata invariants")
        n_blocks += blocks.count()

        stats = spark.read.parquet(
            f"{seg_dirs[s.name]}/term_stats.parquet").groupBy("term").agg(
            F.sum("df").alias("df"), F.sum("ttf").alias("ttf"))
        derived = blocks.groupBy("term").agg(
            F.sum("n").alias("df2"), F.sum("sum_tf").alias("ttf2"))
        mism = (
            stats.join(derived, "term", "full")
            .where(
                F.col("df").isNull() | F.col("df2").isNull()
                | (F.col("df") != F.col("df2")) | (F.col("ttf") != F.col("ttf2"))
            ).select("term").limit(11).collect()
        )
        if mism:
            errors.append(
                f"{s.name}: {'over 10' if len(mism) > 10 else len(mism)} terms "
                "with stats/postings mismatch: "
                + ", ".join(sorted(repr(r["term"]) for r in mism[:10])))

        if decode_blocks:

            def verify(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
                n_bad = 0
                n_seen = 0
                for pdf in batches:
                    n_seen += len(pdf)
                    n_bad += int((~_blocks_ok(pdf)).sum())
                yield pd.DataFrame({"n_seen": [n_seen], "n_bad": [n_bad]})

            res = (
                blocks.select("n", "min_doc", "max_doc", "min_norm", "blob", "pblob")
                .mapInPandas(verify, "n_seen long, n_bad long")
                .agg(F.sum("n_seen").alias("s"), F.sum("n_bad").alias("b"))
                .collect()[0]
            )
            if int(res["b"] or 0):
                errors.append(f"{s.name}: {res['b']} blocks fail decode verification")
    report["blocks"] = n_blocks

    # live docs: the bitset the manifest names, its size and popcount
    for s in manifest.segments:
        name = f"live_{s.del_gen}.bin"
        if s.del_gen and not os.path.exists(live_path(seg_dirs[s.name], s.del_gen)):
            errors.append(f"{s.name}: missing {name}")
            continue
        bits = read_bits(store, s)
        if len(bits) != (s.doc_span + 7) // 8:
            errors.append(f"{s.name}: {name} holds {len(bits)} bytes, "
                          f"doc_span {s.doc_span} needs {(s.doc_span + 7) // 8}")
        elif popcount(bits) != s.n_deleted:
            errors.append(f"{s.name}: {popcount(bits)} deleted docs in {name} "
                          f"!= n_deleted {s.n_deleted}")

    report["errors"] = errors
    report["clean"] = not errors
    if errors and raise_on_error:
        raise CheckIndexFailure("; ".join(errors))
    return report


def _blocks_ok(pdf: pd.DataFrame) -> np.ndarray:
    """Per block row (n, min_doc, max_doc, min_norm, blob, pblob),
    whether it decodes to n postings with ascending docs from min_doc to
    max_doc, tfs >= 1 and min_norm as the smallest norm, and whether its
    position column matches its flag: POS_SPLIT requires a pblob whose
    occurrence count equals sum(tf), POS_NONE must not carry one
    (CheckIndex's term/postings cross-check extended to the .pos
    analog). One decode_blocks_batch call decodes the batch."""
    blobs, pblobs = pdf["blob"].to_numpy(), pdf["pblob"].to_numpy()
    d, f, nb, _, off, _ = decode_blocks_batch(blobs)
    cnt = np.diff(off)
    ok = cnt == pdf["n"].to_numpy(np.int64)
    full = np.flatnonzero(cnt > 0)
    lo, hi = off[:-1][full], off[1:][full] - 1
    step = np.ones(len(d), dtype=bool)
    step[1:] = d[1:] > d[:-1]
    step[lo] = True
    ok[full] &= (
        (d[lo] == pdf["min_doc"].to_numpy(np.int64)[full])
        & (d[hi] == pdf["max_doc"].to_numpy(np.int64)[full])
        & np.logical_and.reduceat(step & (f >= 1), lo)
        & (np.minimum.reduceat(nb, lo) == pdf["min_norm"].to_numpy(np.int64)[full]))
    sum_tf = np.zeros(len(cnt), dtype=np.int64)
    sum_tf[full] = np.add.reduceat(f, lo)
    for i, (blob, pb) in enumerate(zip(blobs, pblobs)):
        if bytes(blob)[8] == POS_SPLIT and pb is not None:
            ok[i] &= struct.unpack_from("<I", bytes(pb), 1)[0] == sum_tf[i]
        else:
            ok[i] &= bytes(blob)[8] == POS_NONE and pb is None
    return ok
