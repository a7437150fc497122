"""Scalable dense docID assignment.

Canonical docID order is ORDER BY (repo, path) — load-bearing for
score tie-breaks (HitQueue.java:76-81; SURVEY §1.2: Lucene docIDs are
dense ints in insertion order). A single-partition window would
serialize the whole corpus through one task; instead:

  repartitionByRange(order) -> sortWithinPartitions(order)
  -> count rows per partition (one cheap job over the cached frame)
  -> broadcast prefix-sum offsets -> mapInPandas adds offset + arange.

Global ids are deterministic regardless of where the range partitioner
draws its boundaries, because the frame is globally sorted.
"""

from __future__ import annotations

import json
from typing import Iterator, List

import pandas as pd


def assign_doc_ids(df, order_cols: List[str], base: int = 0,
                   num_partitions: int | None = None,
                   assume_sorted: bool = False):
    """assume_sorted=True: zero-shuffle fast path for sources already
    globally sorted by order_cols (an Iceberg table with a matching
    sort order, or our generator's output). One column-pruned pass
    collects per-partition (first, last, count); the driver orders
    partitions BY KEY (split planning may reorder them), verifies the
    ranges are disjoint and internally sorted, and broadcasts prefix
    sums. The id-assign pass re-verifies each partition's
    (first, last, count) against the expectation and fails loudly on
    any planning drift. Falls back to the range-shuffle path when the
    source isn't sorted."""
    from pyspark import TaskContext
    from pyspark.sql import functions as F
    from pyspark.storagelevel import StorageLevel

    if assume_sorted:
        fast = _assign_sorted(df, order_cols, base)
        if fast is not None:
            return fast

    spark = df.sparkSession
    parts = num_partitions or spark.sparkContext.defaultParallelism
    sorted_df = df.repartitionByRange(parts, *[F.col(c) for c in order_cols]).sortWithinPartitions(
        *order_cols
    ).persist(StorageLevel.MEMORY_AND_DISK)

    counts = (
        sorted_df.groupBy(F.spark_partition_id().alias("pid"))
        .count()
        .collect()
    )
    by_pid = {r["pid"]: r["count"] for r in counts}
    # size offsets by the PHYSICAL partition count: trailing empty
    # partitions (tiny batches after a range repartition) still run the
    # id-assign task and must find their offset entry
    n_parts = max(sorted_df.rdd.getNumPartitions(),
                  max(by_pid.keys(), default=-1) + 1)
    offsets = []
    acc = base
    for pid in range(n_parts):
        offsets.append(acc)
        acc += by_pid.get(pid, 0)
    b_offsets = spark.sparkContext.broadcast(offsets)

    schema = f"doc_id long, {', '.join(f'{f.name} {f.dataType.simpleString()}' for f in df.schema.fields)}"

    def add_ids(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        ctx = TaskContext.get()
        off = b_offsets.value[ctx.partitionId()] if ctx else base
        for pdf in batches:
            ids = range(off, off + len(pdf))
            off += len(pdf)
            out = pdf.copy()
            out.insert(0, "doc_id", list(ids))
            yield out

    return sorted_df.mapInPandas(add_ids, schema=schema), sorted_df


def _partition_key_stats(df, order_cols: List[str]):
    """One column-pruned job: per-partition (pid, first, last, count,
    sorted_ok). Keys are tuples of order_cols values."""
    from pyspark import TaskContext

    keys = df.select(*order_cols)

    def stats(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        ctx = TaskContext.get()
        pid = ctx.partitionId() if ctx else 0
        first = last = None
        count = 0
        ok = True
        for pdf in batches:
            if not len(pdf):
                continue
            tup = list(map(tuple, pdf[order_cols].itertuples(index=False, name=None)))
            if any(tup[i] > tup[i + 1] for i in range(len(tup) - 1)):
                ok = False
            if first is None:
                first = tup[0]
            elif last is not None and last > tup[0]:
                ok = False
            last = tup[-1]
            count += len(pdf)
        yield pd.DataFrame(
            {
                "pid": [pid],
                "first": [json.dumps(first)],
                "last": [json.dumps(last)],
                "count": [count],
                "ok": [ok],
            }
        )

    return keys.mapInPandas(
        stats, schema="pid int, first string, last string, count long, ok boolean"
    ).collect()


def _assign_sorted(df, order_cols: List[str], base: int):
    """Sorted-source docID fast path; returns None if verification
    shows the source isn't globally sorted by order_cols."""
    from pyspark import TaskContext

    rows = _partition_key_stats(df, order_cols)
    parts = [r for r in rows if r["count"] > 0]
    if not all(r["ok"] for r in parts):
        return None
    parts.sort(key=lambda r: json.loads(r["first"]))
    for a, b in zip(parts, parts[1:]):
        if json.loads(a["last"]) >= json.loads(b["first"]):
            return None  # overlapping ranges: not globally sorted
    offsets = {}
    expect = {}
    acc = base
    for r in parts:
        offsets[int(r["pid"])] = acc
        expect[int(r["pid"])] = (r["first"], r["last"], int(r["count"]))
        acc += int(r["count"])

    spark = df.sparkSession
    b_off = spark.sparkContext.broadcast(offsets)
    b_exp = spark.sparkContext.broadcast(expect)
    schema = f"doc_id long, {', '.join(f'{f.name} {f.dataType.simpleString()}' for f in df.schema.fields)}"
    cols = list(order_cols)

    def add_ids(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        ctx = TaskContext.get()
        pid = ctx.partitionId() if ctx else 0
        off = b_off.value.get(pid)
        exp = b_exp.value.get(pid)
        seen = 0
        first = last = None
        for pdf in batches:
            if len(pdf):
                tup = list(map(tuple, pdf[cols].itertuples(index=False, name=None)))
                if first is None:
                    first = tup[0]
                last = tup[-1]
            out = pdf.copy()
            start = (off or 0) + seen
            out.insert(0, "doc_id", range(start, start + len(pdf)))
            seen += len(pdf)
            yield out
        if exp is None:
            if seen:
                raise RuntimeError(f"docid fast path: unexpected rows in pid {pid}")
        elif (json.dumps(first), json.dumps(last), seen) != exp:
            raise RuntimeError(
                f"docid fast path: partition {pid} drifted between jobs: "
                f"{(repr(first), repr(last), seen)} != {exp}"
            )

    return df.mapInPandas(add_ids, schema=schema), df


def id_key(ids):
    """Order-preserving string key of a long id Column: id + 2**63 as
    20 decimal digits, so keys sort as the ids do (negatives too)."""
    from pyspark.sql import functions as F

    return F.lpad((ids.cast("decimal(20,0)") + F.expr("9223372036854775808BD"))
                  .cast("string"), 20, "0")


def id_of_key(key):
    """The long id an id_key string Column encodes."""
    from pyspark.sql import functions as F

    return (key.cast("decimal(20,0)") - F.expr("9223372036854775808BD")).cast("long")


def keys_are_dense(keys) -> bool:
    """Whether distinct id_key strings (a pyarrow array, one per doc)
    encode exactly the ids 0..len(keys)-1."""
    import pyarrow.compute as pc

    lo, hi = (int(v.as_py()) - 2**63 for v in pc.min_max(keys).values())
    return (lo, hi) == (0, len(keys) - 1)


def keyed_corpus(df, text_col: str = "text", id_col: str = "doc_id"):
    """The build_index corpus of an (id, text) frame. The id rides
    `path` as id_key, so the build's (repo, path) doc order is the id
    order and an engine doc id is the rank of the frame's id; `lang` is
    kept when df has it (index sorts and keyword fields read it)."""
    from pyspark.sql import functions as F

    lang = F.col("lang") if "lang" in df.columns else F.lit("")
    return df.select(F.lit("docs").alias("repo"), id_key(F.col(id_col)).alias("path"),
                     F.lit("c0").alias("commit"), lang.alias("lang"),
                     F.col(text_col).alias("content"))
