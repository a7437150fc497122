"""Background merge scheduling — the ConcurrentMergeScheduler analog.

Reference semantics (index/ConcurrentMergeScheduler.java:65-70): merges
selected by the merge policy run on background threads CONCURRENTLY
with continued indexing; each merge claims its input segments so two
merges never share an input; the commit point is serialized.

Spark-first mechanism: merge "threads" are driver threads that run a
small merge themselves (merge.merge_plan) and submit a big one's
independent Spark jobs (the cluster interleaves their stages with the
build's — that IS the merge/indexing overlap; Spark's scheduler plays
the role of Lucene's IO-throttled merge threads). Safety comes from
three pieces:
  - segment dirs are immutable once committed, so the merge's data
    phase (merge._merge_data) needs no coordination at all;
  - in-flight input claims (this module) keep concurrent merges
    disjoint, like ConcurrentMergeScheduler's registered OneMerges;
  - the manifest swap takes the per-index commit lock, reloads the
    LIVE manifest and re-validates inputs (merge.run_merge_concurrent),
    so a build commit that landed mid-merge is never clobbered.
"""

from __future__ import annotations

import threading
from concurrent.futures import Future, ThreadPoolExecutor
from typing import List, Optional

from .manifest import Manifest, ManifestStore, commit_lock
from .merge import find_merges, run_merge_concurrent


class ConcurrentMergeScheduler:
    """Drive with: build a batch -> maybe_merge() -> repeat; close()
    drains in-flight merges and runs the policy to quiescence."""

    def __init__(self, spark, index_dir: str, max_threads: int = 2):
        self.spark = spark
        self.index_dir = index_dir
        self.store = ManifestStore(index_dir)
        self._pool = ThreadPoolExecutor(
            max_workers=max_threads, thread_name_prefix="merge")
        self._claims: set = set()
        self._claims_lock = threading.Lock()
        self._futures: List[Future] = []

    def maybe_merge(self) -> int:
        """Run the tiered policy over the UNCLAIMED live segments and
        submit every merge it selects; returns the number submitted.
        Non-blocking: the data work happens on pool threads."""
        submitted = 0
        while True:
            with commit_lock(self.index_dir):
                manifest = self.store.load()
            with self._claims_lock:
                avail = [s for s in manifest.segments
                         if s.name not in self._claims]
                cand = find_merges(avail)
                if not cand:
                    return submitted
                self._claims.update(s.name for s in cand)
            self._futures.append(self._pool.submit(self._run_one, cand))
            submitted += 1

    def _run_one(self, inputs) -> Optional[Manifest]:
        try:
            return run_merge_concurrent(self.spark, self.store, inputs)
        finally:
            with self._claims_lock:
                self._claims.difference_update(s.name for s in inputs)

    def sync(self) -> None:
        """Wait for every in-flight merge (CMS.sync()); re-raises the
        first merge failure."""
        for f in list(self._futures):
            f.result()
        self._futures = [f for f in self._futures if not f.done()]

    def close(self, run_to_quiescence: bool = True) -> Manifest:
        """Drain; optionally keep applying the policy until it selects
        nothing (the IndexWriter.close() full-merge-drain analog)."""
        self.sync()
        if run_to_quiescence:
            while self.maybe_merge():
                self.sync()
        self._pool.shutdown(wait=True)
        with commit_lock(self.index_dir):
            return self.store.load()
