"""LRU query cache: the LRUQueryCache analog.

Reference: lucene/core/.../search/LRUQueryCache.java:60 — caches the
DocIdSet of non-scoring (filter) queries, keyed by the query, with LRU
eviction; UsageTrackingQueryCachingPolicy decides what is worth
caching. Here the cached artifact is the sorted numpy array of the doc
ids a FILTER clause matches over the whole index, computed once by the
Searcher (on the driver, or by its slice job over the postings budget)
and carried inside the Weight to whichever scorer runs, the driver's or
a slice task's; keyed by the index view and the query AST's canonical
repr.

Only constant-score (FILTER-occur) doc sets are cached — scored
results depend on global stats and top-k shape, exactly why Lucene
caches DocIdSets, not Scorers.
"""

from __future__ import annotations

from collections import OrderedDict
from typing import Callable

import numpy as np


class QueryCache:
    """LRU of doc-id arrays keyed by query repr."""

    def __init__(self, max_entries: int = 32):
        self.max_entries = max_entries
        self._entries: "OrderedDict[str, np.ndarray]" = OrderedDict()
        self.hits = 0
        self.misses = 0

    def get_or_eval(self, query, eval_fn: Callable[[], np.ndarray],
                    scope: str = "") -> np.ndarray:
        """Return the cached doc ids of `query` within `scope`, computing
        them with eval_fn on a miss (and evicting the least-recently-used
        entry past capacity). `scope` identifies the index VIEW the doc
        set came from (index dir + manifest generation — LRUQueryCache
        keys per leaf reader for the same reason): without it, a cache
        shared across readers or across index generations would serve
        stale or foreign doc sets."""
        key = f"{scope}\x00{query!r}"
        ids = self._entries.get(key)
        if ids is not None:
            self.hits += 1
            self._entries.move_to_end(key)
            return ids
        self.misses += 1
        ids = self._entries[key] = eval_fn()
        while len(self._entries) > self.max_entries:
            self._entries.popitem(last=False)
        return ids

    def clear(self) -> None:
        self._entries.clear()
