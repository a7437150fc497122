"""Span / sloppy-phrase proximity matching over per-doc position arrays.

The matcher both query paths share (live fulltext.py and the segment
executor): gather each query term's positions per doc into arrays (ONE
shuffle, Searcher._gather_positions), then evaluate the proximity weight
with a nested Catalyst higher-order-function expression that runs
inside WholeStageCodegen — no join explosion, no Python.

Semantics = tuple enumeration (every combination of one position per
term is a candidate match, weighted 1/(width+1) — the SloppyPhraseMatcher
weight, BM25Similarity.sloppyFreq:77-79), identical to the former
n-1 positional self-joins and to the SQL oracles. The win is the
evaluation strategy, not the semantics: the former plan MATERIALIZED
every tuple as a shuffled row (a 3-term span with a 100-occurrence
term built 10^6 rows per doc before the slop filter); this expression
enumerates lazily inside the JVM with the window bound applied at
every nesting level, so each outer position scans only the O(slop+n)
candidates that can still satisfy the width bound — the analog of
Lucene's minimal-interval advance (spans/NearSpansOrdered.java:55),
reached through Catalyst array functions instead of custom iterators.

Cost: O(|P_0| * sum_i |P_i|) array-filter scans per doc worst case
(each filter scans its array), with ZERO row materialization; the
per-tuple work only exists for tuples inside the slop window. At
100 TB this is the difference between a per-doc constant and a
super-linear row blowup on repeated frequent terms.
"""

from __future__ import annotations

from typing import List, Sequence

from pyspark.sql import Column, functions as F


def near_weight(arrs: Sequence[Column], slop: int, *, ordered: bool,
                width_offset: int) -> Column:
    """Summed proximity weight over all position tuples.

    arrs: one array<long> Column per query slot (already slot-shifted
    for sloppy phrases: q_i = p_i - i). A tuple (x_0..x_{n-1}) with one
    element per array matches when width <= slop, where
      width = (max - min) + width_offset       (unordered)
      width = (x_{n-1} - x_0) + width_offset   (ordered chains
              x_0 < x_1 < ... < x_{n-1}; last-first IS max-min)
    and contributes 1.0/(width + 1) (SloppyPhraseMatcher weight).

    width_offset: 1 - n for SpanNearQuery (width = total gap between
    n unit-width sub-spans); 0 for slot-adjusted sloppy phrases.

    Nesting bound: every level filters to |x - x_0| <= slop -
    width_offset (a NECESSARY condition for the final width check), so
    inner scans touch only the slop window around the anchor.
    """
    n = len(arrs)
    bound = slop - width_offset  # max allowed (max - min)

    if n == 1:
        # single-slot span: width 0, weight 1 per occurrence
        return F.size(arrs[0]).cast("double")

    def build(i: int, x0: Column, prev: Column, xs: List[Column]) -> Column:
        if i == n:
            if ordered:
                width = (prev - x0).cast("double") + F.lit(float(width_offset))
                return F.lit(1.0) / (width + F.lit(1.0))
            width = (
                F.greatest(*xs) - F.least(*xs)
            ).cast("double") + F.lit(float(width_offset))
            return F.when(
                width <= F.lit(float(slop)),
                F.lit(1.0) / (width + F.lit(1.0)),
            ).otherwise(F.lit(0.0))
        if ordered:
            pred = lambda x: (x > prev) & (x <= x0 + F.lit(bound))  # noqa: E731
        else:
            pred = lambda x: (  # noqa: E731
                (x >= x0 - F.lit(bound)) & (x <= x0 + F.lit(bound))
            )
        return F.aggregate(
            F.filter(arrs[i], pred),
            F.lit(0.0),
            lambda acc, x: acc + build(i + 1, x0, x, xs + [x]),
        )

    return F.aggregate(
        arrs[0],
        F.lit(0.0),
        lambda acc, x0: acc + build(1, x0, x0, [x0]),
    )


def span_not_count(include: Column, exclude: Column, pre: int,
                   post: int) -> Column:
    """SpanNotQuery occurrence count (spans/SpanNotQuery.java:44): the
    include positions with NO exclude position in [p - pre, p + post]."""
    return F.size(
        F.filter(
            include,
            lambda p: ~F.exists(
                exclude,
                lambda q: (q >= p - F.lit(pre)) & (q <= p + F.lit(post)),
            ),
        )
    ).cast("double")


def span_first_count(positions: Column, end: int) -> Column:
    """SpanFirstQuery occurrence count: spans ending at or before
    `end` (1-based positions: a term span at p has end() == p)."""
    return F.size(F.filter(positions, lambda p: p <= F.lit(end))).cast("double")


def containing_weight(big1: Column, big2: Column, little: Column,
                      slop: int) -> Column:
    """SpanContainingQuery weight: ordered near-pairs (s from big1,
    e from big2, e > s, gap e-s-1 <= slop) that contain a little
    position, each weighted 1/(gap+1)."""
    return F.aggregate(
        big1,
        F.lit(0.0),
        lambda acc, s: acc + F.aggregate(
            F.filter(big2, lambda e: (e > s) & (e - s - F.lit(1) <= F.lit(slop))),
            F.lit(0.0),
            lambda a2, e: a2 + F.when(
                F.exists(little, lambda p: (p >= s) & (p <= e)),
                F.lit(1.0) / ((e - s - F.lit(1)).cast("double") + F.lit(1.0)),
            ).otherwise(F.lit(0.0)),
        ),
    )


def within_count(little: Column, big1: Column, big2: Column,
                 slop: int) -> Column:
    """SpanWithinQuery count: little positions lying inside some
    ordered near(big1, big2, slop) span."""
    return F.size(
        F.filter(
            little,
            lambda p: F.exists(
                big1,
                lambda s: (s <= p) & F.exists(
                    big2,
                    lambda e: (e >= p) & (e > s)
                    & (e - s - F.lit(1) <= F.lit(slop)),
                ),
            ),
        )
    ).cast("double")
