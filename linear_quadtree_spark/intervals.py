"""The ONE integer interval-merge used across the engine.

Closed [lo, hi] spans coalesce when they overlap OR are adjacent
(lo <= prev_hi + 1) — the adjacency rule lives here only. Consumers:
the z-order cover planner (`plans.cover.cover_rect`),
the real-S2 cap and region covers (`functions.s2real`) and the
cap-query multi-site union, and the quadrant-run directory pruning in
`operators.build.LQTTable.quad_runs_for_ranges`.
`cap_spans` bounds a merged span list to a budget (the z-order and
Hilbert covers); `spans_sql` compiles a span list into one SQL predicate,
and every OR-of-BETWEEN filter in the engine goes through it.
A layering-neutral leaf module: imports nothing from the package.
"""

from __future__ import annotations

from typing import Iterable


def merge_spans(spans: Iterable[tuple[int, int]]) -> list[tuple[int, int]]:
    """Merge closed [lo, hi] integer spans: overlapping or adjacent
    (lo <= prev_hi + 1) spans coalesce. Output sorted by lo."""
    out: list[tuple[int, int]] = []
    for lo, hi in sorted(spans):
        if out and lo <= out[-1][1] + 1:
            out[-1] = (out[-1][0], max(out[-1][1], hi))
        else:
            out.append((lo, hi))
    return out


def cap_spans(spans: list[tuple[int, int]], max_spans: int) -> list[tuple[int, int]]:
    """Bound merged, sorted closed spans to at most ``max_spans`` by
    closing the smallest gaps first (ties: the leftmost gap), which adds
    the fewest keys. The result is a superset of the input, so a
    conservative cover stays conservative; input already within budget
    is returned unchanged."""
    if max_spans < 1:
        raise ValueError(f"max_spans must be >= 1, got {max_spans}")
    spans = list(spans)
    excess = len(spans) - max_spans
    if excess <= 0:
        return spans
    gaps = sorted(range(len(spans) - 1), key=lambda i: (spans[i + 1][0] - spans[i][1], i))
    closed = set(gaps[:excess])
    out = [spans[0]]
    for i, (lo, hi) in enumerate(spans[1:]):
        if i in closed:
            out[-1] = (out[-1][0], hi)
        else:
            out.append((lo, hi))
    return out


def spans_sql(col: str, spans: Iterable[tuple[int, int]]) -> str:
    """One SQL predicate ``(col BETWEEN lo AND hi) OR ...`` over closed
    spans, or ``FALSE`` for none. Plain comparisons on the scan column,
    so parquet min/max statistics prune on a sorted layout; one
    ``F.expr`` of this text replaces a chain of per-span Column ops."""
    return " OR ".join(f"({col} BETWEEN {lo} AND {hi})" for lo, hi in spans) or "FALSE"
