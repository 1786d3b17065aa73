"""The ONE integer interval-merge used across the engine.

Closed [lo, hi] spans coalesce when they overlap OR are adjacent
(lo <= prev_hi + 1) — the adjacency rule lives here only. Consumers:
the z-order cover planner (`plans.cover.merge_ranges`, via ZRange),
the real-S2 cap and region covers (`functions.s2real`) and the
cap-query multi-site union, and the quadrant-run directory pruning in
`operators.build.LQTTable.quad_runs_for_ranges`.
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
