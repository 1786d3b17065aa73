"""Library-level query *planning*: rectangle → bounded zkey interval set.

This is the only "optimizer" we hand-write (SURVEY §4): it emits ordinary
range predicates that Catalyst then pushes into the parquet scan, where the
zs-sorted layout turns them into row-group / partition pruning.

Correctness contract (see functions/encode.py): the planner walks the SAME
float32 box-descent grid as the encode kernel, so for every point with
``zlvl >= max_level`` whose (x, y) lies in the query rect (closed), the
point's zkey falls inside one of the returned ranges. Points with
``zlvl < max_level`` must be scanned separately (0.87% of uniform rows at
the store split level, see functions/encode.py; the build stores them as a
dedicated side relation).

Range budget: ``max_ranges`` bounds the number of ranges RETURNED (default
``config.MAX_COVER_RANGES`` = 16). The walk itself stops at a fixed cell budget that only bounds driver
work; the merged cover is then capped by closing its smallest key gaps
(`intervals.cap_spans`), which only adds candidates. Why 16: every range
is one BETWEEN that Spark must parse, optimize and code-generate per query,
while the scan prunes whole cached batches or parquet row groups and cannot
use finer precision. Over 23 seeded rects an unbounded cover (up to 92
ranges) admitted 1.04x the true hits as candidates, 16 ranges 1.27x and 8
ranges 1.48x; query CPU was the same at 8 and 16, so 16 keeps the tighter
cover for free. S2RegionCoverer caps ``max_cells`` for the same reason.

Quadrant ranges: a depth-d cell with prefix p owns exactly the uint64 keys
[p << 2(32-d), (p+1) << 2(32-d)) — SURVEY §2.9. We return *closed* ranges
in sign-flipped (zs) space so they compose directly into
``zs BETWEEN lo AND hi`` predicates (signed order == unsigned order after
the flip, SURVEY §1.2).
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np

from linear_quadtree_spark.config import DEPTH, MAX_COVER_RANGES, MAX_SAFE_LEVEL, SIGN_BIT, Bounds
from linear_quadtree_spark.intervals import cap_spans, merge_spans, spans_sql

__all__ = ["ZRange", "cover_rect", "ranges_to_predicate"]

_I64 = (1 << 64) - 1
#: cells the breadth-first walk may hold before it stops refining; bounds
#: driver work only (the returned ranges are capped by ``max_ranges``)
_WALK_CELLS = 256


def _flip(u: int) -> int:
    """uint64 → signed int64 with the sign bit flipped (order-preserving)."""
    v = u ^ SIGN_BIT
    return v - (1 << 64) if v >= (1 << 63) else v


@dataclass(frozen=True)
class ZRange:
    """Closed zs range [lo, hi] (sign-flipped int64 space)."""

    lo: int
    hi: int


def cover_rect(
    x0: float,
    x1: float,
    y0: float,
    y1: float,
    bounds: Bounds,
    max_level: int = 10,
    max_ranges: int = MAX_COVER_RANGES,
) -> list[ZRange]:
    """Decompose the closed rect [x0,x1]×[y0,y1] into at most
    ``max_ranges`` zs ranges.

    Walks the float32 descent grid (identical arithmetic to the encode
    kernel's box snap for non-degenerate points: child boundaries are
    ``fl32(start + fl32((end-start)/2))``). A cell is owned closed-on-the-
    low-side (strict ``>`` emits the low bit), but we intersect with cell
    *closures* so boundary ambiguity can only add candidates, never drop
    them. Subdivision stops at ``max_level`` (must be ≤ MAX_SAFE_LEVEL,
    the zlvl guarantee horizon) or when the walk's cell budget is
    exhausted; the merged ranges are then capped to ``max_ranges`` by
    closing the smallest gaps. All three only coarsen the cover, which
    stays conservative.
    """
    if max_level > MAX_SAFE_LEVEL:
        raise ValueError(f"max_level must be <= {MAX_SAFE_LEVEL}")
    if x1 < x0 or y1 < y0:
        return []
    f32 = np.float32
    two = f32(2.0)
    qx0, qx1, qy0, qy1 = float(x0), float(x1), float(y0), float(y1)

    out: list[tuple[int, int]] = []

    def emit(prefix: int, level: int) -> None:
        shift = 2 * (DEPTH - level)
        lo = (prefix << shift) & _I64
        hi = (((prefix + 1) << shift) - 1) & _I64
        out.append((_flip(lo), _flip(hi)))

    # Breadth-first by level so the walk budget degrades gracefully: when
    # subdividing further would blow it, the remaining partials are
    # emitted at a UNIFORM level (a slightly coarser, still conservative
    # cover) — never a near-root cell.
    partial = [
        (0, f32(bounds.xstart), f32(bounds.xend), f32(bounds.ystart), f32(bounds.yend))
    ]
    for level in range(max_level):
        nxt: list[tuple] = []
        for prefix, cxs, cxe, cys, cye in partial:
            nw = (cxe - cxs) / two
            nh = (cye - cys) / two
            midx = cxs + nw
            midy = cys + nh
            xiv = ((cxs, midx), (midx, midx + nw))
            yiv = ((cys, midy), (midy, midy + nh))
            for by in (0, 1):
                ylo, yhi = yiv[by]
                if yhi < qy0 or ylo > qy1:
                    continue
                for bx in (0, 1):
                    xlo, xhi = xiv[bx]
                    if xhi < qx0 or xlo > qx1:
                        continue
                    child = (prefix << 2) | (by << 1) | bx
                    # closed-cell containment in the closed rect
                    if xlo >= qx0 and xhi <= qx1 and ylo >= qy0 and yhi <= qy1:
                        emit(child, level + 1)
                    else:
                        nxt.append((child, xlo, xhi, ylo, yhi))
        if len(out) + len(nxt) > _WALK_CELLS:
            # budget: emit the boundary cells at this level instead of
            # splitting further (uniformly coarser, still conservative)
            for prefix, cxs, cxe, cys, cye in nxt:
                emit(prefix, level + 1)
            nxt = []
        partial = nxt
        if not partial:
            break
    for prefix, cxs, cxe, cys, cye in partial:
        emit(prefix, max_level)

    return [ZRange(lo, hi) for lo, hi in cap_spans(merge_spans(out), max_ranges)]


def ranges_to_predicate(ranges: list[ZRange], zs_col="zs"):
    """Compile ranges into a single Catalyst predicate on the zs column
    (a name or a plain column reference): ONE ``F.expr`` of
    `intervals.spans_sql` text, not a chain of per-range Column ops."""
    from pyspark.sql import Column, functions as F

    if isinstance(zs_col, Column):
        # Column<'zs'> → zs; a column reference is all the OR-of-BETWEEN needs
        zs_col = repr(zs_col)[len("Column<'"):-len("'>")]
    return F.expr(spans_sql(zs_col, ((r.lo, r.hi) for r in ranges)))
