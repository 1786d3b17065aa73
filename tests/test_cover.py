"""Cover planner: conservativeness + tightness properties (numpy-level,
fast). The Spark-level bbox query tests live in test_queries.py."""

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from linear_quadtree_spark.config import DEFAULT_BOUNDS
from linear_quadtree_spark.functions.encode import zorder_encode_np, zs_from_zkey
from linear_quadtree_spark.plans.cover import ZRange, cover_rect, merge_ranges


def _points():
    rng = np.random.default_rng(7)
    x = (1000 + 100 * rng.random(20000)).astype(np.float32)
    y = (1000 + 100 * rng.random(20000)).astype(np.float32)
    bv = np.array(
        [np.float32(1000.0 + k * 100.0 / 2**l) for l in range(1, 9) for k in range(2**l + 1)],
        np.float32,
    )
    x = np.concatenate([x, rng.choice(bv, 1000), rng.choice(bv, 1000)])
    y = np.concatenate(
        [y, (1000 + 100 * rng.random(1000)).astype(np.float32), rng.choice(bv, 1000)]
    )
    zkey, zlvl = zorder_encode_np(x, y, DEFAULT_BOUNDS)
    return x, y, zkey, zlvl, zs_from_zkey(zkey)


X, Y, ZKEY, ZLVL, ZS = _points()


@settings(max_examples=60, deadline=None)
@given(
    cx=st.floats(1000, 1100),
    cy=st.floats(1000, 1100),
    w=st.floats(0.001, 100),
    h=st.floats(0.001, 100),
    level=st.integers(2, 12),
)
def test_cover_is_conservative(cx, cy, w, h, level):
    x0, x1 = cx, min(1100.0, cx + w)
    y0, y1 = cy, min(1100.0, cy + h)
    ranges = cover_rect(x0, x1, y0, y1, DEFAULT_BOUNDS, max_level=level)
    inrect = (X >= x0) & (X <= x1) & (Y >= y0) & (Y <= y1) & (ZLVL >= level)
    covered = np.zeros(len(X), bool)
    for r in ranges:
        covered |= (ZS >= r.lo) & (ZS <= r.hi)
    assert not (inrect & ~covered).any()


def test_full_space_cover_is_one_range():
    ranges = cover_rect(1000, 1100, 1000, 1100, DEFAULT_BOUNDS, max_level=10)
    assert len(ranges) == 1
    assert ranges[0].lo == -(1 << 63)
    assert ranges[0].hi == (1 << 63) - 1


def test_cover_budget_respected():
    ranges = cover_rect(1000.001, 1099.999, 1049.9, 1050.1, DEFAULT_BOUNDS, max_level=12, max_ranges=64)
    assert len(ranges) <= 64


def test_merge_ranges():
    rs = [ZRange(0, 4), ZRange(5, 9), ZRange(20, 30), ZRange(25, 27)]
    assert merge_ranges(rs) == [ZRange(0, 9), ZRange(20, 30)]


def test_merge_spans():
    from linear_quadtree_spark.intervals import merge_spans

    assert merge_spans([]) == []
    assert merge_spans([(5, 6), (1, 2), (3, 4)]) == [(1, 6)]
    assert merge_spans([(5, 6), (1, 2), (3, 3)]) == [(1, 3), (5, 6)]
    assert merge_spans([(1, 2), (4, 5)]) == [(1, 2), (4, 5)]
    assert merge_spans([(1, 10), (2, 3), (12, 12)]) == [(1, 10), (12, 12)]


def test_empty_rect():
    assert cover_rect(10, 5, 0, 1, DEFAULT_BOUNDS) == []


def test_cover_cells_never_returns_level_zero():
    """Coarsening floor is level 1 (four quads): at level 0 the
    documented equi-join shift 64-2L is 64, which the JVM masks to 0 —
    'prefix 0' would match only zkey == 0 (regression)."""
    from linear_quadtree_spark.config import DEFAULT_BOUNDS
    from linear_quadtree_spark.plans.cover import cover_cells

    lvl, cells = cover_cells(
        DEFAULT_BOUNDS.xstart,
        DEFAULT_BOUNDS.xend,
        DEFAULT_BOUNDS.ystart,
        DEFAULT_BOUNDS.yend,
        DEFAULT_BOUNDS,
        level=10,
        max_cells=2,
    )
    assert lvl == 1 and cells == [0, 1, 2, 3]
