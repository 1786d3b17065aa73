"""Cover planner: conservativeness + tightness properties (numpy-level,
fast), the span budget and SQL helpers, and bbox_query's exactness under
any range budget. The other Spark-level bbox query tests live in
test_queries.py."""

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from linear_quadtree_spark.config import DEFAULT_BOUNDS
from linear_quadtree_spark.functions.encode import zorder_encode_np, zs_from_zkey
from linear_quadtree_spark.intervals import cap_spans, spans_sql
from linear_quadtree_spark.plans.cover import cover_rect

pytestmark = pytest.mark.filterwarnings("error::DeprecationWarning")

#: the three fixed rects of the ``bbox_x3`` query
BBOX_X3 = (
    (1020.0, 1045.0, 1030.0, 1070.0),
    (1005.5, 1006.5, 1095.0, 1099.0),
    (1049.0, 1051.0, 1049.0, 1051.0),
)


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
    max_ranges=st.integers(1, 32),
)
def test_cover_is_conservative(cx, cy, w, h, level, max_ranges):
    x0, x1 = cx, min(1100.0, cx + w)
    y0, y1 = cy, min(1100.0, cy + h)
    ranges = cover_rect(x0, x1, y0, y1, DEFAULT_BOUNDS, max_level=level, max_ranges=max_ranges)
    assert len(ranges) <= max_ranges
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


def test_cap_spans_closes_smallest_gap_first():
    spans = [(0, 1), (10, 11), (13, 14), (30, 31)]
    assert cap_spans(spans, 3) == [(0, 1), (10, 14), (30, 31)]
    assert cap_spans(spans, 2) == [(0, 14), (30, 31)]
    assert cap_spans(spans, 1) == [(0, 31)]


def test_cap_spans_is_a_superset():
    rng = np.random.default_rng(3)
    bounds = np.sort(rng.choice(10_000, 80, replace=False)).reshape(-1, 2)
    spans = [(int(lo), int(hi)) for lo, hi in bounds]
    for budget in (1, 5, 17, 39):
        capped = cap_spans(spans, budget)
        assert len(capped) == budget
        assert capped == sorted(capped)
        for lo, hi in spans:
            assert any(clo <= lo and hi <= chi for clo, chi in capped)


def test_cap_spans_within_budget_unchanged():
    spans = [(-5, -1), (3, 3), (8, 9)]
    assert cap_spans(spans, 3) == spans
    assert cap_spans(spans, 16) == spans
    assert cap_spans([], 1) == []


def test_cap_spans_rejects_zero_budget():
    with pytest.raises(ValueError):
        cap_spans([(1, 2)], 0)


def test_spans_sql():
    assert spans_sql("zs", []) == "FALSE"
    assert spans_sql("zs", [(-3, -1), (4, 9)]) == (
        "(zs BETWEEN -3 AND -1) OR (zs BETWEEN 4 AND 9)"
    )


@pytest.fixture(scope="module")
def cover_tbl(spark):
    import pandas as pd

    from linear_quadtree_spark.operators.build import LQTTable

    pdf = pd.DataFrame({"key": np.arange(len(X), dtype=np.int64), "x": X, "y": Y})
    tbl = LQTTable.build(spark.createDataFrame(pdf), DEFAULT_BOUNDS, tiebreaker="key")
    yield tbl
    tbl.main.unpersist()
    tbl.side.unpersist()


@pytest.mark.parametrize("max_ranges", [1, 16, 1 << 30], ids=["1", "16", "unbounded"])
def test_bbox_query_exact_under_any_budget(cover_tbl, max_ranges, monkeypatch):
    """The budget only widens the candidate scan; the closed-rect refine
    decides every row, so each budget returns the numpy mask's rows."""
    from functools import partial

    from linear_quadtree_spark.operators.spatial import bbox_query

    monkeypatch.setattr(cover_tbl, "cover", partial(cover_tbl.cover, max_ranges=max_ranges))
    px, py = X.astype(np.float64), Y.astype(np.float64)
    for rect in BBOX_X3:
        x0, x1, y0, y1 = rect
        got = sorted(r.key for r in bbox_query(cover_tbl, *rect).select("key").collect())
        exp = np.flatnonzero((px >= x0) & (px <= x1) & (py >= y0) & (py <= y1)).tolist()
        assert got == exp
    # the unbounded cover of the first rect is long enough for the cap to bind
    assert len(cover_rect(*BBOX_X3[0], DEFAULT_BOUNDS, max_ranges=1 << 30)) > 16


def test_merge_spans():
    from linear_quadtree_spark.intervals import merge_spans

    assert merge_spans([]) == []
    assert merge_spans([(5, 6), (1, 2), (3, 4)]) == [(1, 6)]
    assert merge_spans([(5, 6), (1, 2), (3, 3)]) == [(1, 3), (5, 6)]
    assert merge_spans([(1, 2), (4, 5)]) == [(1, 2), (4, 5)]
    assert merge_spans([(1, 10), (2, 3), (12, 12)]) == [(1, 10), (12, 12)]


def test_empty_rect():
    assert cover_rect(10, 5, 0, 1, DEFAULT_BOUNDS) == []
