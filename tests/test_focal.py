"""focal_smooth vs a Python brute-force neighborhood computation over
the (independently verified) per-tile counts."""

import pytest

from linear_quadtree_spark import DEFAULT_BOUNDS
from linear_quadtree_spark.functions.geotag import geotag_x, geotag_y
from linear_quadtree_spark.operators import LQTTable
from linear_quadtree_spark.operators.spatial import focal_smooth, tile_stats

pytestmark = pytest.mark.filterwarnings("error::DeprecationWarning")

ZOOM = 3


def _table(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    pts = docs.select(
        "doc_id", geotag_x("doc_id").alias("x"), geotag_y("doc_id").alias("y")
    )
    return LQTTable.build(pts, DEFAULT_BOUNDS, tiebreaker="doc_id")


def test_focal_smooth_matches_bruteforce(spark, sf_dir):
    tbl = _table(spark, sf_dir)
    try:
        m = (1 << ZOOM) - 1
        counts = {}
        for r in tile_stats(tbl, ZOOM).collect():
            t = r.tile_id
            tx = sum(((t >> (2 * i)) & 1) << i for i in range(ZOOM))
            ty = sum(((t >> (2 * i + 1)) & 1) << i for i in range(ZOOM))
            counts[(tx, ty)] = r.n_points
        got = {(r.tx, r.ty): r for r in focal_smooth(tbl, ZOOM).collect()}
        assert set(got) == set(counts)
        for (tx, ty), r in got.items():
            nbrs = [
                counts[(x, y)]
                for x in range(max(tx - 1, 0), min(tx + 1, m) + 1)
                for y in range(max(ty - 1, 0), min(ty + 1, m) + 1)
                if (x, y) in counts
            ]
            wsz = (min(tx + 1, m) - max(tx - 1, 0) + 1) * (
                min(ty + 1, m) - max(ty - 1, 0) + 1
            )
            assert r.n_points == counts[(tx, ty)]
            assert r.focal_sum == sum(nbrs)
            assert r.n_occupied_nbrs == len(nbrs)
            assert r.window_sz == wsz
            assert abs(r.focal_mean - sum(nbrs) / wsz) < 1e-12
    finally:
        tbl.unpersist()
