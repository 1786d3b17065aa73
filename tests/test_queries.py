"""Spatial operators vs brute-force DataFrame oracles (SURVEY §5.2),
including adversarial midline/out-of-bounds fixtures."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from linear_quadtree_spark.config import DEFAULT_BOUNDS, Bounds
from linear_quadtree_spark.operators.build import LQTTable
from linear_quadtree_spark.operators.spatial import (
    bbox_query,
    knn_join,
    point_in_polygon_join,
    tile_stats,
)
from linear_quadtree_spark.functions.geometry import point_in_polygon_np
from linear_quadtree_spark.sources.synth import knn_queries_df, polygons_df

pytestmark = pytest.mark.filterwarnings("error::DeprecationWarning")


@pytest.fixture(scope="module")
def points_pdf():
    rng = np.random.default_rng(11)
    n = 4000
    pdf = pd.DataFrame(
        {
            "x": (1000 + 100 * rng.random(n)).astype(np.float32),
            "y": (1000 + 100 * rng.random(n)).astype(np.float32),
        }
    )
    # adversarial rows: root/level-2 midlines, corners, out-of-bounds
    adv = pd.DataFrame(
        {
            "x": np.array(
                [1050.0, 1050.0, 1025.0, 1000.0, 1100.0, 500.0, 1050.0, 1075.0],
                np.float32,
            ),
            "y": np.array(
                [1050.0, 1025.0, 1025.0, 1000.0, 1100.0, 1050.0, 1033.3, 1075.0],
                np.float32,
            ),
        }
    )
    pdf = pd.concat([pdf, adv], ignore_index=True)
    pdf["key"] = np.arange(len(pdf), dtype=np.int64)
    return pdf


@pytest.fixture(scope="module")
def tbl(spark, points_pdf):
    df = spark.createDataFrame(points_pdf)
    t = LQTTable.build(df, DEFAULT_BOUNDS, tiebreaker="key")
    yield t
    t.main.unpersist()
    t.side.unpersist()


@pytest.mark.parametrize(
    "rect",
    [
        (1020.0, 1045.0, 1030.0, 1070.0),
        (1049.9, 1050.1, 1049.9, 1050.1),  # straddles the root midpoint
        (1000.0, 1100.0, 1000.0, 1100.0),  # full space
        (1024.9, 1025.1, 1024.9, 1025.1),  # level-2 midline
        (1099.0, 1100.0, 1099.0, 1100.0),  # top corner (zkey > 2^63)
    ],
)
def test_bbox_matches_bruteforce(tbl, points_pdf, rect, spark):
    x0, x1, y0, y1 = rect
    got = sorted(r.key for r in bbox_query(tbl, *rect).select("key").collect())
    m = points_pdf
    exp = sorted(
        m[(m.x >= x0) & (m.x <= x1) & (m.y >= y0) & (m.y <= y1)].key.tolist()
    )
    assert got == exp


# a padded cover spans at least 3x3 cells, so a budget of 1 forces the
# coarsest cover level, 1
@pytest.mark.parametrize("max_cells_per_poly", [4096, 1])
def test_pip_join_matches_bruteforce(tbl, points_pdf, spark, max_cells_per_poly):
    polys = polygons_df(spark, 8)
    got = {
        (r.key, r.poly_id)
        for r in point_in_polygon_join(tbl, polys, max_cells_per_poly=max_cells_per_poly)
        .select("key", "poly_id")
        .collect()
    }
    exp = set()
    for prow in polys.collect():
        inside = point_in_polygon_np(
            points_pdf.x.to_numpy(np.float64),
            points_pdf.y.to_numpy(np.float64),
            np.array(prow.xs),
            np.array(prow.ys),
        )
        exp |= {(int(k), prow.poly_id) for k in points_pdf.key[inside]}
    assert got == exp


def test_polygons_df_distributed_bitexact(spark):
    """The spark.range-based polygon generator must reproduce the driver-
    side one bit-for-bit (every step is exact float64 arithmetic)."""
    from linear_quadtree_spark.sources.synth import polygons_df_distributed

    a = {r.poly_id: (list(r.xs), list(r.ys)) for r in polygons_df(spark, 64).collect()}
    b = {
        r.poly_id: (list(r.xs), list(r.ys))
        for r in polygons_df_distributed(spark, 64).collect()
    }
    assert a == b  # exact double equality, not approx


def test_knn_matches_bruteforce(tbl, points_pdf, spark):
    k = 7
    q = knn_queries_df(spark, 6)
    got = {
        (r.qid, r.key, r.rn)
        for r in knn_join(tbl, q, k).select("qid", "key", "rn").collect()
    }
    exp = set()
    for qrow in q.collect():
        dx = points_pdf.x.to_numpy(np.float64) - qrow.qx
        dy = points_pdf.y.to_numpy(np.float64) - qrow.qy
        d2 = dx * dx + dy * dy
        order = np.lexsort((points_pdf.key.to_numpy(), d2))[:k]
        exp |= {(qrow.qid, int(points_pdf.key[i]), rn + 1) for rn, i in enumerate(order)}
    assert got == exp


def test_knn_adaptive_rounds_mixed_density(spark):
    """Per-query adaptive radius (round-3): a dense cluster plus 3 far
    outlier queries. Outliers find 0 candidates for several rounds, so
    they expand ×8/round (log₈ convergence); the fixed shared ×4
    schedule needs r to reach ~124 from 0.1 → 7 rounds, the adaptive
    one ≤ 5 — and cluster queries resolve in round 1 either way, no
    longer dragged through the outliers' extra global rounds."""
    rng = np.random.default_rng(7)
    n = 4000
    pdf = pd.DataFrame(
        {
            "x": (1010 + 2 * rng.random(n)).astype(np.float32),
            "y": (1010 + 2 * rng.random(n)).astype(np.float32),
        }
    )
    pdf["key"] = np.arange(n, dtype=np.int64)
    t = LQTTable.build(spark.createDataFrame(pdf), DEFAULT_BOUNDS, tiebreaker="key")
    k = 10
    qrows = [
        (0, 1011.0, 1011.0),
        (1, 1010.5, 1011.5),
        (2, 1011.5, 1010.5),
        (3, 1099.0, 1099.0),  # far outliers: ~124 from the cluster
        (4, 1001.0, 1099.0),
        (5, 1099.0, 1001.0),
    ]
    q = spark.createDataFrame(qrows, ["qid", "qx", "qy"])
    stats: dict = {}
    out = knn_join(t, q, k, initial_radius=0.1, stats_out=stats)
    got = {
        (r.qid, r.key, r.rn)
        for r in out.select("qid", "key", "rn").collect()
    }
    exp = set()
    for qid, qx, qy in qrows:
        dx = pdf.x.to_numpy(np.float64) - qx
        dy = pdf.y.to_numpy(np.float64) - qy
        d2 = dx * dx + dy * dy
        order = np.lexsort((pdf.key.to_numpy(), d2))[:k]
        exp |= {(qid, int(pdf.key[i]), rn + 1) for rn, i in enumerate(order)}
    assert got == exp
    assert stats["rounds"] <= 5, stats
    t.unpersist()


def test_knn_k_larger_than_table(spark):
    pdf = pd.DataFrame(
        {"x": np.float32([1010.0, 1020.0]), "y": np.float32([1010.0, 1020.0]), "key": [0, 1]}
    )
    t = LQTTable.build(spark.createDataFrame(pdf), DEFAULT_BOUNDS, tiebreaker="key", persist=False)
    out = knn_join(t, knn_queries_df(spark, 2), k=5)
    # both rows returned for each query, never more
    counts = {r.qid: r.cnt for r in out.groupBy("qid").agg(F.count(F.lit(1)).alias("cnt")).collect()}
    assert all(v == 2 for v in counts.values())


def test_knn_many_rounds_exact_with_flat_plan(spark):
    """Five expansion rounds (initial_radius=0.01) over 20k points and 64
    queries. Each round reads only the previous round's checkpoint, so
    the plan stays O(1) deep; when every round's plan nested the previous
    round's plan, this case exhausted a 2 GB driver heap."""
    import time

    from linear_quadtree_spark.cache import release_caches
    from perfbench.workloads import Points, knn_answer, points_df, queries_df

    t = LQTTable.build(points_df(spark, 0, 20_000, 2), DEFAULT_BOUNDS, tiebreaker="pid")
    qx, qy = np.random.default_rng(0).uniform(1000.0, 1100.0, (2, 64))
    stats: dict = {}
    try:
        t0 = time.perf_counter()
        out = knn_join(t, queries_df(spark, qx, qy), 10, initial_radius=0.01, stats_out=stats)
        got = {(r.qid, r.pid) for r in out.select("qid", "pid").collect()}
        secs = time.perf_counter() - t0
        release_caches()
    finally:
        t.unpersist()
    pts = Points(0, 20_000)
    assert got == {(q, p) for q in range(64) for p in knn_answer(pts, qx[q], qy[q], 10)}
    assert stats["rounds"] == 5 and len(stats["unresolved"]) == 5, stats
    assert stats["unresolved"][-1] == 0 and stats["unresolved"][0] == 64, stats
    assert secs < 180, secs


def test_knn_release_returns_storage_to_baseline(spark, tbl):
    """Round checkpoints hold blocks Spark's cache manager does not know
    about; cache.py must unpersist their RDDs. Six consecutive
    multi-round calls, each consumed and then released, leave executor
    storage exactly as it was before them."""
    from linear_quadtree_spark.cache import release_caches

    sc = spark.sparkContext._jsc.sc()

    def storage():
        return sorted((i.id(), i.memSize(), i.diskSize()) for i in sc.getRDDStorageInfo())

    tbl.main.count(), tbl.side.count()
    release_caches()
    base = storage()
    for k in (1, 2, 3, 5, 8, 13):
        stats: dict = {}
        out = knn_join(tbl, knn_queries_df(spark, 6), k, initial_radius=0.3, stats_out=stats)
        assert out.count() == 6 * k and stats["rounds"] > 1
        release_caches()
        assert storage() == base, k


def test_tile_stats_consistent_with_geometry(tbl, points_pdf):
    """zkey-derived tiles == geometric tiles for prefix-faithful rows
    (boundary/degenerate rows legitimately differ — reference semantics)."""
    zoom = 4
    got = tile_stats(tbl, zoom)
    rows = (
        tbl.main.withColumn("tile_id", F.shiftrightunsigned(F.col("zkey"), 64 - 2 * zoom))
        .select("key", "tile_id", "x", "y", "zlvl")
        .collect()
    )
    for r in rows:
        if r.zlvl < zoom:
            continue
        tx = int(np.floor((np.float64(r.x) - 1000.0) * 16.0 / 100.0))
        ty = int(np.floor((np.float64(r.y) - 1000.0) * 16.0 / 100.0))
        # strict-> semantics put exact-boundary points in the lower cell;
        # only assert for points not exactly on the geometric grid
        fx = (np.float64(r.x) - 1000.0) * 16.0 / 100.0
        fy = (np.float64(r.y) - 1000.0) * 16.0 / 100.0
        if fx == tx or fy == ty:
            continue
        # zkey tile ids are Morton-interleaved (tile = key prefix, F6)
        morton = 0
        for b in range(3, -1, -1):
            morton = (morton << 2) | (((ty >> b) & 1) << 1) | ((tx >> b) & 1)
        assert r.tile_id == morton, (r.key, r.x, r.y)
    # count preservation
    total = got.agg(F.sum("n_points")).collect()[0][0]
    assert total == len(points_pdf)


def test_build_sortedness_and_count(tbl, points_pdf, order_violations):
    """test_mergesort analog (main.cpp:425-430): (zs, key) never decreases
    in physical order, within a partition or across a partition boundary,
    and the build keeps every row."""
    assert order_violations(tbl.main, "zs", "key") == 0
    assert tbl.main.count() + tbl.side.count() == len(points_pdf)


def test_log_metrics_writes_plan_secs(spark, points_pdf, tmp_path):
    """A lazy build (eager_count=False) has run no encode yet, so the
    durable metrics row carries the build's driver time as
    build_plan_secs, never as an encode time."""
    t = LQTTable.build(spark.createDataFrame(points_pdf), DEFAULT_BOUNDS,
                       tiebreaker="key", eager_count=False)
    try:
        cols = t.log_metrics(str(tmp_path / "metrics"), "b1").columns
    finally:
        t.unpersist()
    assert "build_plan_secs" in cols
    assert "build_encode_secs" not in cols
    assert "build_rows" not in cols  # rows is None without the count


def test_knn_bulk_distributed(tbl, points_pdf, spark):
    """Bulk kNN: a 400-row distributed query table (never collected to
    the driver) matches brute force exactly — the scale path the
    round-based driver loop in r1 could not take."""
    k = 5
    q = spark.range(400).select(
        F.col("id").cast("int").alias("qid"),
        (1000.0 + 100.0 * (((F.col("id") * 48271 + 11) % 997) / 997.0)).alias("qx"),
        (1000.0 + 100.0 * (((F.col("id") * 69621 + 73) % 997) / 997.0)).alias("qy"),
    )
    got = {
        (r.qid, r.key, r.rn)
        for r in knn_join(tbl, q, k).select("qid", "key", "rn").collect()
    }
    exp = set()
    for qrow in q.collect():
        dx = points_pdf.x.to_numpy(np.float64) - qrow.qx
        dy = points_pdf.y.to_numpy(np.float64) - qrow.qy
        d2 = dx * dx + dy * dy
        order = np.lexsort((points_pdf.key.to_numpy(), d2))[:k]
        exp |= {(qrow.qid, int(points_pdf.key[i]), rn + 1) for rn, i in enumerate(order)}
    assert got == exp


def test_knn_empty_queries(tbl, spark):
    from pyspark.sql.types import StructType, StructField, IntegerType, DoubleType

    schema = StructType([
        StructField("qid", IntegerType()),
        StructField("qx", DoubleType()),
        StructField("qy", DoubleType()),
    ])
    out = knn_join(tbl, spark.createDataFrame([], schema), k=3)
    assert out.count() == 0


def test_occupancy_hist_level_zero_raises(tbl):
    """A level-0 cell would be zkey >>> 64, which the JVM masks to the
    whole zkey: one 'cell' per distinct key instead of one for all."""
    from linear_quadtree_spark.operators.spatial import occupancy_hist

    with pytest.raises(ValueError, match="zoom"):
        occupancy_hist(tbl, 0)


def test_occupancy_hist_reconciles(tbl, points_pdf):
    """Occupancy histogram invariants: sum(k * n_cells(k)) == row count,
    cell count matches a direct distinct-prefix count, and the histogram
    equals a pandas recomputation from the raw zkeys."""
    from linear_quadtree_spark.operators.spatial import occupancy_hist

    level = 6
    hist = {r.n_points: r.n_cells for r in occupancy_hist(tbl, level).collect()}
    assert sum(k * v for k, v in hist.items()) == len(points_pdf)

    full = tbl.main.unionByName(tbl.side)
    zkeys = np.array(
        [r.zkey for r in full.select("zkey").collect()], dtype=np.int64
    ).view(np.uint64)
    cells = zkeys >> np.uint64(64 - 2 * level)
    _, counts = np.unique(cells, return_counts=True)
    expect_cells = len(counts)
    assert sum(hist.values()) == expect_cells
    ks, kc = np.unique(counts, return_counts=True)
    assert hist == {int(k): int(c) for k, c in zip(ks, kc)}


def test_tile_polygons_raster_to_vector(tbl, points_pdf):
    """Raster→vector polygonization: tile ids round-trip through the
    de-interleave (re-interleaving (tx,ty) reproduces tile_id), corners
    are the exact-double grid lines, the WKT ring is closed and matches
    the corner columns, counts reconcile with tile_stats, and every
    prefix-faithful point lies inside its tile polygon (closed rect —
    strict-> boundary semantics put exact-edge points on the rect edge)."""
    from linear_quadtree_spark.operators.spatial import tile_polygons

    zoom = 4
    w = 100.0 / (1 << zoom)
    polys = {r.tile_id: r for r in tile_polygons(tbl, zoom).collect()}

    # counts reconcile with the aggregation the polygonization wraps
    stats = {r.tile_id: r.n_points for r in tile_stats(tbl, zoom).collect()}
    assert {t: r.n_points for t, r in polys.items()} == stats

    for t, r in polys.items():
        # Morton round trip
        morton = 0
        for b in range(zoom - 1, -1, -1):
            morton = (morton << 2) | (((r.ty >> b) & 1) << 1) | ((r.tx >> b) & 1)
        assert morton == t
        # exact-double grid corners
        assert r.x0 == 1000.0 + r.tx * w and r.x1 == 1000.0 + (r.tx + 1) * w
        assert r.y0 == 1000.0 + r.ty * w and r.y1 == 1000.0 + (r.ty + 1) * w
        # WKT: closed 5-point ring rendering exactly the corner values
        assert r.wkt.startswith("POLYGON((") and r.wkt.endswith("))")
        pts = [p.split() for p in r.wkt[9:-2].split(", ")]
        assert len(pts) == 5 and pts[0] == pts[4]
        assert float(pts[0][0]) == r.x0 and float(pts[0][1]) == r.y0
        assert float(pts[2][0]) == r.x1 and float(pts[2][1]) == r.y1

    # containment of prefix-faithful rows
    rows = tbl.main.unionByName(tbl.side).select("x", "y", "zkey", "zlvl").collect()
    for row in rows:
        if row.zlvl < zoom:
            continue
        t = (row.zkey & ((1 << 64) - 1)) >> (64 - 2 * zoom)
        p = polys[t]
        assert p.x0 <= np.float64(row.x) <= p.x1, (row.x, p)
        assert p.y0 <= np.float64(row.y) <= p.y1, (row.y, p)


def test_tile_pyramid_rollup_invariants(tbl, points_pdf):
    """Pyramid invariants: every level's counts sum to the row count;
    each level equals a direct independent aggregation at that zoom
    (the rollup-from-finest shortcut is lossless because a parent tile
    is exactly the union of its 4 children); parent count == sum of its
    children across adjacent levels."""
    from linear_quadtree_spark.operators.spatial import tile_pyramid

    zooms = [2, 4, 6]
    pyr = tile_pyramid(tbl, zooms).collect()
    n = len(points_pdf)
    by_zoom = {}
    for r in pyr:
        by_zoom.setdefault(r.zoom, {})[r.tile_id] = r.n_points
    assert set(by_zoom) == set(zooms)
    for z in zooms:
        assert sum(by_zoom[z].values()) == n
        direct = {
            r.tile_id: r.n_points for r in tile_stats(tbl, z).collect()
        }
        assert by_zoom[z] == direct, f"zoom {z} rollup != direct aggregation"
    for z_par, z_chi in zip(zooms, zooms[1:]):
        shift = 2 * (z_chi - z_par)
        rolled = {}
        for t, c in by_zoom[z_chi].items():
            rolled[t >> shift] = rolled.get(t >> shift, 0) + c
        assert rolled == by_zoom[z_par]


def test_knn_out_of_domain_query_is_safe(spark, sf_dir):
    """A query point far outside the domain must resolve by clamped
    cell enumeration, not blow up (regression: the one-sided clamp let
    sequence() count down from a ~1e10 start index)."""
    from linear_quadtree_spark.operators.spatial import knn_join
    from linear_quadtree_spark.functions.geotag import geotag_x, geotag_y
    from linear_quadtree_spark.operators.build import LQTTable
    from linear_quadtree_spark.config import DEFAULT_BOUNDS

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    pts = docs.select(
        "doc_id", geotag_x("doc_id").alias("x"), geotag_y("doc_id").alias("y")
    )
    tbl = LQTTable.build(pts, DEFAULT_BOUNDS, tiebreaker="doc_id", persist=False)
    q = spark.createDataFrame(
        [(0, 1.0e9, 1050.0), (1, 500.0, 1050.0), (2, 1050.0, -3.0e7)],
        "qid int, qx double, qy double",
    )
    out = knn_join(tbl, q, k=3).collect()
    by_q = {}
    for r in out:
        by_q.setdefault(r.qid, []).append(r)
    assert set(by_q) == {0, 1, 2}
    assert all(len(v) == 3 for v in by_q.values())
    # brute-force check one of them
    rows = pts.collect()
    exp = sorted(rows, key=lambda r: (r.x - 1.0e9) ** 2 + (r.y - 1050.0) ** 2)[:3]
    assert {r.doc_id for r in by_q[0]} == {r.doc_id for r in exp}


def test_pip_join_keeps_duplicate_rows(spark):
    """Tables without a unique key can hold fully duplicate rows; the
    join must return each of them (a refine that groups candidate rows
    would merge duplicates and double their crossing counts — even
    parity, rows dropped)."""
    from linear_quadtree_spark.config import DEFAULT_BOUNDS
    from linear_quadtree_spark.operators.build import LQTTable
    from linear_quadtree_spark.operators.spatial import point_in_polygon_join

    pts = spark.createDataFrame(
        [(1050.5, 1050.5), (1050.5, 1050.5), (1001.0, 1001.0)],
        "x double, y double",
    )
    tbl = LQTTable.build(pts, DEFAULT_BOUNDS, persist=False)
    poly = spark.createDataFrame(
        [(0, [1040.0, 1060.0, 1060.0, 1040.0], [1040.0, 1040.0, 1060.0, 1060.0])],
        "poly_id int, xs array<double>, ys array<double>",
    )
    assert point_in_polygon_join(tbl, poly).count() == 2


def test_pip_join_level_zero_raises(tbl, spark):
    """Level 0 would shift zkeys by 64, which the JVM masks to 0: the
    cell join key becomes the whole zkey and silently drops rows."""
    from linear_quadtree_spark.operators.build import STORE_SPLIT_LEVEL
    from linear_quadtree_spark.operators.spatial import _cell_candidates

    with pytest.raises(ValueError, match="level"):
        point_in_polygon_join(tbl, polygons_df(spark, 2), level=0)
    box = (F.col("qx"), F.col("qx"), F.col("qy"), F.col("qy"))
    for bad in (0, STORE_SPLIT_LEVEL + 1):
        with pytest.raises(ValueError, match="cell level"):
            _cell_candidates(tbl, tbl.main, [], box, bad)


def _descent_grid(start: float, end: float, level: int):
    """Cell bounds (lo, hi) of the encode's float32 box walk at ``level``,
    written out independently of ``spatial._grid_pad``."""
    f32 = np.float32
    lo, hi = np.array([start], f32), np.array([end], f32)
    for _ in range(level):
        h = (hi - lo) / f32(2)
        m = lo + h
        lo, hi = np.stack([lo, m], 1).ravel(), np.stack([m, m + h], 1).ravel()
    return lo, hi


@pytest.mark.parametrize(
    "bounds",
    [DEFAULT_BOUNDS, Bounds(-3.3, 7.7, 100.7, 103.9)],
    ids=["default", "non_dyadic"],
)
def test_cell_candidates_pad_is_conservative(spark, bounds):
    """Property test of the computed cell pad: at every level 1..12,
    points on the float32 descent grid's cell boundaries, 0-2 ULPs off
    and stored as float64 up to 0.45 ULP away from their float32 value,
    are each found by a zero-width box at their own coordinates.
    ``_cell_candidates`` must return a superset of the brute-force box
    filter, for main rows (zlvl >= 12, which the pad guards) and side
    rows alike. The non-dyadic bounds make the float32 grid deviate from
    the ideal float64 one, so the pad's deviation term is exercised."""
    from linear_quadtree_spark.functions.encode import zorder_encode_np
    from linear_quadtree_spark.operators.build import STORE_SPLIT_LEVEL
    from linear_quadtree_spark.operators.spatial import _cell_candidates

    rng = np.random.default_rng(3)
    f32 = np.float32
    xs, ys = [], []
    for level in range(1, STORE_SPLIT_LEVEL + 1):
        axes = []
        for start, end in ((bounds.xstart, bounds.xend), (bounds.ystart, bounds.yend)):
            lo, hi = _descent_grid(start, end, level)
            g = start + np.arange(lo.size + 1) * ((end - start) / lo.size)
            edges = np.concatenate([lo, hi])
            dev = np.abs(edges - np.concatenate([g[:-1], g[1:]]))
            # the most deviating boundaries, where the pad is tightest
            v = np.concatenate([edges[np.argsort(-dev)[:50]], rng.choice(edges, 50)])
            for _ in range(2):  # up to 2 ULPs either way
                step = rng.integers(-1, 2, v.size)
                v = np.where(step > 0, np.nextafter(v, f32(np.inf)),
                             np.where(step < 0, np.nextafter(v, f32(-np.inf)), v))
            off = rng.choice([0.0, 0.45, -0.45], v.size)
            axes.append(v.astype(np.float64) + off * np.spacing(v).astype(np.float64))
        xs.append(axes[0])
        ys.append(axes[1])
    x, y = np.concatenate(xs), np.concatenate(ys)
    assert (x.astype(f32).astype(np.float64) != x).any()
    _, zlvl = zorder_encode_np(x.astype(f32), y.astype(f32), bounds)
    main = zlvl >= STORE_SPLIT_LEVEL
    assert main.sum() > 300 and (~main).sum() > 0
    if bounds != DEFAULT_BOUNDS:
        lo, _ = _descent_grid(bounds.xstart, bounds.xend, STORE_SPLIT_LEVEL)
        ideal = bounds.xstart + np.arange(lo.size) * ((bounds.xend - bounds.xstart) / lo.size)
        assert (lo != ideal).any()

    pid = np.arange(x.size, dtype=np.int64)
    pdf = pd.DataFrame({"pid": pid, "x": x, "y": y})
    t = LQTTable.build(spark.createDataFrame(pdf), bounds, tiebreaker="pid", persist=False)
    probes = spark.createDataFrame(pd.DataFrame({"qid": pid, "qx": x, "qy": y}))
    box = (F.col("qx"), F.col("qx"), F.col("qy"), F.col("qy"))
    got = None
    for level in range(1, STORE_SPLIT_LEVEL + 1):
        c = _cell_candidates(t, probes, ["qid"], box, level).select(
            F.lit(level).alias("level"), "qid", "pid"
        )
        got = c if got is None else got.unionByName(c)
    got = {tuple(r) for r in got.collect()}
    hits = np.argwhere((x[:, None] == x[None, :]) & (y[:, None] == y[None, :]))
    missed = [
        (level, int(q), int(p), bool(main[p]))
        for level in range(1, STORE_SPLIT_LEVEL + 1)
        for q, p in hits
        if (level, int(q), int(p)) not in got
    ]
    assert not missed, missed[:10]


def test_distance_join_requires_unique_id(spark):
    import pytest

    from linear_quadtree_spark.config import DEFAULT_BOUNDS
    from linear_quadtree_spark.operators.build import LQTTable
    from linear_quadtree_spark.operators.spatial import distance_join

    pts = spark.createDataFrame(
        [(1050.0, 1050.0), (1050.0, 1051.0)], "x double, y double"
    )
    tbl = LQTTable.build(pts, DEFAULT_BOUNDS, persist=False)  # no tiebreaker
    with pytest.raises(ValueError, match="unique id"):
        distance_join(tbl, r=5.0)
