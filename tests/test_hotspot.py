"""morans_i / gi_star_hotspots vs Python brute-force computations of the
definitional statistics over the (independently verified) per-tile
counts — independent of BOTH the Spark plan and the DuckDB oracle twin
(registry-level twin equivalence is covered by jobs/check_oracles.py)."""

import math

import pytest

from linear_quadtree_spark import DEFAULT_BOUNDS
from linear_quadtree_spark.functions.geotag import geotag_x, geotag_y
from linear_quadtree_spark.operators import LQTTable
from linear_quadtree_spark.operators.hotspot import gi_star_hotspots, morans_i
from linear_quadtree_spark.operators.spatial import tile_stats

pytestmark = pytest.mark.filterwarnings("error::DeprecationWarning")

ZOOM = 3


def _table(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    pts = docs.select(
        "doc_id", geotag_x("doc_id").alias("x"), geotag_y("doc_id").alias("y")
    )
    return LQTTable.build(pts, DEFAULT_BOUNDS, tiebreaker="doc_id")


def _counts(tbl):
    counts = {}
    for r in tile_stats(tbl, ZOOM).collect():
        t = r.tile_id
        tx = sum(((t >> (2 * i)) & 1) << i for i in range(ZOOM))
        ty = sum(((t >> (2 * i + 1)) & 1) << i for i in range(ZOOM))
        counts[(tx, ty)] = r.n_points
    return counts


def test_morans_i_matches_bruteforce(spark, sf_dir):
    tbl = _table(spark, sf_dir)
    try:
        counts = _counts(tbl)
        n = len(counts)
        xbar = sum(counts.values()) / n
        num = den = w = 0.0
        for (ax, ay), xa in counts.items():
            den += (xa - xbar) ** 2
            for (bx, by), xb in counts.items():
                if (ax, ay) != (bx, by) and abs(ax - bx) <= 1 and abs(ay - by) <= 1:
                    w += 1
                    num += (xa - xbar) * (xb - xbar)
        expect = (n / w) * (num / den)
        row = morans_i(tbl, ZOOM).collect()
        assert len(row) == 1
        r = row[0]
        assert r.n_tiles == n
        assert r.w_pairs == w
        assert r.sum_points == sum(counts.values())
        # scaled-deviation identity vs the float definition: agree to
        # relative 1e-12 (the engine's arithmetic is exact; the brute
        # force here accumulates float error)
        assert abs(r.morans_i - expect) <= 1e-9 * max(1.0, abs(expect))
        assert abs(r.expected_i - (-1.0 / (n - 1))) < 1e-15
        # sanity: the geotag hash spreads points ~uniformly, so density
        # should NOT be strongly clustered
        assert -1.0 <= r.morans_i <= 1.0
    finally:
        tbl.unpersist()


def test_ripley_k_matches_bruteforce(spark, sf_dir):
    from linear_quadtree_spark.operators.hotspot import ripley_k

    radii = [1.0, 3.0, 7.0]
    tbl = _table(spark, sf_dir)
    try:
        full = tbl.main.unionByName(tbl.side, allowMissingColumns=True)
        pts = [(r.x, r.y) for r in full.select("x", "y").collect()]
        n = len(pts)
        area = (DEFAULT_BOUNDS.xend - DEFAULT_BOUNDS.xstart) * (
            DEFAULT_BOUNDS.yend - DEFAULT_BOUNDS.ystart
        )
        got = {r.r_index: r for r in ripley_k(tbl, radii).collect()}
        assert sorted(got) == [0, 1, 2]
        for i, rad in enumerate(radii):
            expect_pairs = sum(
                1
                for a in range(n)
                for b in range(a + 1, n)
                if (pts[a][0] - pts[b][0]) ** 2 + (pts[a][1] - pts[b][1]) ** 2
                <= rad * rad
            )
            r = got[i]
            assert r.n_pairs == expect_pairs
            assert r.n_points == n
            k = area * 2.0 * expect_pairs / (n * (n - 1.0))
            assert abs(r.k_est - k) <= 1e-9 * max(1.0, k)
            assert abs(r.l_est - math.sqrt(k / math.pi)) <= 1e-9
        # monotone in r by construction
        assert got[0].n_pairs <= got[1].n_pairs <= got[2].n_pairs
    finally:
        tbl.unpersist()


def test_ripley_k_rejects_bad_radii(spark, sf_dir):
    from linear_quadtree_spark.operators.hotspot import ripley_k

    tbl = _table(spark, sf_dir)
    try:
        with pytest.raises(ValueError):
            ripley_k(tbl, [])
        with pytest.raises(ValueError):
            ripley_k(tbl, [2.0, 1.0])
    finally:
        tbl.unpersist()


def test_gi_star_matches_bruteforce(spark, sf_dir):
    tbl = _table(spark, sf_dir)
    try:
        counts = _counts(tbl)
        m = (1 << ZOOM) - 1
        n = (1 << ZOOM) ** 2  # full lattice, empties are x = 0 members
        s1 = sum(counts.values())
        s2 = sum(v * v for v in counts.values())
        xbar = s1 / n
        s = math.sqrt(s2 / n - xbar * xbar)
        got = {(r.tx, r.ty): r for r in gi_star_hotspots(tbl, ZOOM).collect()}
        assert set(got) == set(counts)
        for (tx, ty), r in got.items():
            fs = sum(
                counts.get((x, y), 0)
                for x in range(max(tx - 1, 0), min(tx + 1, m) + 1)
                for y in range(max(ty - 1, 0), min(ty + 1, m) + 1)
            )
            wsz = (min(tx + 1, m) - max(tx - 1, 0) + 1) * (
                min(ty + 1, m) - max(ty - 1, 0) + 1
            )
            z = (fs - xbar * wsz) / (s * math.sqrt(wsz * (n - wsz) / (n - 1)))
            assert r.n_points == counts[(tx, ty)]
            assert r.focal_sum == fs
            assert r.window_sz == wsz
            assert abs(r.gi_z - z) <= 1e-9 * max(1.0, abs(z))
    finally:
        tbl.unpersist()


def test_local_moran_matches_bruteforce(spark, sf_dir):
    from linear_quadtree_spark.operators.hotspot import local_moran

    tbl = _table(spark, sf_dir)
    try:
        counts = _counts(tbl)
        n = len(counts)
        xbar = sum(counts.values()) / n
        m2 = sum((x - xbar) ** 2 for x in counts.values()) / n
        got = {(r.tx, r.ty): r for r in local_moran(tbl, ZOOM).collect()}
        assert set(got) == set(counts)
        w = 0
        total_i = 0.0
        for (ax, ay), xa in counts.items():
            nbrs = [
                xb for (bx, by), xb in counts.items()
                if (ax, ay) != (bx, by)
                and abs(ax - bx) <= 1 and abs(ay - by) <= 1
            ]
            r = got[(ax, ay)]
            assert r.n_points == xa
            if not nbrs:
                assert r.local_i is None and r.quadrant == "isolate"
                continue
            ns = sum(xb - xbar for xb in nbrs)
            expect = ((xa - xbar) / m2) * ns
            assert abs(r.local_i - expect) <= 1e-9 * max(1.0, abs(expect))
            da = xa - xbar
            if abs(da) < 1e-12 or abs(ns) < 1e-12:
                # integer-exact zero on the engine side
                assert r.quadrant in ("zero", "HH", "LL", "HL", "LH")
            else:
                lab = ("HH" if da > 0 and ns > 0 else
                       "LL" if da < 0 and ns < 0 else
                       "HL" if da > 0 else "LH")
                assert r.quadrant == lab
            w += len(nbrs)
            total_i += expect
        # decomposition law: sum_i I_i / W == global Moran's I
        gi = morans_i(tbl, ZOOM).collect()[0]
        assert abs(total_i / w - gi.morans_i) <= 1e-9 * max(1.0, abs(gi.morans_i))
    finally:
        tbl.unpersist()


def test_general_g_matches_bruteforce(spark, sf_dir):
    from linear_quadtree_spark.operators.hotspot import general_g

    tbl = _table(spark, sf_dir)
    try:
        counts = _counts(tbl)
        num = den = w = 0
        for (ax, ay), xa in counts.items():
            for (bx, by), xb in counts.items():
                if (ax, ay) == (bx, by):
                    continue
                den += xa * xb
                if abs(ax - bx) <= 1 and abs(ay - by) <= 1:
                    w += 1
                    num += xa * xb
        r = general_g(tbl, ZOOM).collect()[0]
        n = len(counts)
        assert r.n_tiles == n and r.w_pairs == w
        assert abs(r.general_g - num / den) <= 1e-12 * max(1.0, num / den)
        assert abs(r.expected_g - w / (n * (n - 1))) <= 1e-15
        # uniform hash data: G should sit near its CSR expectation
        assert 0.0 < r.general_g < 1.0
    finally:
        tbl.unpersist()


def test_quadrat_test_matches_bruteforce(spark, sf_dir):
    from linear_quadtree_spark.operators.hotspot import quadrat_test

    tbl = _table(spark, sf_dir)
    try:
        counts = _counts(tbl)
        m = 1 << (2 * ZOOM)
        n = sum(counts.values())
        mean = n / m
        chi2 = (
            sum((c - mean) ** 2 for c in counts.values())
            + (m - len(counts)) * mean * mean
        ) / mean
        r = quadrat_test(tbl, ZOOM).collect()[0]
        assert r.n_points == n
        assert r.n_quadrats == m
        assert r.occupied_quadrats == len(counts)
        assert r.dof == m - 1
        assert abs(r.chi2 - chi2) <= 1e-9 * max(1.0, chi2)
        import math
        z = (r.chi2 - (m - 1)) / math.sqrt(2.0 * (m - 1))
        assert abs(r.quadrat_z - z) <= 1e-12 * max(1.0, abs(z))
    finally:
        tbl.unpersist()


def test_nn_dist_hist_bruteforce(spark, sf_dir):
    """Histogram equals the O(n²) Python recomputation of per-point
    min squared NN distance, with identical bin arithmetic; total mass
    (incl. the censored bin) conserves the point count."""
    from linear_quadtree_spark.operators.hotspot import nn_dist_hist

    tbl = _table(spark, sf_dir)
    try:
        pts = [
            (r.doc_id, float(r.x), float(r.y))
            for r in tbl.main.unionByName(
                tbl.side, allowMissingColumns=True
            ).collect()
        ]
        rmax, nbins = 3.0, 16
        binw = rmax * rmax / nbins
        exp = {b: 0 for b in range(-1, nbins)}
        for i, (pid, px, py) in enumerate(pts):
            best = None
            for j, (qid, qx, qy) in enumerate(pts):
                if i == j:
                    continue
                d2 = (px - qx) * (px - qx) + (py - qy) * (py - qy)
                if d2 <= rmax * rmax and (best is None or d2 < best):
                    best = d2
            b = -1 if best is None else min(int(best // binw), nbins - 1)
            exp[b] += 1
        got = {r.bin: r.n_points for r in nn_dist_hist(tbl, rmax, nbins).collect()}
        assert got == exp
        assert sum(got.values()) == len(pts)
        assert set(got) == set(range(-1, nbins))  # zero-filled spine
    finally:
        tbl.unpersist()


def test_nn_dist_hist_fixture_and_validation(spark):
    """Two mutual neighbors at distance 1 (bin floor(1/binw)), one
    point isolated beyond rmax (bin -1); bad params raise."""
    from linear_quadtree_spark.operators.hotspot import nn_dist_hist

    pts = spark.createDataFrame(
        [(1, 1010.0, 1010.0), (2, 1011.0, 1010.0), (3, 1050.0, 1050.0)],
        "doc_id: long, x: double, y: double",
    )
    tbl = LQTTable.build(pts, DEFAULT_BOUNDS, tiebreaker="doc_id")
    try:
        got = {r.bin: r.n_points for r in nn_dist_hist(tbl, 2.0, 8).collect()}
        # d2 = 1.0, binw = 4/8 = 0.5 -> bin 2
        assert got[2] == 2 and got[-1] == 1
        assert sum(got.values()) == 3
        with pytest.raises(ValueError):
            nn_dist_hist(tbl, -1.0, 8)
        with pytest.raises(ValueError):
            nn_dist_hist(tbl, 2.0, 0)
    finally:
        tbl.unpersist()


def test_cross_k_bruteforce(spark, sf_dir):
    """K̂_AB equals the O(nA·nB) Python recomputation on the real
    corpus (docs as A, a 1-in-5-user event sample as B)."""
    import __spark_entry__ as entry
    from linear_quadtree_spark.operators.hotspot import cross_k

    radii = [0.5, 1.0, 2.0]
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    from linear_quadtree_spark.functions.geotag import geotag_x, geotag_y

    a = docs.select(
        "doc_id",
        geotag_x("doc_id").cast("double").alias("px"),
        geotag_y("doc_id").cast("double").alias("py"),
    )
    b = entry._xk_events_df(spark, sf_dir)
    arows = [(r.px, r.py) for r in a.collect()]
    brows = [(r.sx, r.sy) for r in b.collect()]
    area = 100.0 * 100.0
    exp = []
    for i, r in enumerate(radii):
        p = sum(
            1
            for ax, ay in arows
            for bx, by in brows
            if (ax - bx) * (ax - bx) + (ay - by) * (ay - by) <= r * r
        )
        exp.append((i, r, p, area * p / (len(arows) * len(brows))))
    got = sorted(
        (r.r_index, r.r, r.n_pairs, r.k_est)
        for r in cross_k(
            a, b, radii, DEFAULT_BOUNDS, a_id_col="doc_id", b_id_col="event_id"
        ).collect()
    )
    assert [(i, r, p) for i, r, p, _ in exp] == [
        (i, r, p) for i, r, p, _ in got
    ]
    for (_, _, _, ke), (_, _, _, kg) in zip(exp, got):
        assert abs(ke - kg) < 1e-9
    assert got[0][2] > 0


def test_cross_k_rejects_bad_radii(spark):
    from linear_quadtree_spark.operators.hotspot import cross_k

    a = spark.createDataFrame([(1, 1010.0, 1010.0)], "doc_id: long, px: double, py: double")
    b = spark.createDataFrame([(1, 1010.0, 1010.0)], "event_id: long, sx: double, sy: double")
    with pytest.raises(ValueError):
        cross_k(a, b, [], DEFAULT_BOUNDS)
    with pytest.raises(ValueError):
        cross_k(a, b, [2.0, 1.0], DEFAULT_BOUNDS)


def test_join_counts_bruteforce(spark, sf_dir):
    """BB/BW/WW and the Cliff-Ord moments against a full Python
    lattice recomputation from the (independently verified) per-tile
    counts; conservation BB+BW+WW = E."""
    from linear_quadtree_spark.operators.hotspot import (
        _jc_lattice_consts,
        join_counts,
    )

    tbl = _table(spark, sf_dir)
    try:
        counts = _counts(tbl)
        # median split: a nontrivial B/W mask (some hot, some not)
        thresh = sorted(counts.values())[len(counts) // 2]
        n = 1 << ZOOM
        hot = {(tx, ty) for (tx, ty), c in counts.items() if c >= thresh}
        bb = bw = 0
        for tx, ty in hot:
            for dx in (-1, 0, 1):
                for dy in (-1, 0, 1):
                    if dx == dy == 0:
                        continue
                    nx, ny = tx + dx, ty + dy
                    if not (0 <= nx < n and 0 <= ny < n):
                        continue
                    if (nx, ny) in hot:
                        bb += 1        # ordered; halve below
                    else:
                        bw += 1
        bb //= 2
        c = _jc_lattice_consts(ZOOM)
        got = join_counts(tbl, ZOOM, thresh=thresh).collect()[0]
        assert (got.n_hot, got.bb_pairs, got.bw_pairs) == (len(hot), bb, bw)
        assert got.ww_pairs == c["E"] - bb - bw
        assert got.n_cells == c["N"]
        # moments: hypergeometric expectation and z from the same
        # closed-form constants
        import math

        N, E, W, S1, S2 = c["N"], c["E"], c["W"], c["S1"], c["S2"]
        nb = len(hot)
        r2 = nb * (nb - 1) / (N * (N - 1))
        r3 = r2 * (nb - 2) / (N - 2)
        r4 = r3 * (nb - 3) / (N - 3)
        e_bb = E * r2
        var_bb = 0.25 * (S1 * r2 + (S2 - 2 * S1) * r3
                         + (W * W + S1 - S2) * r4) - e_bb * e_bb
        assert abs(got.e_bb - e_bb) < 1e-9
        assert abs(got.var_bb - var_bb) < 1e-9
        if nb >= 4 and var_bb > 0:
            assert abs(got.z_bb - (bb - e_bb) / math.sqrt(var_bb)) < 1e-9
        assert got.n_hot > 0 and got.bw_pairs > 0
    finally:
        tbl.unpersist()


def test_join_counts_empty_hot_set(spark):
    """An unreachable threshold yields zero B cells: BB = BW = 0,
    WW = E, z NULL — no division blows up."""
    from linear_quadtree_spark.operators.hotspot import (
        _jc_lattice_consts,
        join_counts,
    )

    pts = spark.createDataFrame(
        [(1, 1010.0, 1010.0), (2, 1050.0, 1050.0)],
        "doc_id: long, x: double, y: double",
    )
    tbl = LQTTable.build(pts, DEFAULT_BOUNDS, tiebreaker="doc_id")
    try:
        got = join_counts(tbl, 3, thresh=10**6).collect()[0]
        c = _jc_lattice_consts(3)
        assert (got.n_hot, got.bb_pairs, got.bw_pairs) == (0, 0, 0)
        assert got.ww_pairs == c["E"]
        assert got.z_bb is None
    finally:
        tbl.unpersist()


def test_geary_c_matches_bruteforce(spark, sf_dir):
    """C equals the definitional Python recomputation over the
    verified per-tile counts; dispersed synthetic geotags give C > 1."""
    from linear_quadtree_spark.operators.hotspot import geary_c

    tbl = _table(spark, sf_dir)
    try:
        counts = _counts(tbl)
        n = len(counts)
        xbar = sum(counts.values()) / n
        ssw = w = 0
        for (tx, ty), xa in counts.items():
            for dx in (-1, 0, 1):
                for dy in (-1, 0, 1):
                    if dx == dy == 0:
                        continue
                    xb = counts.get((tx + dx, ty + dy))
                    if xb is None:
                        continue
                    w += 1
                    ssw += (xa - xb) ** 2
        den = sum((x - xbar) ** 2 for x in counts.values())
        exp = (n - 1) * ssw / (2.0 * w * den)
        got = geary_c(tbl, ZOOM).collect()[0]
        assert (got.n_tiles, got.w_pairs) == (n, w)
        assert abs(got.geary_c - exp) < 1e-9
        assert got.expected_c == 1.0
    finally:
        tbl.unpersist()


def test_tile_gini_matches_bruteforce(spark, sf_dir):
    """Gini equals the definitional sorted-rank recomputation over the
    verified per-tile counts, both over the full 4^zoom lattice
    (zeros in closed form) and over occupied tiles only; laws:
    0 <= G_occ <= G_full < 1 and the num/den ratio reproduces gini."""
    from linear_quadtree_spark.operators.hotspot import tile_gini

    def brute(xs):
        xs = sorted(xs)
        n, s = len(xs), sum(xs)
        jx = sum((i + 1) * x for i, x in enumerate(xs))
        return (2 * jx - (n + 1) * s) / (n * s)

    tbl = _table(spark, sf_dir)
    try:
        counts = list(_counts(tbl).values())
        lattice = counts + [0] * ((1 << (2 * ZOOM)) - len(counts))

        got = tile_gini(tbl, ZOOM).collect()[0]
        assert got.n_cells == 1 << (2 * ZOOM)
        assert got.n_occupied == len(counts)
        assert got.sum_points == sum(counts)
        assert abs(got.gini - brute(lattice)) < 1e-12
        assert abs(float(got.gini_num) / float(got.gini_den) - got.gini) < 1e-12

        occ = tile_gini(tbl, ZOOM, full_lattice=False).collect()[0]
        assert occ.n_cells == len(counts)
        assert abs(occ.gini - brute(counts)) < 1e-12
        assert 0.0 <= occ.gini <= got.gini < 1.0
    finally:
        tbl.unpersist()


def test_tile_gini_extremes(spark):
    """Uniform occupancy of the full lattice -> G = 0; a single
    occupied cell -> G = (N-1)/N exactly."""
    from linear_quadtree_spark.operators.hotspot import tile_gini

    zoom = 2
    n = 1 << (2 * zoom)
    side = 1 << zoom
    w = (DEFAULT_BOUNDS.xend - DEFAULT_BOUNDS.xstart) / side
    h = (DEFAULT_BOUNDS.yend - DEFAULT_BOUNDS.ystart) / side

    uni = spark.createDataFrame(
        [
            (i * side + j,
             DEFAULT_BOUNDS.xstart + (j + 0.5) * w,
             DEFAULT_BOUNDS.ystart + (i + 0.5) * h)
            for i in range(side) for j in range(side)
        ],
        "doc_id: long, x: double, y: double",
    )
    t = LQTTable.build(uni, DEFAULT_BOUNDS, tiebreaker="doc_id")
    try:
        assert tile_gini(t, zoom).collect()[0].gini == 0.0
    finally:
        t.unpersist()

    one = spark.createDataFrame(
        [(k, DEFAULT_BOUNDS.xstart + 0.5 * w, DEFAULT_BOUNDS.ystart + 0.5 * h)
         for k in range(5)],
        "doc_id: long, x: double, y: double",
    )
    t1 = LQTTable.build(one, DEFAULT_BOUNDS, tiebreaker="doc_id")
    try:
        r = t1_row = tile_gini(t1, zoom).collect()[0]
        assert r.n_occupied == 1 and r.sum_points == 5
        assert abs(t1_row.gini - (n - 1) / n) < 1e-15
    finally:
        t1.unpersist()


def test_gi_star_zoom1_is_null_and_matches_twin(spark, sf_dir):
    """At zoom 1 every clamped window is the whole 4-cell lattice (W = n),
    so the Gi* denominator W·(n − W) is 0: gi_z is NULL on Spark and in
    the DuckDB twin alike, never a division by zero."""
    import duckdb
    import pandas as pd

    from __spark_entry__ import _PTS_CTE
    from jobs.check_oracles import normalize
    from linear_quadtree_spark.functions.refsql import ref_prefix_cte_duck
    from linear_quadtree_spark.operators.hotspot import gi_star_sql_duck

    tbl = _table(spark, sf_dir)
    try:
        got = gi_star_hotspots(tbl, 1).toPandas()
    finally:
        tbl.unpersist()
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM read_parquet('{sf_dir}/documents.parquet')"
    )
    exp = con.execute(
        f"WITH {_PTS_CTE},\n{ref_prefix_cte_duck('pts', 1, DEFAULT_BOUNDS)},"
        f"{gi_star_sql_duck(1)}"
    ).fetch_df()
    assert len(got) == 4 and (got.window_sz == 4).all() and got.gi_z.isna().all()
    pd.testing.assert_frame_equal(
        normalize(got), normalize(exp), check_dtype=False, check_exact=True
    )
