"""Spatial autocorrelation and hotspot statistics over tile densities.

Two classic geospatial analytics on top of the LQT tile layer (the
reference provides the key/tiling substrate, SURVEY §2.9; these are the
statistics a mapping pipeline runs on the resulting raster):

* :func:`morans_i` — GLOBAL Moran's I of the per-tile point counts under
  queen contiguity (8-neighbour binary weights among OCCUPIED tiles):
  "is density spatially clustered at this zoom, and how much?".
* :func:`gi_star_hotspots` — LOCAL Getis–Ord Gi* z-score per occupied
  tile over the FULL zoom lattice (empty cells contribute x = 0): the
  hot-spot / cold-spot detector behind every "significant clusters" map.

Exactness discipline (the tile_concentration convention): every sum is
integer-exact — Moran's I substitutes the scaled deviation
``d_i = n·x_i − S`` (an integer; the n² factors cancel in the ratio) so
no float is summed in either engine, and Gi* needs only the integer
moments (S1 = Σx, S2 = Σx²) plus closed-form boundary-clamped window
sizes, so the full-lattice statistic never materializes the lattice.
The single final double expression is written once and evaluated
verbatim by Spark and DuckDB (IEEE ops + correctly-rounded SQRT), hence
hash-checkable.

Ceilings: Moran cross-products are summed as decimal(38,0) (Spark) /
HUGEINT (DuckDB) — exact to 10^38, i.e. |d_i| = |n·x_i − S| up to ~10^19
per tile, far beyond any real corpus at query zooms. Gi* moments are
BIGINT: per-tile counts ≤ ~3·10^9 at 4^zoom tiles keeps n·S2 in int64.

Plan shapes (SCALE.md): every statistic aggregates the TILE relation
(≤ 4^zoom rows), never the data — one map-side-combined shuffle of the
rows to per-tile counts, then the queen scatter shared with
focal_smooth (``geocell._queen_scatter``: 8 or 9 offsets exploded from
the tile relation, gathered by an equi-keyed groupBy or join; no
inequality join anywhere on the Spark side). Gi* IS focal_smooth plus
the lattice moments. The one-row totals relation broadcasts.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from linear_quadtree_spark.cache import track
from linear_quadtree_spark.functions.geocell import (
    _queen_scatter,
    _queen_window,
    cell_axis_expr,
)
from linear_quadtree_spark.functions.textexpr import DUCK
from linear_quadtree_spark.operators.build import LQTTable
from linear_quadtree_spark.operators.spatial import (
    distance_join,
    distance_join_ab,
    focal_smooth,
)

__all__ = [
    "morans_i",
    "morans_i_sql_duck",
    "gi_star_hotspots",
    "gi_star_sql_duck",
    "ripley_k",
    "ripley_k_sql_duck",
    "cross_k",
    "cross_k_sql_duck",
    "nn_dist_hist",
    "nn_dist_hist_sql_duck",
    "local_moran",
    "local_moran_sql_duck",
    "general_g",
    "general_g_sql_duck",
    "geary_c",
    "geary_c_sql_duck",
    "quadrat_test",
    "quadrat_test_sql_duck",
    "tile_gini",
    "tile_gini_sql_duck",
    "join_counts",
    "join_counts_sql_duck",
]


def _tile_counts(tbl: LQTTable, zoom: int) -> DataFrame:
    """Occupied-tile relation (tile_id, tx, ty, x = point count) — a
    rename over the table's MEMOIZED per-zoom aggregate
    (`LQTTable.tile_counts`), so the whole statistics suite shares one
    cached corpus shuffle instead of each re-aggregating."""
    return tbl.tile_counts(zoom).withColumnRenamed("n_points", "x")


def _deviations(tbl: LQTTable, zoom: int) -> DataFrame:
    """The tile relation plus the totals n (occupied tiles) and s (Σx)
    and the scaled deviation ``dv = n·x − s`` — an integer, the
    substitution that keeps Moran's I, LISA and Geary's C exact.
    Cached: each statistic scans it more than once."""
    g = _tile_counts(tbl, zoom)
    tot = g.agg(F.count(F.lit(1)).alias("n"), F.sum("x").alias("s"))
    return track(
        g.crossJoin(F.broadcast(tot))
        .withColumn("dv", F.col("n") * F.col("x") - F.col("s"))
    )


def _queen_pairs(rel: DataFrame, zoom: int, col: str | None = None) -> DataFrame:
    """Ordered queen-adjacent pairs of ``rel``'s tiles: the 8-cell
    scatter equi-joined back onto ``rel`` on the target cell, one row
    per pair, carrying ``col`` of the two tiles as ``a`` and ``b``."""
    vals = [col] if col else []
    src = rel.select("tx", "ty", *[F.col(c).alias("a") for c in vals])
    dst = rel.select(
        F.col("tx").alias("ctx"), F.col("ty").alias("cty"),
        *[F.col(c).alias("b") for c in vals],
    )
    return _queen_scatter(src, zoom, with_self=False).join(dst, ["ctx", "cty"])


def _dec_prod(a, b) -> Column:
    """a · b for two BIGINT columns (names or Columns) as decimal(38,0):
    exact, so a sum over it stays integral."""
    a, b = (F.col(c) if isinstance(c, str) else c for c in (a, b))
    return a.cast("decimal(19,0)") * b.cast("decimal(19,0)")


# ------------------------------------------------------------ Moran's I
def morans_i(tbl: LQTTable, zoom: int) -> DataFrame:
    """Global Moran's I of per-tile density under queen contiguity.

    I = (n / W) · Σ_ij w_ij (x_i − x̄)(x_j − x̄) / Σ_i (x_i − x̄)²  over
    the occupied tiles at ``zoom``; w_ij = 1 iff Chebyshev-adjacent
    (ordered pairs, so W counts each unordered neighbour pair twice —
    the numerator does too, and the convention cancels in I). Positive
    I → clustered density, ≈E[I] = −1/(n−1) → random, negative →
    dispersed.

    Integer-exact: with d_i = n·x_i − S (integers), the identities
    Σ w d_i d_j = n²·Σ w (x_i−x̄)(x_j−x̄) and Σ d_i² = n²·Σ(x_i−x̄)²
    make I = (n/W)·(Σ w d_i d_j)/(Σ d_i²) with every sum integral;
    cross-products are summed as decimal(38,0). ONE double expression at
    the end, identical in the DuckDB twin.

    Output (one row): (n_tiles, w_pairs, sum_points, morans_i,
    expected_i)."""
    d = _deviations(tbl, zoom)
    agg = _queen_pairs(d, zoom, "dv").agg(
        F.count(F.lit(1)).alias("w"),
        F.sum(_dec_prod("a", "b")).alias("num"),
    )
    den = d.agg(
        F.sum(_dec_prod("dv", "dv")).alias("den"),
        F.first("n").alias("n"),
        F.first("s").alias("s"),
    )
    out = den.crossJoin(agg).selectExpr(
        "n AS n_tiles",
        "w AS w_pairs",
        "s AS sum_points",
        _morans_final_expr() + " AS morans_i",
        "CASE WHEN n <= 1 THEN NULL"
        " ELSE -1.0 / (CAST(n AS DOUBLE) - 1.0) END AS expected_i",
    )
    return out


def _morans_final_expr() -> str:
    """The one shared double expression (verbatim in both engines)."""
    return (
        "CASE WHEN den = 0 OR w = 0 OR num IS NULL THEN NULL"
        " ELSE (CAST(num AS DOUBLE) * CAST(n AS DOUBLE))"
        " / (CAST(den AS DOUBLE) * CAST(w AS DOUBLE)) END"
    )


def morans_i_sql_duck(zoom: int) -> str:
    """DuckDB twin by the DEFINITION: neighbourhood SELF-JOIN with
    BETWEEN bounds over reference-exact tile prefixes (a different plan
    family than the Spark scatter-gather), HUGEINT sums, the identical
    final double expression. Embed after a CTE chain providing
    refenc(pref)."""
    return f"""
occ AS (SELECT pref AS tile_id, CAST(COUNT(*) AS BIGINT) AS x
        FROM refenc GROUP BY 1),
g AS (SELECT x,
             {cell_axis_expr(DUCK, 'tile_id', zoom, 0)} AS tx,
             {cell_axis_expr(DUCK, 'tile_id', zoom, 1)} AS ty
      FROM occ),
tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(x) AS BIGINT) AS s
        FROM g),
dev AS (SELECT g.tx, g.ty, CAST(tot.n * g.x - tot.s AS HUGEINT) AS dv
        FROM g, tot),
prs AS (SELECT a.dv AS da, b.dv AS db
        FROM dev a JOIN dev b
          ON b.tx BETWEEN a.tx - 1 AND a.tx + 1
         AND b.ty BETWEEN a.ty - 1 AND a.ty + 1
         AND NOT (a.tx = b.tx AND a.ty = b.ty)),
pagg AS (SELECT CAST(COUNT(*) AS BIGINT) AS w, SUM(da * db) AS num FROM prs),
dagg AS (SELECT SUM(dv * dv) AS den FROM dev),
fin AS (SELECT tot.n AS n, tot.s AS s, pagg.w AS w, pagg.num AS num,
               dagg.den AS den
        FROM tot, pagg, dagg)
SELECT n AS n_tiles, w AS w_pairs, s AS sum_points,
       {_morans_final_expr()} AS morans_i,
       CASE WHEN n <= 1 THEN NULL
            ELSE -1.0 / (CAST(n AS DOUBLE) - 1.0) END AS expected_i
FROM fin
"""


# --------------------------------------------------------- Getis–Ord Gi*
def _gi_z_expr(n_lattice: int) -> str:
    """Gi* z-score from the integer moments — the one shared double
    expression. Columns: fs (window sum incl. self), w (full clamped
    3×3 window size), s1 (Σx), s2 (Σx²); n = the FULL lattice size
    4^zoom (empty cells are x = 0 members). Zero-variance lattices are
    detected integer-exactly (n·S2 = S1²) → NULL."""
    n = f"{n_lattice}.0"
    xb = f"(CAST(s1 AS DOUBLE) / {n})"
    return (
        f"CASE WHEN {n_lattice} * s2 = s1 * s1 THEN NULL ELSE "
        f"(CAST(fs AS DOUBLE) - {xb} * CAST(w AS DOUBLE)) / "
        f"(SQRT(CAST(s2 AS DOUBLE) / {n} - {xb} * {xb}) * "
        f"SQRT((CAST(w AS DOUBLE) * ({n} - CAST(w AS DOUBLE))) / ({n} - 1.0)))"
        f" END"
    )


def gi_star_hotspots(tbl: LQTTable, zoom: int) -> DataFrame:
    """Local Getis–Ord Gi* hot/cold-spot z-score per occupied tile.

    Gi*_i = (Σ_{j∈win(i)} x_j − x̄·W_i) / (s·sqrt((n·W_i − W_i²)/(n−1)))
    over the FULL 4^zoom lattice (empty cells count as x = 0), win(i) =
    the boundary-clamped 3×3 window INCLUDING self, W_i its true cell
    count. |z| ≳ 1.96 → significant hot (positive) / cold (negative)
    spot at ~5%. Rows are emitted for OCCUPIED tiles (an empty cell's
    window sum comes only from occupied neighbours; its z is the
    map-background value — documented, not emitted).

    Gi* reuses :func:`~linear_quadtree_spark.operators.spatial.focal_smooth`
    outright: its ``focal_sum`` is the window sum and its ``window_sz``
    the closed-form W_i, both from the queen scatter shared by every
    tile statistic (``geocell._queen_scatter`` / ``_queen_window``), so
    the lattice is never materialized and no join gathers the window.
    The only join is the broadcast of the one-row integer moments
    (S1, S2 over occupied tiles ≡ over the lattice). One shared double
    expression → hash-checkable vs the DuckDB twin.

    Output: (tile_id, tx, ty, n_points, focal_sum, window_sz, gi_z)."""
    mom = _tile_counts(tbl, zoom).agg(
        F.sum("x").alias("s1"),
        F.sum(F.col("x") * F.col("x")).alias("s2"),
    )
    window = focal_smooth(tbl, zoom).selectExpr(
        "tile_id", "tx", "ty", "n_points", "focal_sum AS fs", "window_sz AS w",
    )
    return window.crossJoin(F.broadcast(mom)).selectExpr(
        "tile_id",
        "tx",
        "ty",
        # an occupied tile's own count is never NULL; the coalesce keeps
        # the column non-nullable, as in the tile relation
        "coalesce(n_points, 0L) AS n_points",
        "fs AS focal_sum",
        "w AS window_sz",
        _gi_z_expr(1 << (2 * zoom)) + " AS gi_z",
    )


def _k_thresh(r: float) -> str:
    """The shared squared-radius literal — repr'd once so Spark and
    DuckDB parse the identical double constant."""
    return repr(float(r) * float(r))


def ripley_k(tbl: LQTTable, radii: list[float]) -> DataFrame:
    """Ripley's K point-pattern statistic at multiple radii — "is the
    point process clustered, random, or dispersed at scale r?".

    Naive (uncorrected) CSR-unbiased estimator over the table's root
    bounds A: K̂(r) = A · Σ_{i≠j} 1[d_ij ≤ r] / (n·(n−1)); under CSR
    K̂(r) ≈ πr², so L̂(r) = sqrt(K̂/π) − r > 0 → clustered at scale r,
    < 0 → dispersed. No edge correction (documented: border-corrected
    variants weight per point; at web-corpus densities the bias is
    O(perimeter·r/A)).

    Integer-exact: ONE cell-bucketed distance self-join at max(radii)
    (the distance_join plan — density-bounded candidates, one shuffle,
    never all-pairs), then every radius is a conditional COUNT in one
    aggregate pass over the pair relation — pair counts are integers,
    thresholds are shared double literals, and K̂/L̂ are one final
    double expression each, hash-checkable vs the DuckDB brute-force
    twin. The m radii cost one join, not m.

    Output per radius: (r_index, r, n_pairs, n_points, k_est, l_est)."""
    if not radii or sorted(radii) != list(radii):
        raise ValueError("radii must be a non-empty ascending list")
    b = tbl.bounds
    area = (b.xend - b.xstart) * (b.yend - b.ystart)
    pairs = distance_join(tbl, r=float(radii[-1]))
    counts = pairs.agg(
        *[
            F.sum(
                F.expr(f"CASE WHEN dist2 <= {_k_thresh(r)} THEN 1 ELSE 0 END")
            ).alias(f"p{i}")
            for i, r in enumerate(radii)
        ]
    )
    # the build already counted every row when eager_count was on —
    # reuse it (the knn_join pattern) instead of re-scanning both caches
    n_pts = tbl.build_metrics.get("rows")
    if n_pts is None:
        n_pts = tbl.main.unionByName(tbl.side, allowMissingColumns=True).count()
    structs = ", ".join(
        "named_struct('r_index', {i}, 'r', CAST({r} AS DOUBLE),"
        " 'n_pairs', coalesce(p{i}, 0L))".format(i=i, r=repr(float(r)))
        for i, r in enumerate(radii)
    )
    return counts.selectExpr(f"inline(array({structs}))").selectExpr(
        "r_index",
        "r",
        "n_pairs",
        f"CAST({n_pts} AS BIGINT) AS n_points",
        _ripley_k_expr(area, n_pts) + " AS k_est",
        _ripley_l_expr(area, n_pts) + " AS l_est",
    )


def _ripley_k_expr(area: float, n: int) -> str:
    """K̂ from the integer pair count — shared verbatim across engines
    (Σ_{i≠j} counts ordered pairs = 2 × the canonical unordered count)."""
    return (
        f"CASE WHEN {n} <= 1 THEN NULL ELSE "
        f"(CAST({float(area)!r} AS DOUBLE) * 2.0 * CAST(n_pairs AS DOUBLE))"
        f" / (CAST({n}.0 AS DOUBLE) * ({n}.0 - 1.0)) END"
    )


def _ripley_l_expr(area: float, n: int) -> str:
    return (
        f"CASE WHEN {n} <= 1 THEN NULL ELSE "
        f"SQRT((CAST({float(area)!r} AS DOUBLE) * 2.0 * CAST(n_pairs AS DOUBLE))"
        f" / (CAST({n}.0 AS DOUBLE) * ({n}.0 - 1.0)) / 3.141592653589793) END"
    )


def ripley_k_sql_duck(
    radii: list[float], area: float, pts_src: str = "pts",
    id_col: str = "doc_id", x_col: str = "px", y_col: str = "py",
) -> str:
    """DuckDB twin by the DEFINITION: brute-force id-ordered pair scan
    (no grid, no bucketing — a different plan family), the identical
    dist2 expression/threshold literals, the identical final double
    expressions. Needs the caller to interpolate n via a scalar
    subquery — n is data-dependent in SQL, so the estimator expressions
    inline (SELECT COUNT(*) FROM src) instead of a Python-side n."""
    rmax2 = _k_thresh(radii[-1])
    cnt = f"(SELECT COUNT(*) FROM {pts_src})"
    cases = ",\n       ".join(
        f"CAST(SUM(CASE WHEN dist2 <= {_k_thresh(r)} THEN 1 ELSE 0 END) AS BIGINT) AS p{i}"
        for i, r in enumerate(radii)
    )
    sel = "\nUNION ALL\n".join(
        f"""SELECT {i} AS r_index, CAST({float(r)!r} AS DOUBLE) AS r,
       COALESCE(p{i}, 0) AS n_pairs, CAST(n AS BIGINT) AS n_points,
       CASE WHEN n <= 1 THEN NULL ELSE
         (CAST({float(area)!r} AS DOUBLE) * 2.0 * CAST(COALESCE(p{i}, 0) AS DOUBLE))
         / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0)) END AS k_est,
       CASE WHEN n <= 1 THEN NULL ELSE
         SQRT((CAST({float(area)!r} AS DOUBLE) * 2.0 * CAST(COALESCE(p{i}, 0) AS DOUBLE))
         / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0)) / 3.141592653589793) END AS l_est
FROM kagg"""
        for i, r in enumerate(radii)
    )
    return f"""
kpairs AS (
  SELECT (a.{x_col} - b.{x_col}) * (a.{x_col} - b.{x_col})
         + (a.{y_col} - b.{y_col}) * (a.{y_col} - b.{y_col}) AS dist2
  FROM {pts_src} a JOIN {pts_src} b ON a.{id_col} < b.{id_col}
  WHERE (a.{x_col} - b.{x_col}) * (a.{x_col} - b.{x_col})
        + (a.{y_col} - b.{y_col}) * (a.{y_col} - b.{y_col}) <= {rmax2}),
kagg AS (SELECT {cases}, {cnt} AS n FROM kpairs)
{sel}
"""


def cross_k(
    a_pts: DataFrame,
    b_pts: DataFrame,
    radii: list[float],
    bounds,
    a_id_col: str = "id_a",
    b_id_col: str = "id_b",
    a_xy: tuple[str, str] = ("px", "py"),
    b_xy: tuple[str, str] = ("sx", "sy"),
) -> DataFrame:
    """Bivariate (cross-type) Ripley K between two point processes —
    "does type B cluster around type A at scale r?" (events around
    pages, stores around transit stops; Lotwick & Silverman 1982's
    K_AB). Estimator, uncorrected like :func:`ripley_k`:

        K̂_AB(r) = Area · Σ_{i∈A, j∈B} 1[d_ij ≤ r] / (n_A · n_B)

    Under independence of the two processes K̂_AB(r) ≈ πr², so
    L̂_AB(r) − r > 0 → B attracted to A at scale r, < 0 → repelled.

    Integer-exact: ONE cell-bucketed bipartite distance join at
    max(radii) (the distance_join_ab plan — density-bounded, never
    all-pairs), then every radius is a conditional COUNT in one
    aggregate pass; pair counts are integers, thresholds shared double
    literals, K̂/L̂ one final double expression each — hash-checkable
    vs the DuckDB brute-force pair twin. The m radii cost one join.

    Output per radius: (r_index, r, n_pairs, n_a, n_b, k_est, l_est).
    """
    if not radii or sorted(radii) != list(radii):
        raise ValueError("radii must be a non-empty ascending list")
    area = (bounds.xend - bounds.xstart) * (bounds.yend - bounds.ystart)
    pairs = distance_join_ab(
        a_pts, b_pts, float(radii[-1]),
        a_id_col=a_id_col, b_id_col=b_id_col, a_xy=a_xy, b_xy=b_xy,
    )
    counts = pairs.agg(
        *[
            F.sum(
                F.expr(f"CASE WHEN dist2 <= {_k_thresh(r)} THEN 1 ELSE 0 END")
            ).alias(f"p{i}")
            for i, r in enumerate(radii)
        ]
    )
    n_a, n_b = a_pts.count(), b_pts.count()
    structs = ", ".join(
        "named_struct('r_index', {i}, 'r', CAST({r} AS DOUBLE),"
        " 'n_pairs', coalesce(p{i}, 0L))".format(i=i, r=repr(float(r)))
        for i, r in enumerate(radii)
    )
    return counts.selectExpr(f"inline(array({structs}))").selectExpr(
        "r_index",
        "r",
        "n_pairs",
        f"CAST({n_a} AS BIGINT) AS n_a",
        f"CAST({n_b} AS BIGINT) AS n_b",
        _cross_k_expr(area, n_a, n_b) + " AS k_est",
        _cross_l_expr(area, n_a, n_b) + " AS l_est",
    )


def _cross_k_expr(area: float, n_a: int, n_b: int) -> str:
    """K̂_AB from the integer cross-pair count — shared verbatim across
    engines (bipartite pairs count once; no ×2 doubling)."""
    return (
        f"CASE WHEN {n_a} = 0 OR {n_b} = 0 THEN NULL ELSE "
        f"(CAST({float(area)!r} AS DOUBLE) * CAST(n_pairs AS DOUBLE))"
        f" / (CAST({n_a}.0 AS DOUBLE) * CAST({n_b}.0 AS DOUBLE)) END"
    )


def _cross_l_expr(area: float, n_a: int, n_b: int) -> str:
    return (
        f"CASE WHEN {n_a} = 0 OR {n_b} = 0 THEN NULL ELSE "
        f"SQRT((CAST({float(area)!r} AS DOUBLE) * CAST(n_pairs AS DOUBLE))"
        f" / (CAST({n_a}.0 AS DOUBLE) * CAST({n_b}.0 AS DOUBLE))"
        f" / 3.141592653589793) END"
    )


def cross_k_sql_duck(
    radii: list[float],
    area: float,
    a_src: str = "pts",
    b_src: str = "bpts",
    a_id_col: str = "doc_id",
    b_id_col: str = "event_id",
    a_xy: tuple[str, str] = ("px", "py"),
    b_xy: tuple[str, str] = ("sx", "sy"),
) -> str:
    """DuckDB twin by the DEFINITION: brute-force bipartite pair scan
    (no grid — a different plan family), identical threshold literals
    and final expressions; n_a/n_b inline as scalar subqueries."""
    ax, ay = a_xy
    bx, by = b_xy
    rmax2 = _k_thresh(radii[-1])
    na = f"(SELECT COUNT(*) FROM {a_src})"
    nb = f"(SELECT COUNT(*) FROM {b_src})"
    cases = ",\n       ".join(
        f"CAST(SUM(CASE WHEN dist2 <= {_k_thresh(r)} THEN 1 ELSE 0 END) AS BIGINT) AS p{i}"
        for i, r in enumerate(radii)
    )
    sel = "\nUNION ALL\n".join(
        f"""SELECT {i} AS r_index, CAST({float(r)!r} AS DOUBLE) AS r,
       COALESCE(p{i}, 0) AS n_pairs, CAST(na AS BIGINT) AS n_a,
       CAST(nb AS BIGINT) AS n_b,
       CASE WHEN na = 0 OR nb = 0 THEN NULL ELSE
         (CAST({float(area)!r} AS DOUBLE) * CAST(COALESCE(p{i}, 0) AS DOUBLE))
         / (CAST(na AS DOUBLE) * CAST(nb AS DOUBLE)) END AS k_est,
       CASE WHEN na = 0 OR nb = 0 THEN NULL ELSE
         SQRT((CAST({float(area)!r} AS DOUBLE) * CAST(COALESCE(p{i}, 0) AS DOUBLE))
         / (CAST(na AS DOUBLE) * CAST(nb AS DOUBLE)) / 3.141592653589793) END AS l_est
FROM xkagg"""
        for i, r in enumerate(radii)
    )
    return f"""
xkpairs AS (
  SELECT (a.{ax} - b.{bx}) * (a.{ax} - b.{bx})
         + (a.{ay} - b.{by}) * (a.{ay} - b.{by}) AS dist2
  FROM {a_src} a JOIN {b_src} b
    ON (a.{ax} - b.{bx}) * (a.{ax} - b.{bx})
       + (a.{ay} - b.{by}) * (a.{ay} - b.{by}) <= {rmax2}),
xkagg AS (SELECT {cases}, {na} AS na, {nb} AS nb FROM xkpairs)
{sel}
"""


def nn_dist_hist(
    tbl: LQTTable,
    rmax: float = 3.0,
    nbins: int = 16,
) -> DataFrame:
    """Nearest-neighbor-distance histogram — the G-function of
    point-pattern analysis (companion to Ripley's K: K integrates pair
    counts over ALL scales, G looks at each point's single nearest
    neighbor; Clark & Evans 1954). For every point, the squared
    distance to its nearest other point, censored at ``rmax``:
    histogram bin = least(floor(d2min / (rmax^2/nbins)), nbins-1),
    points with NO neighbor within ``rmax`` land in bin -1 (the
    censored mass — reported, never silently dropped).

    Squared distances throughout: d2 is a fixed IEEE expression over
    the coordinates and the bin edge arithmetic divides by a shared
    double literal, so bins are bit-identical across engines with no
    sqrt anywhere. Output (bin, n_points), all bins -1..nbins-1 present
    (zero-filled — schema and row count are data-independent).

    Scale shape: ONE cell-bucketed distance self-join at ``rmax`` (the
    distance_join plan — density-bounded candidates, never all-pairs),
    one min-aggregate per point (map-side combined), one nbins-sized
    histogram aggregate, and a broadcast fill of the empty bins. The
    point count rides as a 1-row broadcast scalar. Censoring at rmax is
    what keeps the join density-bounded at corpus scale — the full
    G-function's tail needs unbounded search and belongs to kNN(k=1).
    """
    if rmax <= 0 or nbins < 1:
        raise ValueError("rmax must be positive and nbins >= 1")
    binw = repr(float(rmax) * float(rmax) / float(nbins))
    pairs = distance_join(tbl, r=float(rmax))
    mins = (
        pairs.select(F.col("id_a").alias("id"), "dist2")
        .unionByName(pairs.select(F.col("id_b").alias("id"), "dist2"))
        .groupBy("id")
        .agg(F.min("dist2").alias("d2min"))
    )
    hist = mins.groupBy(
        F.least(
            F.floor(F.col("d2min") / F.lit(float(binw))).cast("bigint"),
            F.lit(nbins - 1).cast("bigint"),
        ).alias("bin")
    ).agg(F.count(F.lit(1)).alias("n_points"))
    n_tot = tbl.main.unionByName(tbl.side, allowMissingColumns=True).count()
    covered = mins.agg(F.count(F.lit(1)).alias("nc"))
    spark = tbl.main.sparkSession
    bins = spark.range(-1, nbins).select(F.col("id").alias("bin"))
    isolated = covered.select(
        F.lit(-1).cast("bigint").alias("bin"),
        (F.lit(n_tot).cast("bigint") - F.col("nc")).alias("n_points"),
    )
    return (
        bins.join(F.broadcast(hist.unionByName(isolated)), "bin", "left")
        .select("bin", F.coalesce("n_points", F.lit(0)).cast("bigint").alias("n_points"))
    )


def nn_dist_hist_sql_duck(
    rmax: float = 3.0,
    nbins: int = 16,
    pts_src: str = "pts",
    id_col: str = "doc_id",
    x_col: str = "px",
    y_col: str = "py",
) -> str:
    """DuckDB twin by the DEFINITION: per point, min squared distance
    over a brute-force pair scan (no grid — a different plan family),
    identical bin arithmetic and censoring, zero-filled bin spine."""
    binw = repr(float(rmax) * float(rmax) / float(nbins))
    r2 = repr(float(rmax) * float(rmax))
    d2 = (
        f"(a.{x_col} - b.{x_col}) * (a.{x_col} - b.{x_col})"
        f" + (a.{y_col} - b.{y_col}) * (a.{y_col} - b.{y_col})"
    )
    return f"""
nnmins AS (
  SELECT a.{id_col} AS id, MIN({d2}) AS d2min
  FROM {pts_src} a JOIN {pts_src} b ON a.{id_col} <> b.{id_col}
  WHERE {d2} <= {r2}
  GROUP BY 1),
nnhist AS (
  SELECT LEAST(CAST(FLOOR(d2min / {binw}) AS BIGINT),
               CAST({nbins - 1} AS BIGINT)) AS bin,
         CAST(COUNT(*) AS BIGINT) AS n_points
  FROM nnmins GROUP BY 1
  UNION ALL
  SELECT CAST(-1 AS BIGINT) AS bin,
         CAST((SELECT COUNT(*) FROM {pts_src})
              - (SELECT COUNT(*) FROM nnmins) AS BIGINT) AS n_points),
nnspine AS (SELECT CAST(range AS BIGINT) AS bin FROM range(-1, {nbins}))
SELECT s.bin, CAST(COALESCE(h.n_points, 0) AS BIGINT) AS n_points
FROM nnspine s LEFT JOIN nnhist h ON s.bin = h.bin
"""


def gi_star_sql_duck(zoom: int) -> str:
    """DuckDB twin: BETWEEN self-join window sums over reference-exact
    prefixes, the identical closed-form window size and shared z
    expression. Embed after a CTE chain providing refenc(pref)."""
    m = (1 << zoom) - 1
    return f"""
occ AS (SELECT pref AS tile_id, CAST(COUNT(*) AS BIGINT) AS x
        FROM refenc GROUP BY 1),
g AS (SELECT tile_id, x,
             {cell_axis_expr(DUCK, 'tile_id', zoom, 0)} AS tx,
             {cell_axis_expr(DUCK, 'tile_id', zoom, 1)} AS ty
      FROM occ),
mom AS (SELECT CAST(SUM(x) AS BIGINT) AS s1,
               CAST(SUM(x * x) AS BIGINT) AS s2 FROM g),
nb AS (SELECT a.tile_id, a.tx, a.ty, a.x,
              CAST(SUM(b.x) AS BIGINT) AS fs
       FROM g a JOIN g b
         ON b.tx BETWEEN a.tx - 1 AND a.tx + 1
        AND b.ty BETWEEN a.ty - 1 AND a.ty + 1
       GROUP BY 1, 2, 3, 4),
win AS (SELECT nb.*, mom.s1, mom.s2,
               CAST((LEAST(tx + 1, {m}) - GREATEST(tx - 1, 0) + 1)
                    * (LEAST(ty + 1, {m}) - GREATEST(ty - 1, 0) + 1)
                 AS BIGINT) AS w
        FROM nb, mom)
SELECT tile_id, tx, ty, x AS n_points, fs AS focal_sum, w AS window_sz,
       {_gi_z_expr(1 << (2 * zoom))} AS gi_z
FROM win
"""


# ------------------------------------------------------- Local Moran's I
_LISA_I_EXPR = (
    "CASE WHEN den = 0 OR ns IS NULL THEN NULL"
    " ELSE (CAST(n AS DOUBLE) * CAST(dv AS DOUBLE) * CAST(ns AS DOUBLE))"
    " / CAST(den AS DOUBLE) END"
)

_LISA_QUAD_EXPR = (
    "CASE WHEN ns IS NULL THEN 'isolate'"
    " WHEN dv = 0 OR ns = 0 THEN 'zero'"
    " WHEN dv > 0 AND ns > 0 THEN 'HH'"
    " WHEN dv < 0 AND ns < 0 THEN 'LL'"
    " WHEN dv > 0 THEN 'HL'"
    " ELSE 'LH' END"
)


def local_moran(tbl: LQTTable, zoom: int) -> DataFrame:
    """Local Moran's I (LISA) per occupied tile — the third member of
    the classic trio (global Moran's I, Gi*, LISA): which tiles sit in
    high-high / low-low clusters vs high-low / low-high OUTLIERS, the
    distinction Gi* (window sums only) cannot make.

    I_i = n · D_i · Σ_j w_ij D_j / Σ_k D_k² with D_i = n·x_i − S (the
    same ×n-scaled integer deviation morans_i uses; the scale factors
    cancel against the m2 normalizer, leaving the standard
    I_i = (x_i−x̄)/m2 · Σ_j w_ij (x_j−x̄)). Same population convention
    as :func:`morans_i`: OCCUPIED tiles under queen contiguity
    (Chebyshev-adjacent, binary weights). Σ_i I_i / W = global I — the
    decomposition law the test asserts. Quadrant labels come from the
    SIGNS of the integer D_i and neighbour sum (exact, no float
    compare): HH/LL = cluster core, HL/LH = spatial outlier,
    ``isolate`` = no occupied neighbour, ``zero`` = deviation exactly
    zero. Significance is permutation-based in the literature — out of
    scope, documented (rank by |local_i| within quadrant instead).

    Integer-exact sums (cross-products as decimal(38,0) / HUGEINT),
    ONE shared double expression — hash-checkable vs the BETWEEN-join
    DuckDB twin. Plan: the morans_i scatter-gather grouped per tile
    (one binned×8 fan-out + equi-join gather) — tile-relation-sized
    throughout. Output: (tile_id, tx, ty, n_points, local_i,
    quadrant)."""
    d = _deviations(tbl, zoom)
    nsum = (
        _queen_scatter(d.select("tx", "ty", "dv"), zoom, with_self=False)
        .groupBy("ctx", "cty")
        .agg(F.sum(F.col("dv").cast("decimal(38,0)")).alias("ns"))
    )
    den = d.agg(F.sum(_dec_prod("dv", "dv")).alias("den"))
    return (
        d.join(
            nsum,
            (d["tx"] == nsum["ctx"]) & (d["ty"] == nsum["cty"]),
            "left",
        )
        .crossJoin(F.broadcast(den))
        .selectExpr(
            "tile_id", "tx", "ty", "x AS n_points", "dv", "ns", "n", "den",
        )
        .selectExpr(
            "tile_id", "tx", "ty", "n_points",
            _LISA_I_EXPR + " AS local_i",
            _LISA_QUAD_EXPR + " AS quadrant",
        )
    )


def local_moran_sql_duck(zoom: int) -> str:
    """DuckDB twin: BETWEEN neighbourhood self-join over
    reference-exact tile prefixes, HUGEINT sums, identical shared
    expressions. Embed after a CTE chain providing refenc(pref)."""
    return f"""
occ AS (SELECT pref AS tile_id, CAST(COUNT(*) AS BIGINT) AS x
        FROM refenc GROUP BY 1),
g AS (SELECT tile_id, x,
             {cell_axis_expr(DUCK, 'tile_id', zoom, 0)} AS tx,
             {cell_axis_expr(DUCK, 'tile_id', zoom, 1)} AS ty
      FROM occ),
tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(x) AS BIGINT) AS s
        FROM g),
dev AS (SELECT g.tile_id, g.tx, g.ty, g.x,
               CAST(tot.n * g.x - tot.s AS HUGEINT) AS dv, tot.n
        FROM g, tot),
nsum AS (SELECT a.tile_id, SUM(b.dv) AS ns
         FROM dev a JOIN dev b
           ON b.tx BETWEEN a.tx - 1 AND a.tx + 1
          AND b.ty BETWEEN a.ty - 1 AND a.ty + 1
          AND NOT (a.tx = b.tx AND a.ty = b.ty)
         GROUP BY 1),
dagg AS (SELECT SUM(dv * dv) AS den FROM dev),
fin AS (SELECT dev.tile_id, dev.tx, dev.ty, dev.x AS n_points,
               dev.dv, nsum.ns, dev.n, dagg.den
        FROM dev LEFT JOIN nsum ON dev.tile_id = nsum.tile_id, dagg)
SELECT tile_id, tx, ty, n_points,
       {_LISA_I_EXPR} AS local_i,
       {_LISA_QUAD_EXPR} AS quadrant
FROM fin
"""


# ------------------------------------------------------ General G / quadrat
_GENERAL_G_EXPR = (
    "CASE WHEN den IS NULL OR den = 0 OR num IS NULL THEN NULL"
    " ELSE CAST(num AS DOUBLE) / CAST(den AS DOUBLE) END"
)


def general_g(tbl: LQTTable, zoom: int) -> DataFrame:
    """Getis–Ord General G — the GLOBAL companion to Gi*: is the
    overall concentration of HIGH values clustered? G = Σ_ij w_ij
    x_i x_j / Σ_{i≠j} x_i x_j over occupied tiles under queen
    contiguity (ordered pairs both ways, the morans_i convention —
    the symmetry cancels in the ratio). G > E[G] = W/(n(n−1)) →
    high values cluster; unlike Moran's I it is sensitive to
    clustering of HIGHS specifically (x is non-negative here).

    Integer-exact: numerator from the 8-offset scatter-gather
    (decimal(38,0) product sums), denominator in closed form
    S² − Σx² (no pair join), ONE shared double expression — hash-
    checkable vs the BETWEEN-join DuckDB twin. Tile-relation-sized.
    Output one row: (n_tiles, w_pairs, general_g, expected_g)."""
    g = _tile_counts(tbl, zoom)
    tot = g.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("x").cast("decimal(19,0)")).alias("s"),
        F.sum(_dec_prod("x", "x")).alias("sq"),
    )
    agg = _queen_pairs(g, zoom, "x").agg(
        F.count(F.lit(1)).alias("w"),
        F.sum(_dec_prod("a", "b")).alias("num"),
    )
    return (
        tot.crossJoin(agg)
        .selectExpr(
            "n AS n_tiles", "w AS w_pairs", "num", "s * s - sq AS den",
        )
        .selectExpr(
            "n_tiles", "w_pairs",
            _GENERAL_G_EXPR + " AS general_g",
            "CASE WHEN n_tiles <= 1 THEN NULL"
            " ELSE CAST(w_pairs AS DOUBLE)"
            " / (CAST(n_tiles AS DOUBLE) * (CAST(n_tiles AS DOUBLE) - 1.0))"
            " END AS expected_g",
        )
    )


def general_g_sql_duck(zoom: int) -> str:
    """DuckDB twin: BETWEEN neighbourhood self-join, HUGEINT sums,
    identical shared expressions. Embed after refenc(pref)."""
    return f"""
occ AS (SELECT pref AS tile_id, CAST(COUNT(*) AS BIGINT) AS x
        FROM refenc GROUP BY 1),
g AS (SELECT x,
             {cell_axis_expr(DUCK, 'tile_id', zoom, 0)} AS tx,
             {cell_axis_expr(DUCK, 'tile_id', zoom, 1)} AS ty
      FROM occ),
tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
               SUM(CAST(x AS HUGEINT)) AS s,
               SUM(CAST(x AS HUGEINT) * CAST(x AS HUGEINT)) AS sq
        FROM g),
prs AS (SELECT a.x AS xa, b.x AS xb
        FROM g a JOIN g b
          ON b.tx BETWEEN a.tx - 1 AND a.tx + 1
         AND b.ty BETWEEN a.ty - 1 AND a.ty + 1
         AND NOT (a.tx = b.tx AND a.ty = b.ty)),
pagg AS (SELECT CAST(COUNT(*) AS BIGINT) AS w,
                SUM(CAST(xa AS HUGEINT) * CAST(xb AS HUGEINT)) AS num
         FROM prs),
fin AS (SELECT tot.n AS n_tiles, pagg.w AS w_pairs, pagg.num AS num,
               tot.s * tot.s - tot.sq AS den
        FROM tot, pagg)
SELECT n_tiles, w_pairs,
       {_GENERAL_G_EXPR} AS general_g,
       CASE WHEN n_tiles <= 1 THEN NULL
            ELSE CAST(w_pairs AS DOUBLE)
            / (CAST(n_tiles AS DOUBLE) * (CAST(n_tiles AS DOUBLE) - 1.0))
            END AS expected_g
FROM fin
"""


def _quadrat_exprs(m: int) -> tuple[str, str]:
    """chi2 and its normal-approximation z as shared expressions over
    integer columns (sq = Σc², n = Σc); m = the full 4^zoom lattice
    size (empty cells are real quadrats with c = 0 — their Σc²
    contribution is 0, so the occupied rollup IS the lattice rollup).
    chi2 = Σ(c − n/m)²/(n/m) = (m·Σc² − n²)/n, integer-exactly."""
    chi2 = (
        f"CASE WHEN n = 0 THEN NULL ELSE "
        f"(CAST({m} AS DOUBLE) * CAST(sq AS DOUBLE)"
        f" - CAST(n AS DOUBLE) * CAST(n AS DOUBLE)) / CAST(n AS DOUBLE) END"
    )
    df = m - 1
    z = (
        f"CASE WHEN n = 0 THEN NULL ELSE "
        f"((chi2) - {float(df)!r}) / SQRT({float(2 * df)!r}) END"
    )
    return chi2, z


def quadrat_test(tbl: LQTTable, zoom: int) -> DataFrame:
    """Quadrat-count test of complete spatial randomness: the index of
    dispersion chi² = Σ_cells (c − n/m)²/(n/m) over the FULL 4^zoom
    lattice (m quadrats, empties included in closed form — the lattice
    is never materialized), with the normal approximation
    z = (chi² − df)/sqrt(2·df), df = m−1: z ≫ 0 → clustered,
    z ≪ 0 → regular/dispersed, |z| ≲ 2 → consistent with CSR.

    Integer-exact moments from ONE aggregate of the tile relation;
    chi² and z are shared double expressions (hash-checkable).
    Output one row: (n_points, n_quadrats, occupied_quadrats, chi2,
    dof, quadrat_z)."""
    m = 1 << (2 * zoom)
    chi2_e, z_e = _quadrat_exprs(m)
    g = _tile_counts(tbl, zoom)
    return (
        g.agg(
            F.sum("x").alias("n"),
            F.sum(F.col("x") * F.col("x")).alias("sq"),
            F.count(F.lit(1)).alias("occ"),
        )
        .selectExpr(
            "n AS n_points",
            f"CAST({m} AS BIGINT) AS n_quadrats",
            "occ AS occupied_quadrats",
            chi2_e + " AS chi2",
            f"CAST({m - 1} AS BIGINT) AS dof",
            "n", "sq",
        )
        .selectExpr(
            "n_points", "n_quadrats", "occupied_quadrats", "chi2", "dof",
            z_e + " AS quadrat_z",
        )
    )


def quadrat_test_sql_duck(zoom: int) -> str:
    """DuckDB twin: the same closed-form moments over refenc(pref)."""
    m = 1 << (2 * zoom)
    chi2_e, z_e = _quadrat_exprs(m)
    return f"""
occ AS (SELECT pref AS tile_id, CAST(COUNT(*) AS BIGINT) AS x
        FROM refenc GROUP BY 1),
mq AS (SELECT CAST(SUM(x) AS BIGINT) AS n,
              CAST(SUM(x * x) AS BIGINT) AS sq,
              CAST(COUNT(*) AS BIGINT) AS occ
       FROM occ),
fq AS (SELECT n AS n_points, CAST({m} AS BIGINT) AS n_quadrats,
              occ AS occupied_quadrats, {chi2_e} AS chi2,
              CAST({m - 1} AS BIGINT) AS dof, n, sq
       FROM mq)
SELECT n_points, n_quadrats, occupied_quadrats, chi2, dof,
       {z_e} AS quadrat_z
FROM fq
"""


# ------------------------------------------------------ join-count stats
def _jc_lattice_consts(zoom: int) -> dict[str, int]:
    """Closed-form queen-adjacency constants of the full 2^zoom lattice
    (never materialized): unordered edge count E, ordered weight sum
    W = 2E, Cliff-Ord S1 = 2W, S2 = 4·Σdeg² (degrees: interior 8,
    edge 5, corner 3 — boundary-clamped queen)."""
    n = 1 << zoom
    e_unord = 2 * n * (n - 1) + 2 * (n - 1) * (n - 1)
    w_ord = 2 * e_unord
    if n >= 2:
        sum_deg2 = (n - 2) * (n - 2) * 64 + 4 * (n - 2) * 25 + 4 * 9
    else:
        sum_deg2 = 0
    return {
        "N": n * n,
        "E": e_unord,
        "W": w_ord,
        "S1": 2 * w_ord,
        "S2": 4 * sum_deg2,
    }


def _jc_final_exprs(zoom: int) -> dict[str, str]:
    """The shared double expressions over the integer columns
    (nb, degsum, j): E[BB], Var(BB) (Cliff & Ord 1981, nonfree
    sampling), z_BB, and E[BW]. Constants bake in as literals — exact
    doubles while W² < 2^53 (zoom ≤ 12)."""
    c = _jc_lattice_consts(zoom)
    N, E, W, S1, S2 = c["N"], c["E"], c["W"], c["S1"], c["S2"]
    nbd = "CAST(nb AS DOUBLE)"
    r2 = f"({nbd} * ({nbd} - 1.0)) / ({float(N)!r} * {float(N - 1)!r})"
    r3 = f"{r2} * ({nbd} - 2.0) / {float(N - 2)!r}"
    r4 = f"{r3} * ({nbd} - 3.0) / {float(N - 3)!r}"
    e_bb = f"({float(E)!r} * {r2})"
    var_bb = (
        f"(0.25 * ({float(S1)!r} * {r2}"
        f" + {float(S2 - 2 * S1)!r} * {r3}"
        f" + {float(W * W + S1 - S2)!r} * {r4})"
        f" - {e_bb} * {e_bb})"
    )
    z_bb = (
        f"CASE WHEN nb < 4 OR {var_bb} <= 0.0 THEN NULL"
        f" ELSE (CAST(bb_pairs AS DOUBLE) - {e_bb}) / SQRT({var_bb}) END"
    )
    e_bw = (
        f"({float(W)!r} * {nbd} * ({float(N)!r} - {nbd}))"
        f" / ({float(N)!r} * {float(N - 1)!r})"
    )
    return {"e_bb": e_bb, "var_bb": var_bb, "z_bb": z_bb, "e_bw": e_bw}


def join_counts(tbl: LQTTable, zoom: int, thresh: int = 2) -> DataFrame:
    """Join-count statistics for the binary-marked lattice — the
    categorical companion to Moran's I (Cliff & Ord 1981): mark a tile
    Black when its point count ≥ ``thresh`` (every other lattice cell,
    occupied or empty, is White), count Black-Black / Black-White /
    White-White queen-adjacent cell pairs, and test BB against its
    nonfree-sampling (hypergeometric) expectation. z_bb ≫ 0 → the hot
    mask is spatially clumped beyond chance.

    Full-lattice in closed form (the Gi*/quadrat discipline): only the
    BLACK relation is ever materialized — BB is a stencil equi-join of
    the hot set with itself, the hot degree sum is boundary-clamped
    window arithmetic per hot tile, and total lattice edges / Cliff-Ord
    S1/S2 are zoom-only constants, so BW = degsum − 2·BB and
    WW = E − BB − BW come out exactly with no White cell ever built.

    Integer-exact counts; expectation/variance/z are ONE shared double
    expression over them (hash-checkable). Output one row:
    (n_cells, n_hot, bb_pairs, bw_pairs, ww_pairs, e_bb, var_bb, z_bb,
    e_bw)."""
    c = _jc_lattice_consts(zoom)
    fx = _jc_final_exprs(zoom)
    hot = track(
        _tile_counts(tbl, zoom)
        .filter(F.col("x") >= thresh)
        .select("tx", "ty")
    )
    jj = _queen_pairs(hot, zoom).agg(F.count(F.lit(1)).alias("j"))
    hs = hot.agg(
        F.count(F.lit(1)).alias("nb"),
        F.coalesce(F.sum(_queen_window(zoom) - 1), F.lit(0)).alias("degsum"),
    )
    return (
        hs.crossJoin(F.broadcast(jj))
        .selectExpr(
            f"CAST({c['N']} AS BIGINT) AS n_cells",
            "nb AS n_hot",
            # j counts ordered hot-hot adjacencies: always even
            "CAST(coalesce(j, 0) / 2 AS BIGINT) AS bb_pairs",
            "degsum - coalesce(j, 0) AS bw_pairs",
            f"CAST({c['E']} AS BIGINT) - CAST(coalesce(j, 0) / 2 AS BIGINT)"
            " - (degsum - coalesce(j, 0)) AS ww_pairs",
            "nb", "degsum",
        )
        .selectExpr(
            "n_cells", "n_hot", "bb_pairs", "bw_pairs", "ww_pairs",
            fx["e_bb"] + " AS e_bb",
            fx["var_bb"] + " AS var_bb",
            fx["z_bb"] + " AS z_bb",
            fx["e_bw"] + " AS e_bw",
        )
    )


def join_counts_sql_duck(zoom: int, thresh: int = 2) -> str:
    """DuckDB twin by the DEFINITION: hot set from refenc(pref) counts,
    BB via a BETWEEN self-join (a different plan family than the Spark
    stencil scatter), identical clamped-window degree arithmetic and
    final shared expressions."""
    m = (1 << zoom) - 1
    c = _jc_lattice_consts(zoom)
    fx = _jc_final_exprs(zoom)
    return f"""
occ AS (SELECT pref AS tile_id, CAST(COUNT(*) AS BIGINT) AS x
        FROM refenc GROUP BY 1),
hotg AS (SELECT {cell_axis_expr(DUCK, 'tile_id', zoom, 0)} AS tx,
                {cell_axis_expr(DUCK, 'tile_id', zoom, 1)} AS ty
         FROM occ WHERE x >= {thresh}),
jrel AS (SELECT CAST(COUNT(*) AS BIGINT) AS j
         FROM hotg a JOIN hotg b
           ON b.tx BETWEEN a.tx - 1 AND a.tx + 1
          AND b.ty BETWEEN a.ty - 1 AND a.ty + 1
          AND NOT (a.tx = b.tx AND a.ty = b.ty)),
hrel AS (SELECT CAST(COUNT(*) AS BIGINT) AS nb,
                CAST(COALESCE(SUM(
                  (LEAST(tx + 1, {m}) - GREATEST(tx - 1, 0) + 1)
                  * (LEAST(ty + 1, {m}) - GREATEST(ty - 1, 0) + 1) - 1
                ), 0) AS BIGINT) AS degsum
         FROM hotg),
jc AS (SELECT CAST({c['N']} AS BIGINT) AS n_cells, nb AS n_hot,
              CAST(COALESCE(j, 0) / 2 AS BIGINT) AS bb_pairs,
              degsum - COALESCE(j, 0) AS bw_pairs,
              CAST({c['E']} AS BIGINT) - CAST(COALESCE(j, 0) / 2 AS BIGINT)
                - (degsum - COALESCE(j, 0)) AS ww_pairs,
              nb, degsum
       FROM hrel, jrel)
SELECT n_cells, n_hot, bb_pairs, bw_pairs, ww_pairs,
       {fx['e_bb']} AS e_bb,
       {fx['var_bb']} AS var_bb,
       {fx['z_bb']} AS z_bb,
       {fx['e_bw']} AS e_bw
FROM jc
"""


# ------------------------------------------------------------- Geary's C
_GEARY_C_EXPR = (
    "CASE WHEN w = 0 OR sumd2 = 0 OR sumd2 IS NULL OR ssw IS NULL THEN NULL"
    " ELSE (CAST(n AS DOUBLE) - 1.0) * CAST(n AS DOUBLE) * CAST(n AS DOUBLE)"
    " * CAST(ssw AS DOUBLE)"
    " / (2.0 * CAST(w AS DOUBLE) * CAST(sumd2 AS DOUBLE)) END"
)


def geary_c(tbl: LQTTable, zoom: int) -> DataFrame:
    """Geary's C of per-tile density under queen contiguity — the
    difference-based global autocorrelation statistic, completing the
    classic trio with :func:`morans_i` (cross-product form) and
    :func:`join_counts` (categorical form):

        C = (n−1) · Σ_ij w_ij (x_i − x_j)² / (2W · Σ_i (x_i − x̄)²)

    over the occupied tiles; E[C] = 1 under CSR, C < 1 → positively
    autocorrelated (neighbors alike), C > 1 → dispersed. C weights
    LOCAL differences, so it reacts to short-range structure Moran's I
    (a global cross-product) can wash out — the standard reason to
    report both.

    Integer-exact: Σw(x_i−x_j)² is an integer sum outright (the
    scatter-gather pair relation, decimal(38,0)); the denominator uses
    the morans_i substitution Σ(x_i−x̄)² = Σ(n·x_i−S)²/n², so
    C = (n−1)·n²·SSW / (2W·Σd²) with every sum integral and ONE shared
    double expression at the end. Tile-relation-sized (the data never
    joins). Output one row: (n_tiles, w_pairs, geary_c, expected_c)."""
    d = _deviations(tbl, zoom)
    diff = F.col("a") - F.col("b")
    agg = _queen_pairs(d, zoom, "x").agg(
        F.count(F.lit(1)).alias("w"),
        F.sum(_dec_prod(diff, diff)).alias("ssw"),
    )
    den = d.agg(
        F.sum(_dec_prod("dv", "dv")).alias("sumd2"),
        F.first("n").alias("n"),
    )
    return den.crossJoin(agg).selectExpr(
        "n AS n_tiles",
        "w AS w_pairs",
        _GEARY_C_EXPR + " AS geary_c",
        "CASE WHEN n <= 1 THEN NULL ELSE CAST(1.0 AS DOUBLE) END AS expected_c",
    )


def geary_c_sql_duck(zoom: int) -> str:
    """DuckDB twin by the DEFINITION: BETWEEN neighbourhood self-join,
    HUGEINT sums, the identical shared expression. Embed after
    refenc(pref)."""
    return f"""
occ AS (SELECT pref AS tile_id, CAST(COUNT(*) AS BIGINT) AS x
        FROM refenc GROUP BY 1),
g AS (SELECT x,
             {cell_axis_expr(DUCK, 'tile_id', zoom, 0)} AS tx,
             {cell_axis_expr(DUCK, 'tile_id', zoom, 1)} AS ty
      FROM occ),
tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(x) AS BIGINT) AS s
        FROM g),
dev AS (SELECT g.tx, g.ty, g.x,
               CAST(tot.n * g.x - tot.s AS HUGEINT) AS dv, tot.n
        FROM g, tot),
prs AS (SELECT a.x AS xa, b.x AS xb
        FROM dev a JOIN dev b
          ON b.tx BETWEEN a.tx - 1 AND a.tx + 1
         AND b.ty BETWEEN a.ty - 1 AND a.ty + 1
         AND NOT (a.tx = b.tx AND a.ty = b.ty)),
pagg AS (SELECT CAST(COUNT(*) AS BIGINT) AS w,
                SUM(CAST(xa - xb AS HUGEINT) * CAST(xa - xb AS HUGEINT)) AS ssw
         FROM prs),
dagg AS (SELECT SUM(dv * dv) AS sumd2, ANY_VALUE(n) AS n FROM dev),
fin AS (SELECT dagg.n AS n, pagg.w AS w, pagg.ssw AS ssw, dagg.sumd2 AS sumd2
        FROM dagg, pagg)
SELECT n AS n_tiles, w AS w_pairs,
       {_GEARY_C_EXPR} AS geary_c,
       CASE WHEN n <= 1 THEN NULL ELSE CAST(1.0 AS DOUBLE) END AS expected_c
FROM fin
"""


# ---------------------------------------------------------- spatial Gini
def tile_gini(tbl: LQTTable, zoom: int, full_lattice: bool = True) -> DataFrame:
    """Geographic Gini coefficient of activity across tiles — the
    standard inequality summary ("how concentrated is the corpus on
    the map"), computed by the sorted-rank identity

        G = (2·Σ_i i·x_(i) − (N+1)·Σx) / (N·Σx),   x sorted ascending

    with integer-exact numerator/denominator and ONE final double
    division. ``full_lattice=True`` (default) measures over ALL 4^zoom
    cells with empties as zeros — in closed form: z empty cells occupy
    ranks 1..z contributing nothing, so Σ i·x = z·S + Σ j·x_(j) over
    the occupied relation alone (the Gi*/join_counts discipline: the
    lattice never materializes). G = 0 uniform, → 1 fully concentrated.

    Ties are rank-order invariant (equal x values contribute the same
    Σ i·x under any permutation), so the global sort is deterministic
    by construction. Scale note: the rank is ONE unpartitioned window
    over the TILE relation (≤ 4^zoom rows — fine to zoom ~12); beyond
    that, bin counts first (the quantiles discipline).

    Output one row: (n_cells, n_occupied, sum_points, gini_num,
    gini_den, gini). gini_num and gini_den are BIGINT: the exact
    DECIMAL (HUGEINT in DuckDB) arithmetic stays inside the sums."""
    n_lattice = 1 << (2 * zoom)
    from pyspark.sql import Window

    g = _tile_counts(tbl, zoom).select("tile_id", "x")
    w = Window.orderBy(F.col("x"), F.col("tile_id"))
    ranked = g.withColumn("_j", F.row_number().over(w))
    agg = ranked.agg(
        F.count(F.lit(1)).alias("occ"),
        F.sum("x").alias("s"),
        F.sum(F.col("_j").cast("decimal(19,0)") * F.col("x").cast("decimal(19,0)"))
        .alias("jx"),
    )
    n_expr = str(n_lattice) if full_lattice else "occ"
    zoff = (
        f"(CAST({n_lattice} AS DECIMAL(38,0)) - CAST(occ AS DECIMAL(38,0)))"
        if full_lattice
        else "CAST(0 AS DECIMAL(38,0))"
    )
    return agg.selectExpr(
        f"CAST({n_expr} AS BIGINT) AS n_cells",
        "occ AS n_occupied",
        "s AS sum_points",
        f"CAST(2 * ({zoff} * CAST(s AS DECIMAL(38,0)) + jx)"
        f" - (CAST({n_expr} AS DECIMAL(38,0)) + 1) * CAST(s AS DECIMAL(38,0))"
        " AS BIGINT) AS gini_num",
        f"CAST(CAST({n_expr} AS DECIMAL(38,0)) * CAST(s AS DECIMAL(38,0))"
        " AS BIGINT) AS gini_den",
        "CASE WHEN s = 0 OR s IS NULL THEN NULL"
        f" ELSE CAST(2 * ({zoff} * CAST(s AS DECIMAL(38,0)) + jx)"
        f" - (CAST({n_expr} AS DECIMAL(38,0)) + 1) * CAST(s AS DECIMAL(38,0))"
        " AS DOUBLE)"
        f" / CAST(CAST({n_expr} AS DECIMAL(38,0)) * CAST(s AS DECIMAL(38,0))"
        " AS DOUBLE) END AS gini",
    )


def tile_gini_sql_duck(zoom: int, full_lattice: bool = True) -> str:
    """DuckDB twin — same rank identity over refenc(pref), HUGEINT
    sums, the identical closed-form zero-offset."""
    n_lattice = 1 << (2 * zoom)
    n_expr = str(n_lattice) if full_lattice else "occ"
    zoff = (
        f"(CAST({n_lattice} AS HUGEINT) - CAST(occ AS HUGEINT))"
        if full_lattice
        else "CAST(0 AS HUGEINT)"
    )
    return f"""
gocc AS (SELECT pref AS tile_id, CAST(COUNT(*) AS BIGINT) AS x
         FROM refenc GROUP BY 1),
grk AS (SELECT x, ROW_NUMBER() OVER (ORDER BY x, tile_id) AS j FROM gocc),
gagg AS (SELECT CAST(COUNT(*) AS BIGINT) AS occ,
                CAST(SUM(x) AS BIGINT) AS s,
                SUM(CAST(j AS HUGEINT) * CAST(x AS HUGEINT)) AS jx
         FROM grk)
SELECT CAST({n_expr} AS BIGINT) AS n_cells,
       occ AS n_occupied,
       s AS sum_points,
       CAST(2 * ({zoff} * CAST(s AS HUGEINT) + jx)
            - (CAST({n_expr} AS HUGEINT) + 1) * CAST(s AS HUGEINT)
         AS BIGINT) AS gini_num,
       CAST(CAST({n_expr} AS HUGEINT) * CAST(s AS HUGEINT)
         AS BIGINT) AS gini_den,
       CASE WHEN s = 0 OR s IS NULL THEN NULL
            ELSE CAST(2 * ({zoff} * CAST(s AS HUGEINT) + jx)
                 - (CAST({n_expr} AS HUGEINT) + 1) * CAST(s AS HUGEINT)
                 AS DOUBLE)
                 / CAST(CAST({n_expr} AS HUGEINT) * CAST(s AS HUGEINT)
                        AS DOUBLE) END AS gini
FROM gagg
"""
