"""Spatial query operators over a built LQTTable — the operator layer the
north rule requires on top of the reference's construction kernel
(SURVEY §2.9: the reference implements no queries; these are key-range
algebra over its verified encoding).

Every operator is filter-refine:

* **filter** — zkey prefix pruning (range predicate or grid-cell
  equi-join) against the zs-sorted main relation, plus a full scan of the
  tiny prefix-unfaithful side relation; provably a candidate superset
  (see functions/encode.py);
* **refine** — exact float64 geometry on (x, y) (functions/geometry.py),
  which alone determines the answer.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from linear_quadtree_spark.functions.geocell import (
    _interleave_expr,
    _queen_scatter,
    _queen_window,
    axis_index_expr,
    cell_axis_expr,
    cell_rect_sql,
    cell_wkt_sql,
)
from linear_quadtree_spark.functions.encode import tile_id_col
from linear_quadtree_spark.functions.textexpr import SPARK
from linear_quadtree_spark.cache import track
from linear_quadtree_spark.operators.build import LQTTable, STORE_SPLIT_LEVEL

__all__ = [
    "bbox_query",
    "point_in_polygon_join",
    "knn_join",
    "distance_join",
    "tile_stats",
    "tile_polygons",
    "rasterize_polygons",
    "rasterize_polygons_sql_duck",
    "polygon_tile_iou",
    "polygon_tile_iou_sql_duck",
    "tile_coverage_gaps",
    "tile_coverage_gaps_sql_duck",
    "tile_pyramid",
    "occupancy_hist",
    "focal_smooth",
    "focal_smooth_sql_duck",
    "nearest_site",
    "nearest_site_sql_duck",
]


def bbox_query(
    tbl: LQTTable,
    x0: float,
    x1: float,
    y0: float,
    y1: float,
    level: int = 10,
) -> DataFrame:
    """All rows with x0 <= x <= x1 and y0 <= y <= y1 (closed rect).

    Plan: OR-of-BETWEENs on zs (pushed into the parquet/Iceberg scan as
    row-group pruning on the sorted layout) ∪ side scan, then the exact
    coordinate predicate (also pushed down; JVM-side, no UDF anywhere).
    """
    ranges = tbl.cover(x0, x1, y0, y1, max_level=level)
    xc, yc = F.col(tbl.x_col), F.col(tbl.y_col)
    exact = (xc >= x0) & (xc <= x1) & (yc >= y0) & (yc <= y1)
    return tbl.candidates(ranges).filter(exact)


#: even-odd ray-crossing contribution of one edge struct ``e`` against the
#: candidate point (_px, _py) — the IDENTICAL literal-double formula the
#: DuckDB correctness oracle runs (nested CASE so horizontal edges never
#: divide), so Spark and the oracle make bit-identical decisions.
_EDGE_CROSSING_SQL = (
    "CASE WHEN ({y1} > _py) != ({y2} > _py) "
    "THEN CASE WHEN _px < ({x2} - {x1}) * (_py - {y1}) / ({y2} - {y1}) + {x1} "
    "THEN 1 ELSE 0 END ELSE 0 END"
)


def _cell_candidates(
    tbl: LQTTable, probes: DataFrame, cols: list[str], box: tuple, level: int
) -> DataFrame:
    """Candidate rows for every probe row's closed box ``(x0, x1, y0, y1)``
    (Column expressions over ``probes``): the table's columns plus the
    probe's ``cols``, a superset of the rows inside the box.

    Main rows: each box is fanned out to the level-``level`` cells of the
    ideal float64 grid with ``explode(sequence)`` per axis, padded one
    cell per side and clamped into ``[0, 2^level - 1]``, Morton-folded to
    zkey prefixes and broadcast equi-joined on ``zkey >>> (64-2L)``. Side
    rows (prefix-unfaithful, tiny): a broadcast join on the box itself.

    Conservativeness: main-table rows are prefix-faithful to the
    *float32 descent grid* (encode.py); this enumerates the *ideal*
    float64 grid padded by one cell per side. The float32 grid's
    boundaries deviate from ideal by < level·ULP(coordinate) ≈ 1.5e-3,
    orders of magnitude under one cell width at any level ≤
    STORE_SPLIT_LEVEL, so the pad strictly covers the deviation. Level 0
    is refused: its shift 64 is masked to 0 by the JVM, so the join key
    would be the whole zkey and match almost nothing."""
    if not 1 <= level <= STORE_SPLIT_LEVEL:
        raise ValueError(f"cell level must be in [1, {STORE_SPLIT_LEVEL}], got {level}")
    b = tbl.bounds
    n_cells = 1 << level
    cw = (b.xend - b.xstart) / n_cells
    ch = (b.yend - b.ystart) / n_cells
    x0, x1, y0, y1 = box

    def _clamp(c):
        return F.greatest(F.lit(0).cast("long"), F.least(F.lit(n_cells - 1).cast("long"), c))

    def _axis(lo, hi, start: float, w: float):
        # clamp BOTH ends into [0, n-1]: a box outside the domain
        # otherwise leaves lo unbounded above (or hi below), and Spark's
        # sequence(start, stop) with start > stop counts DOWN — a far
        # out-of-domain probe would try to materialize a billion-element
        # index array (regression-tested)
        return F.explode(F.sequence(
            _clamp(F.floor((lo - F.lit(start)) / F.lit(w)) - 1),
            _clamp(F.floor((hi - F.lit(start)) / F.lit(w)) + 1),
        ))

    # cell prefixes and shiftrightunsigned(zkey) are both plain
    # non-negative longs — no sign-flip needed on the equi-join key
    cells = (
        probes.withColumn("ix", _axis(x0, x1, b.xstart, cw))
        .withColumn("iy", _axis(y0, y1, b.ystart, ch))
        .withColumn("cell", F.expr(_interleave_expr(SPARK, "(ix)", "(iy)", level)))
        .select(*cols, "cell")
    )
    cand_main = (
        tbl.main.withColumn("_cell", tile_id_col(F.col("zkey"), level))
        .join(F.broadcast(cells), F.col("_cell") == F.col("cell"), "inner")
        .drop("_cell", "cell")
    )
    xc, yc = F.col(tbl.x_col), F.col(tbl.y_col)
    cand_side = tbl.side.join(
        F.broadcast(probes), (xc >= x0) & (xc <= x1) & (yc >= y0) & (yc <= y1), "inner"
    ).select(*tbl.side.columns, *cols)
    return cand_main.unionByName(cand_side)


def point_in_polygon_join(
    tbl: LQTTable,
    polygons: DataFrame,
    level: int = 8,
    max_cells_per_poly: int = 4096,
) -> DataFrame:
    """Join: every (point row, poly_id) with the point strictly inside the
    polygon (even-odd rule).

    Fully distributed — the polygon dimension stays a DataFrame end to
    end (no driver collect, no closure dict, no per-polygon Python loop),
    so 10^4+ polygons cost the same plan shape as 4:

    1. per-polygon bbox via ``array_min/array_max`` column expressions;
    2. ONE scalar pair to the driver (the widest bbox extents) picks the
       shared cover level 1 ≤ L ≤ min(level, STORE_SPLIT_LEVEL) such that
       the widest polygon's padded cover fits ``max_cells_per_poly``;
    3. bbox → candidate rows through ``_cell_candidates``, the cell
       fan-out and broadcast equi-join on ``cell = zkey >>> (64-2L)``
       (AQE can skew-split hot cells) the kNN operator uses too;
    4. exact even-odd refine with ZERO Python and the oracle's exact
       arithmetic: edges aggregated per polygon into an array column,
       broadcast-joined to candidates, crossing parity via an
       ``aggregate()`` fold — map-only, no extra shuffle; right while
       per-polygon vertex counts are broadcastable (≤ ~10^3 vertices ×
       10^4 polygons).
    """
    if level < 1:
        raise ValueError(f"level must be >= 1, got {level}")
    b = tbl.bounds
    bw, bh = b.xend - b.xstart, b.yend - b.ystart

    pb = polygons.select(
        "poly_id",
        "xs",
        "ys",
        F.array_min("xs").alias("bx0"),
        F.array_max("xs").alias("bx1"),
        F.array_min("ys").alias("by0"),
        F.array_max("ys").alias("by1"),
    )

    # shared cover level: the one driver-side scalar of the whole plan —
    # an aggregate of the polygon relation, not a materialization of it
    ext = pb.agg(
        F.max(F.col("bx1") - F.col("bx0")).alias("w"),
        F.max(F.col("by1") - F.col("by0")).alias("h"),
    ).collect()[0]
    shared_level = min(level, STORE_SPLIT_LEVEL)
    if ext["w"] is not None:
        while shared_level > 1:
            n = 1 << shared_level
            ncx = int(ext["w"] / (bw / n)) + 3
            ncy = int(ext["h"] / (bh / n)) + 3
            if ncx * ncy <= max_cells_per_poly:
                break
            shared_level -= 1

    box = (F.col("bx0"), F.col("bx1"), F.col("by0"), F.col("by1"))
    xc, yc = F.col(tbl.x_col), F.col(tbl.y_col)
    cand = (
        _cell_candidates(tbl, pb, ["poly_id"], box, shared_level)
        .withColumn("_px", xc.cast("double"))
        .withColumn("_py", yc.cast("double"))
    )
    out_cols = [c for c in cand.columns if c not in ("_px", "_py")]
    edge_arr = (
        "transform(sequence(0, size(xs) - 1), i -> named_struct("
        "'x1v', xs[i], 'y1v', ys[i], "
        "'x2v', xs[(i + 1) % size(xs)], 'y2v', ys[(i + 1) % size(ys)]))"
    )
    poly_edges = polygons.select("poly_id", F.expr(edge_arr).alias("_edges"))
    cr = _EDGE_CROSSING_SQL.format(x1="e.x1v", y1="e.y1v", x2="e.x2v", y2="e.y2v")
    parity = f"aggregate(_edges, CAST(0 AS BIGINT), (acc, e) -> acc + ({cr})) % 2 = 1"
    return (
        cand.join(F.broadcast(poly_edges), "poly_id")
        .filter(F.expr(parity))
        .select(*out_cols)
    )


def knn_join(
    tbl: LQTTable,
    queries: DataFrame,
    k: int,
    level: int = 10,
    initial_radius: float | None = None,
    stats_out: dict | None = None,
) -> DataFrame:
    """Exact k-nearest-neighbors for each query point (SURVEY §2.9 ring
    expansion), fully distributed: the query table stays a DataFrame
    end-to-end (cell enumeration, candidate join, resolution, and the
    expand-anti-join are all DataFrame ops); the driver holds only the
    round counter and one stats row (count, min r, max r) per round.

    PER-QUERY adaptive radius (round-3): ``r`` is a COLUMN of the
    unresolved set. Per round: ``_cell_candidates`` fans each query's own
    r-square out to level-L grid cells, broadcast equi-joined against
    ``zkey >>> (64-2L)`` on the main relation (+ a box broadcast join
    against the tiny side relation); keep candidates with dist² ≤ r²,
    window top-k per query. A query resolves when it has ≥ k candidates
    within its r: the square covers the full r-disk, so nothing outside
    can beat the k-th hit — exactness is unconditional regardless of the
    expansion schedule. Unresolved queries then expand INDIVIDUALLY from
    their observed local density: a query that found m of k candidates
    expands by ~1.5·√(k/m) (the radius a uniform local density needs,
    with slack), clamped to [2, 8]; a query that found nothing expands
    ×8 — so one far outlier stops forcing extra ×4 global rounds on
    everyone and itself converges in log₈ instead of log₄ rounds. The
    shared cell level per round spans the in-flight radius range
    (matched to the smallest r, capped 3 levels below the largest so no
    query fans out more than ~19² cells). A query whose r exceeds ITS
    OWN distance to the farthest domain corner has seen every row —
    it emits its (complete-as-possible) partial result and leaves the
    set; out-of-domain queries start at their distance to the domain
    (jumpstart) so they never burn rounds on radii that cannot reach a
    point. Every r grows ≥×2 per round → O(log(span/r₀)) rounds,
    always terminates.

    Returns (qid, qx, qy, payload columns..., dist2, rn). Distance:
    squared Euclidean float64, ties broken by the tiebreaker. Round
    caches are registered with cache.track; call
    ``cache.release_caches()`` (or wrap in ``cache_scope``) after
    consuming the result. ``stats_out``, if given, receives
    {"rounds": int} for diagnostics/tests.
    """
    n_est = tbl.build_metrics.get("rows") or max(tbl.main.count(), 1)
    bw = tbl.bounds.xend - tbl.bounds.xstart
    bh = tbl.bounds.yend - tbl.bounds.ystart
    if initial_radius is None:
        initial_radius = max(math.sqrt(k * bw * bh / n_est) * 2.0, 1e-6)
    max_level = min(level, STORE_SPLIT_LEVEL)

    tb = tbl.tiebreaker or tbl.x_col
    xc, yc = F.col(tbl.x_col), F.col(tbl.y_col)

    def _lvl_for(r: float) -> int:
        # cell width ≈ r keeps the per-query cell count O(1) (≤ ~5×5)
        if r >= max(bw, bh):
            return 1
        return max(1, min(max_level, int(math.floor(math.log2(max(bw, bh) / r)))))

    # per-query geometry: every table point lies inside the domain, so
    # (a) a query's search is COMPLETE once r reaches its distance to
    # the FARTHEST domain corner (the per-query exhaustion bound —
    # a global domain-diagonal bound silently returned empty results
    # for queries far OUTSIDE the domain, regression-tested), and
    # (b) r can start at the distance to the NEAREST domain point
    # (jumpstart: a far query skips the useless small-r rounds).
    dxn = F.greatest(
        F.lit(0.0), F.lit(tbl.bounds.xstart) - F.col("qx"), F.col("qx") - F.lit(tbl.bounds.xend)
    )
    dyn = F.greatest(
        F.lit(0.0), F.lit(tbl.bounds.ystart) - F.col("qy"), F.col("qy") - F.lit(tbl.bounds.yend)
    )
    dxf = F.greatest(
        F.abs(F.col("qx") - F.lit(tbl.bounds.xstart)),
        F.abs(F.col("qx") - F.lit(tbl.bounds.xend)),
    )
    dyf = F.greatest(
        F.abs(F.col("qy") - F.lit(tbl.bounds.ystart)),
        F.abs(F.col("qy") - F.lit(tbl.bounds.yend)),
    )
    unresolved = track(
        queries.select("qid", "qx", "qy")
        .withColumn(
            "r",
            F.greatest(
                F.lit(float(initial_radius)),
                F.sqrt(dxn * dxn + dyn * dyn) + F.lit(float(initial_radius)),
            ),
        )
        .withColumn("maxr", F.sqrt(dxf * dxf + dyf * dyf) * 2 + F.lit(1.0))
    )
    prev_unresolved = None
    r_min = r_max = float(initial_radius)
    results: list[DataFrame] = []
    rounds = 0

    while True:
        rounds += 1
        # shared level spanning the in-flight radius range: matched to the
        # smallest radius (tight pruning), capped 3 levels below the level
        # of the largest (bounds the widest query's fan-out at ~19² cells)
        lvl = max(1, min(_lvl_for(r_min), _lvl_for(r_max) + 3))
        qx, qy, r = F.col("qx"), F.col("qy"), F.col("r")
        box = (qx - r, qx + r, qy - r, qy + r)
        dx = xc.cast("double") - qx
        dy = yc.cast("double") - qy
        cand = (
            _cell_candidates(tbl, unresolved, ["qid", "qx", "qy", "r"], box, lvl)
            .withColumn("dist2", dx * dx + dy * dy)
            .filter(F.col("dist2") <= F.col("r") * F.col("r"))
            .drop("r")
        )
        w = Window.partitionBy("qid").orderBy("dist2", tb)
        topk = track(cand.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= k))
        found = topk.groupBy("qid").agg(F.count(F.lit(1)).alias("_cnt"))
        seen = unresolved.join(F.broadcast(found), "qid", "left").withColumn(
            "_cnt", F.coalesce(F.col("_cnt"), F.lit(0))
        )
        # a query is done when it holds k candidates within its r, or when
        # its r already covers the entire domain FROM ITS POSITION (the
        # per-query bound): fewer than k rows exist for it, the answer
        # cannot improve, so its partial result is emitted and it retires
        done = (F.col("_cnt") >= k) | (F.col("r") > F.col("maxr"))
        finished = seen.filter(done).select("qid")
        results.append(topk.join(F.broadcast(finished), "qid", "semi"))
        grow = F.when(F.col("_cnt") <= 0, F.lit(8.0)).otherwise(
            F.least(
                F.lit(8.0),
                F.greatest(
                    F.lit(2.0),
                    F.lit(1.5) * F.sqrt(F.lit(float(k)) / F.col("_cnt")),
                ),
            )
        )
        nxt = track(
            seen.filter(~done)
            .withColumn("r", F.col("r") * grow)
            .select("qid", "qx", "qy", "r", "maxr")
        )
        # the ONE driver-side action per round: remaining count + the
        # next round's radius envelope in a single stats row
        stats = nxt.agg(
            F.count(F.lit(1)).alias("n"),
            F.min("r").alias("rmin"),
            F.max("r").alias("rmax"),
        ).collect()[0]
        if prev_unresolved is not None:
            prev_unresolved.unpersist()
        prev_unresolved, unresolved = unresolved, nxt
        if not stats["n"]:
            break
        r_min, r_max = float(stats["rmin"]), float(stats["rmax"])

    if stats_out is not None:
        stats_out["rounds"] = rounds
    out = results[0]
    for res in results[1:]:
        out = out.unionByName(res)
    return out


# forward half of the 3x3 neighborhood: (dy, dx) lexicographically
# positive. For any two distinct same-or-adjacent cells exactly one of
# the difference vectors {f, -f} is forward, so each unordered cell
# pair joins exactly once; the (0,0) self-cell case is ordered by id.
_FORWARD_OFFSETS = ((0, 0), (1, 0), (-1, 1), (0, 1), (1, 1))


def distance_join(
    tbl: LQTTable,
    r: float,
    id_col: str | None = None,
) -> DataFrame:
    """All unordered pairs of distinct rows within Euclidean distance
    ``r`` — the spatial self-join (within-distance join) that completes
    the join family (bbox scan, point-in-polygon, kNN; SURVEY §2.9 key
    algebra generalized to pair enumeration).

    Plan (ONE shuffle, no broadcast of the big side, no driver state):
    bucket every row into a uniform grid of width exactly ``r`` with
    two floor expressions; a pair within ``r`` then necessarily lands
    in the same or 8-adjacent cells. The probe side is exploded over
    the FORWARD half-neighborhood only (5 of 9 offsets), so every
    unordered cell pair joins exactly once — no distinct/dedup shuffle
    afterwards; same-cell pairs are ordered by id instead. Exact
    float64 refine keeps only true pairs; output ids are canonicalized
    ``id_a < id_b``.

    Scale shape: candidates are density-bounded — O(n x mean points
    per r-cell), never all-pairs; the single equi-join on (jx, jy) is
    AQE-skew-splittable for hot cells, and the 5x row expansion rides
    the shuffle's map side. At 100 TB with a sane r (comparable to the
    typical nearest-neighbor spacing) this is the standard DISTRIBUTED
    spatial-join shape; a pathological r covering the whole domain
    degrades to all-pairs by problem definition, not by plan choice.
    """
    if r <= 0:
        raise ValueError("r must be positive")
    id_col = id_col or tbl.tiebreaker
    if id_col is None:
        # falling back to a coordinate column would make id_l < id_r
        # false both ways for same-cell pairs sharing that coordinate —
        # silently dropped pairs, not an error
        raise ValueError(
            "distance_join needs a unique id column: pass id_col= or "
            "build the table with a tiebreaker"
        )
    xs, ys = tbl.bounds.xstart, tbl.bounds.ystart
    full = tbl.main.unionByName(tbl.side, allowMissingColumns=True)
    g = full.select(
        F.col(id_col).alias("id"),
        F.col(tbl.x_col).cast("double").alias("px"),
        F.col(tbl.y_col).cast("double").alias("py"),
    ).withColumn(
        "ix", F.floor((F.col("px") - F.lit(xs)) / F.lit(r))
    ).withColumn(
        "iy", F.floor((F.col("py") - F.lit(ys)) / F.lit(r))
    )
    build = g.select(
        F.col("id").alias("id_l"),
        F.col("px").alias("px_l"),
        F.col("py").alias("py_l"),
        F.col("ix").alias("jx"),
        F.col("iy").alias("jy"),
    )
    offs = F.array(
        *[
            F.struct(F.lit(dx).alias("dx"), F.lit(dy).alias("dy"))
            for dx, dy in _FORWARD_OFFSETS
        ]
    )
    probe = (
        g.withColumn("o", F.explode(offs))
        .select(
            F.col("id").alias("id_r"),
            F.col("px").alias("px_r"),
            F.col("py").alias("py_r"),
            (F.col("ix") + F.col("o.dx")).alias("jx"),
            (F.col("iy") + F.col("o.dy")).alias("jy"),
            ((F.col("o.dx") == 0) & (F.col("o.dy") == 0)).alias("same_cell"),
        )
    )
    dx = F.col("px_l") - F.col("px_r")
    dy = F.col("py_l") - F.col("py_r")
    return (
        build.join(probe, ["jx", "jy"])
        .filter(~F.col("same_cell") | (F.col("id_l") < F.col("id_r")))
        .withColumn("dist2", dx * dx + dy * dy)
        .filter(F.col("dist2") <= F.lit(float(r) * float(r)))
        .select(
            F.least("id_l", "id_r").alias("id_a"),
            F.greatest("id_l", "id_r").alias("id_b"),
            "dist2",
        )
    )


def distance_join_ab(
    a: DataFrame,
    b: DataFrame,
    r: float,
    a_id_col: str = "id_a",
    b_id_col: str = "id_b",
    a_xy: tuple[str, str] = ("px", "py"),
    b_xy: tuple[str, str] = ("sx", "sy"),
    broadcast_b: bool = False,
    sample_per_cell: int | None = None,
) -> DataFrame:
    """Bipartite within-distance join: every (a, b) pair across TWO
    point tables with Euclidean distance ≤ r — geofence matching
    (events × fences), POI tagging (pages × landmarks), sensor-to-site
    association. Completes the join family next to the self-join
    `distance_join` (same grid discipline, different pairing rules: the
    b side explodes over the FULL 9-offset neighborhood — bipartite
    pairs have no symmetry to halve — and no id canonicalization).

    Plan: both sides bucket into a uniform r-width grid (two floor
    expressions each); the 9× fan-out rides the SMALLER side (b); one
    equi-join on the cell — shuffled, or broadcast when ``broadcast_b``
    says the exploded b side fits (sites/fences usually do, making the
    whole join map-only); exact float64 refine. Candidates are
    density-bounded at any scale; AQE splits hot cells.
    Output: (a_id_col, b_id_col, dist2).

    ``sample_per_cell=s`` pushes SAMPLING BELOW THE JOIN (the "random
    sampling over spatial range joins" problem — one of the retrieved
    OLAP papers, ICDE 2025): candidates are ranked per grid cell by a
    deterministic integer pair hash and capped at s BEFORE the exact
    distance refine, so a pathologically dense cell contributes at
    most s refined pairs instead of |A_cell|·|B_cell|. The rank filter
    sits directly above its window and compiles to WindowGroupLimit —
    each map task forwards ≤ s candidates per cell before any
    exchange, so the full candidate set never crosses the wire. Every
    cell is a disjoint stratum (an a-row buckets into exactly one
    cell), so the output is a per-stratum uniform-by-hash sample of
    the join's candidates, refined exactly — deterministic,
    reproducible, and cross-engine identical (the oracle twin renders
    the same hash/rank text)."""
    if r <= 0:
        raise ValueError("r must be positive")
    ax, ay = a_xy
    bx, by = b_xy
    ga = a.select(
        F.col(a_id_col),
        F.col(ax).cast("double").alias("_pax"),
        F.col(ay).cast("double").alias("_pay"),
    ).withColumn("jx", F.floor(F.col("_pax") / F.lit(r))).withColumn(
        "jy", F.floor(F.col("_pay") / F.lit(r))
    )
    offs = F.array(
        *[
            F.struct(F.lit(dx).alias("dx"), F.lit(dy).alias("dy"))
            for dy in (-1, 0, 1)
            for dx in (-1, 0, 1)
        ]
    )
    gb = (
        b.select(
            F.col(b_id_col),
            F.col(bx).cast("double").alias("_pbx"),
            F.col(by).cast("double").alias("_pby"),
        )
        .withColumn("o", F.explode(offs))
        .select(
            b_id_col,
            "_pbx",
            "_pby",
            (F.floor(F.col("_pbx") / F.lit(r)) + F.col("o.dx")).alias("jx"),
            (F.floor(F.col("_pby") / F.lit(r)) + F.col("o.dy")).alias("jy"),
        )
    )
    if broadcast_b:
        gb = F.broadcast(gb)
    dx = F.col("_pax") - F.col("_pbx")
    dy = F.col("_pay") - F.col("_pby")
    cand = ga.join(gb, ["jx", "jy"])
    if sample_per_cell is not None:
        if sample_per_cell < 1:
            raise ValueError("sample_per_cell must be >= 1")
        cand = (
            cand.withColumn(
                "_h", F.expr(pair_hash_sql(a_id_col, b_id_col))
            )
            .withColumn(
                "_rk",
                F.row_number().over(
                    Window.partitionBy("jx", "jy").orderBy(
                        "_h", a_id_col, b_id_col
                    )
                ),
            )
            .filter(F.col("_rk") <= sample_per_cell)
            .drop("_h", "_rk")
        )
    return (
        cand.withColumn("dist2", dx * dx + dy * dy)
        .filter(F.col("dist2") <= F.lit(float(r) * float(r)))
        .select(a_id_col, b_id_col, "dist2")
    )


def pair_hash_sql(a_id: str, b_id: str) -> str:
    """Deterministic 32-bit pair hash as ONE SQL text valid in both
    engines (Knuth multiplicative family; every intermediate stays
    under 2^63 by reducing ids to 31 bits and each product mod 2^32
    before the sum). Used to order candidates within a sampling
    stratum — reproducible and engine-identical by construction."""
    ta = f"((({a_id} % 2147483648) * 2654435761) % 4294967296)"
    tb = f"((({b_id} % 2147483648) * 2246822519) % 4294967296)"
    return f"(({ta} + {tb}) % 4294967296)"


def occupancy_hist(tbl: LQTTable, level: int) -> DataFrame:
    """Occupancy distribution of the tree at ``level``: for each k, how
    many level-``level`` quadrant cells hold exactly k points. The
    classic quadtree balance diagnostic (the reference exposes per-node
    occupancy implicitly via its printed node list, lqt.cpp:153-181);
    at web scale it is the one-page answer to "is my key space skewed".

    Two hash aggregates with map-side combine (cells, then counts), no
    UDF: cell = top ``2*level`` bits of the raw zkey, reference key
    semantics including collapsed keys. Shuffle sizes are the number of
    OCCUPIED CELLS then the number of DISTINCT OCCUPANCIES — both far
    below row count at any scale. ``level`` must be in 1..31: the JVM
    masks a shift by 64 to 0, so level 0 would count distinct zkeys.
    """
    full = tbl.main.unionByName(tbl.side)
    per_cell = (
        full.withColumn("cell", tile_id_col(F.col("zkey"), level))
        .groupBy("cell")
        .agg(F.count(F.lit(1)).alias("n_points"))
    )
    return (
        per_cell.groupBy("n_points")
        .agg(F.count(F.lit(1)).alias("n_cells"))
        .orderBy("n_points")
    )


def tile_stats(tbl: LQTTable, zoom: int) -> DataFrame:
    """Per-raster-tile aggregates at the given zoom: tile = top 2z bits of
    the raw zkey (reference key semantics, incl. collapsed keys). Pure
    column expressions; map-side partial aggregation before one shuffle."""
    return (
        tbl.tiles(zoom)
        .groupBy("tile_id")
        .agg(
            F.count(F.lit(1)).alias("n_points"),
            F.avg(F.col(tbl.x_col).cast("double")).alias("avg_x"),
            F.avg(F.col(tbl.y_col).cast("double")).alias("avg_y"),
        )
    )


def tile_pyramid(tbl: LQTTable, zooms: list[int]) -> DataFrame:
    """Multi-resolution tile rollup: per-tile point counts at EVERY zoom
    in ``zooms``, in one pass over the data (the hypertable-rollup /
    tile-pyramid pattern every tiling stack needs).

    Scale shape: only the FINEST zoom aggregates the raw rows (one
    shuffle, map-side combine, ≤ 4^max(zooms) output rows); every
    coarser level re-aggregates the finest per-tile relation by prefix
    shift — the quadtree invariant that a parent tile is exactly the
    union of its 4 children makes the rollup lossless. Building L zoom
    levels therefore costs one scan + one shuffle of the data plus L
    shuffles of tile-count-sized relations (thousands of rows at any
    input scale). Output: (zoom, tile_id, n_points).
    """
    if not zooms:
        raise ValueError("zooms must be non-empty")
    zooms = sorted(set(zooms))
    finest = zooms[-1]
    # the table's MEMOIZED per-zoom aggregate: already persisted, so
    # every union branch reads the cached tile-count-sized relation
    # instead of rescanning the raw data once per zoom level — and the
    # corpus shuffle is shared with the whole statistics suite
    base = tbl.tile_counts(finest).select("tile_id", "n_points")
    levels = [
        base.select(
            F.lit(finest).cast("int").alias("zoom"), "tile_id", "n_points"
        )
    ]
    for z in zooms[:-1]:
        levels.append(
            base.groupBy(
                F.shiftrightunsigned(F.col("tile_id"), 2 * (finest - z)).alias(
                    "tile_id"
                )
            )
            .agg(F.sum("n_points").alias("n_points"))
            .select(F.lit(z).cast("int").alias("zoom"), "tile_id", "n_points")
        )
    out = levels[0]
    for lv in levels[1:]:
        out = out.unionByName(lv)
    return out


def tile_polygons(tbl: LQTTable, zoom: int) -> DataFrame:
    """Raster→vector: polygonize the occupied raster tiles at ``zoom``.

    The inverse direction of tile assignment (the north rule's
    "raster↔vector"): tile ids (top 2z zkey bits, reference semantics)
    are de-interleaved back to grid indices and lifted to exact-double
    vector rectangles plus a WKT ring. Plan: the per-tile aggregate runs
    FIRST (map-side combine → one shuffle, output ≤ 4^zoom rows), and
    all geometry derivation is pure integer/double column expressions on
    that tiny relation — zero UDFs, zero extra shuffles, any scale.

    Note collapsed keys (functions/encode.py midline collapse) count
    toward the tile their *key* names, exactly like the reference's own
    key→tile arithmetic; rows with ``zlvl >= zoom`` are guaranteed to
    lie geometrically inside their tile polygon (tested)."""
    out = tbl.tile_counts(zoom)  # memoized (tile_id, n_points, tx, ty)
    rect = cell_rect_sql(SPARK, "tx", "ty", tbl.bounds, zoom)
    for name in ("x0", "y0", "x1", "y1"):
        out = out.withColumn(name, F.expr(rect[name]))
    return out.withColumn(
        "wkt", F.expr(cell_wkt_sql(SPARK, "x0", "y0", "x1", "y1", zoom))
    )


# ------------------------------------------------------- vector → raster
def rasterize_polygons(
    polygons: DataFrame, zoom: int, bounds=None
) -> DataFrame:
    """Vector→raster: the tiles of the zoom-``zoom`` grid whose CENTER
    lies inside each polygon (center-sampling rasterization — the
    deterministic dual of `tile_polygons`, closing the north rule's
    raster↔vector loop).

    Plan (pure Catalyst expressions, zero UDFs):

    1. per-polygon bbox → clamped tile-index ranges (`axis_index_expr`);
    2. candidate tiles = explode(sequence) × explode(sequence) — a
       narrow lateral fan-out of O(bbox_area / cell_area) rows per
       polygon, bounded by the caller's ``zoom`` choice, never a
       shuffle;
    3. even-odd crossing parity of each tile center against the
       polygon's edge list — ONE poly_id equi-join (partial-agg
       crossing sums combine map-side), the same exact test the
       point-in-polygon refine uses;
    4. Morton tile id from (tx, ty) via the dual-engine interleave
       (`functions/geocell.py`), so output joins directly against
       `geocell` cells and geometric tile ids.

    Every expression is engine-portable literal double arithmetic —
    `rasterize_polygons_sql_duck` renders the identical computation for
    DuckDB, which is what makes the query hash-oracle-checkable.

    ``polygons``: (poly_id, xs: array<double>, ys: array<double>)
    closed rings (implicit last→first edge). Output: (poly_id, tile_id,
    tx, ty), one row per covered tile.
    """
    from linear_quadtree_spark.config import DEFAULT_BOUNDS

    b = bounds or DEFAULT_BOUNDS
    n = 1 << zoom
    cell_w = repr((b.xend - b.xstart) / n)
    cell_h = repr((b.yend - b.ystart) / n)

    idx = polygons.select(
        "poly_id",
        "xs",
        "ys",
        F.expr(axis_index_expr(SPARK, "array_min(xs)", b.xstart, b.xend, zoom)).alias("tx0"),
        F.expr(axis_index_expr(SPARK, "array_max(xs)", b.xstart, b.xend, zoom)).alias("tx1"),
        F.expr(axis_index_expr(SPARK, "array_min(ys)", b.ystart, b.yend, zoom)).alias("ty0"),
        F.expr(axis_index_expr(SPARK, "array_max(ys)", b.ystart, b.yend, zoom)).alias("ty1"),
    )
    cand = (
        idx.select("poly_id", "ty0", "ty1",
                   F.explode(F.sequence("tx0", "tx1")).alias("tx"))
        .select("poly_id", "tx", F.explode(F.sequence("ty0", "ty1")).alias("ty"))
        .withColumn("cx", F.expr(f"{b.xstart!r} + (CAST(tx AS DOUBLE) + 0.5) * {cell_w}"))
        .withColumn("cy", F.expr(f"{b.ystart!r} + (CAST(ty AS DOUBLE) + 0.5) * {cell_h}"))
    )
    edges = (
        polygons.select("poly_id", "xs", "ys",
                        F.posexplode("xs").alias("pos", "x1v"))
        .select(
            "poly_id",
            "x1v",
            F.expr("ys[pos]").alias("y1v"),
            F.expr("xs[(pos + 1) % size(xs)]").alias("x2v"),
            F.expr("ys[(pos + 1) % size(ys)]").alias("y2v"),
        )
    )
    crossing = (
        "CASE WHEN (y1v > cy) != (y2v > cy) "
        "THEN CASE WHEN cx < (x2v - x1v) * (cy - y1v) / (y2v - y1v) + x1v "
        "THEN 1 ELSE 0 END ELSE 0 END"
    )
    inside = (
        cand.join(edges, "poly_id")
        .withColumn("cr", F.expr(crossing))
        .groupBy("poly_id", "tx", "ty")
        .agg(F.sum("cr").alias("_crossings"))
        .filter(F.col("_crossings") % 2 == 1)
    )
    return inside.select(
        F.col("poly_id").cast("int").alias("poly_id"),
        F.expr(_interleave_expr(SPARK, "tx", "ty", zoom)).alias("tile_id"),
        "tx",
        "ty",
    )


def rasterize_polygons_sql_duck(edges_cte: str, zoom: int, bounds=None) -> str:
    """DuckDB twin of `rasterize_polygons` — identical literal-double
    arithmetic, bbox from the edge list's start vertices (every vertex
    starts exactly one edge, so MIN(x1v) == array_min(xs)).
    ``edges_cte`` is the NAME of a CTE (poly_id, x1v, y1v, x2v, y2v)."""
    return (
        _rasterize_ctes_duck(edges_cte, zoom, bounds)
        + "\nSELECT poly_id, tile_id, tx, ty FROM rcells"
    )


def _rasterize_ctes_duck(edges_cte: str, zoom: int, bounds=None) -> str:
    """The rasterization as a CTE CHAIN ending in ``rcells(poly_id,
    tile_id, tx, ty)`` — embeddable by downstream twins (tile IoU) that
    keep querying the raster, where the bare final SELECT of
    `rasterize_polygons_sql_duck` could not be extended."""
    from linear_quadtree_spark.config import DEFAULT_BOUNDS
    from linear_quadtree_spark.functions.textexpr import DUCK

    b = bounds or DEFAULT_BOUNDS
    n = 1 << zoom
    cell_w = repr((b.xend - b.xstart) / n)
    cell_h = repr((b.yend - b.ystart) / n)
    return f"""
bb AS (SELECT poly_id, MIN(x1v) AS xmin, MAX(x1v) AS xmax,
              MIN(y1v) AS ymin, MAX(y1v) AS ymax
       FROM {edges_cte} GROUP BY 1),
ti AS (SELECT poly_id,
              {axis_index_expr(DUCK, 'xmin', b.xstart, b.xend, zoom)} AS tx0,
              {axis_index_expr(DUCK, 'xmax', b.xstart, b.xend, zoom)} AS tx1,
              {axis_index_expr(DUCK, 'ymin', b.ystart, b.yend, zoom)} AS ty0,
              {axis_index_expr(DUCK, 'ymax', b.ystart, b.yend, zoom)} AS ty1
       FROM bb),
cand AS (SELECT poly_id, tx, ty,
                {b.xstart!r} + (CAST(tx AS DOUBLE) + 0.5) * {cell_w} AS cx,
                {b.ystart!r} + (CAST(ty AS DOUBLE) + 0.5) * {cell_h} AS cy
         FROM ti,
              UNNEST(generate_series(tx0, tx1)) AS ux(tx),
              UNNEST(generate_series(ty0, ty1)) AS uy(ty)),
cr AS (SELECT c.poly_id, c.tx, c.ty,
              CASE WHEN (e.y1v > c.cy) != (e.y2v > c.cy)
                   THEN CASE WHEN c.cx < (e.x2v - e.x1v) * (c.cy - e.y1v)
                                       / (e.y2v - e.y1v) + e.x1v
                             THEN 1 ELSE 0 END
                   ELSE 0 END AS cross_flag
       FROM cand c JOIN {edges_cte} e ON c.poly_id = e.poly_id),
rast AS (SELECT poly_id, tx, ty FROM cr
         GROUP BY 1, 2, 3 HAVING SUM(cross_flag) % 2 = 1),
rcells AS (SELECT CAST(poly_id AS INTEGER) AS poly_id,
                  {_interleave_expr(DUCK, 'tx', 'ty', zoom)} AS tile_id,
                  tx, ty
           FROM rast)"""


def _iou_expr() -> str:
    """The one shared double expression for IoU from integer cell
    counts (verbatim in both engines)."""
    return (
        "CAST(cells_shared AS DOUBLE)"
        " / CAST(cells_a + cells_b - cells_shared AS DOUBLE)"
    )


def polygon_tile_iou(
    polygons: DataFrame, zoom: int, min_iou: float = 0.0, bounds=None
) -> DataFrame:
    """Pairwise intersection-over-union of rasterized polygon footprints
    — geofence/region NEAR-DUPLICATE detection, the geometric analog of
    the MinHash-LSH document pass: two overlapping delivery zones, two
    redrawn geofence revisions, two copies of the same admin boundary
    collapse onto the same high-IoU pair.

    Scale shape (the LSH shape, applied to geometry): polygons are
    rasterized to zoom-``zoom`` cells (`rasterize_polygons`, pure
    Catalyst), and candidate pairs come from ONE equi-self-join on the
    CELL id — only polygons that physically share a tile ever meet, so
    the join is bucketed by spatial density, never all-pairs over the
    dimension. Map-side partial counts collapse the per-cell pair rows
    to per-pair intersection counts; per-polygon areas are a
    polygon-count-sized relation, broadcast onto the pair relation.
    Exact set semantics on the raster: |A∩B| and |A|,|B| are integer
    cell counts, IoU = shared/(a+b−shared) is ONE shared double
    expression — hash-checkable vs the DuckDB twin.

    Output per intersecting unordered pair (poly_a < poly_b):
    (poly_a, poly_b, cells_a, cells_b, cells_shared, iou),
    filtered to iou >= ``min_iou`` when given."""
    rast = track(
        rasterize_polygons(polygons, zoom, bounds).select("poly_id", "tile_id")
    )
    area = rast.groupBy("poly_id").agg(F.count(F.lit(1)).alias("cells"))
    shared = (
        rast.select(F.col("poly_id").alias("poly_a"), "tile_id")
        .join(rast.select(F.col("poly_id").alias("poly_b"), "tile_id"), "tile_id")
        .filter(F.col("poly_a") < F.col("poly_b"))
        .groupBy("poly_a", "poly_b")
        .agg(F.count(F.lit(1)).alias("cells_shared"))
    )
    out = (
        shared.join(
            F.broadcast(
                area.select(
                    F.col("poly_id").alias("poly_a"), F.col("cells").alias("cells_a")
                )
            ),
            "poly_a",
        )
        .join(
            F.broadcast(
                area.select(
                    F.col("poly_id").alias("poly_b"), F.col("cells").alias("cells_b")
                )
            ),
            "poly_b",
        )
        .withColumn("iou", F.expr(_iou_expr()))
        .select("poly_a", "poly_b", "cells_a", "cells_b", "cells_shared", "iou")
    )
    if min_iou > 0.0:
        out = out.filter(F.expr(f"iou >= {min_iou!r}"))
    return out


def polygon_tile_iou_sql_duck(
    edges_cte: str, zoom: int, min_iou: float = 0.0, bounds=None
) -> str:
    """DuckDB twin of `polygon_tile_iou` — identical rasterization CTEs,
    the same cell-bucketed pair join by the DEFINITION, the identical
    final IoU expression. Embed after a CTE providing ``edges_cte``."""
    where = f"\nWHERE {_iou_expr()} >= {min_iou!r}" if min_iou > 0.0 else ""
    return f"""{_rasterize_ctes_duck(edges_cte, zoom, bounds)},
parea AS (SELECT poly_id, COUNT(*) AS cells FROM rcells GROUP BY 1),
pshared AS (SELECT a.poly_id AS poly_a, b.poly_id AS poly_b,
                   COUNT(*) AS cells_shared
            FROM rcells a JOIN rcells b
              ON a.tile_id = b.tile_id AND a.poly_id < b.poly_id
            GROUP BY 1, 2),
pj AS (SELECT s.poly_a, s.poly_b, aa.cells AS cells_a, ab.cells AS cells_b,
              s.cells_shared
       FROM pshared s
       JOIN parea aa ON aa.poly_id = s.poly_a
       JOIN parea ab ON ab.poly_id = s.poly_b)
SELECT poly_a, poly_b, cells_a, cells_b, cells_shared,
       {_iou_expr()} AS iou
FROM pj{where}"""


# ---------------------------------------------------- nearest-site assign
def nearest_site(
    pts: DataFrame,
    sites: list[tuple[int, float, float]],
    x_col: str = "x",
    y_col: str = "y",
) -> DataFrame:
    """Assign every point to its nearest site (Voronoi labeling): the
    "label every row against a small dimension" join — crawl pages to
    nearest datacenter, events to nearest city.

    Scale shape: the site list is embedded as a LITERAL array and the
    argmin runs as a fold expression inside the row projection — a
    map-ONLY plan, zero shuffle, zero broadcast exchange, whole-stage
    codegen. At 100 TB this is the fastest possible shape: the scan is
    the entire cost. (For site sets too big to inline — >10^4 — use
    `knn_join(k=1)` with the sites as the indexed side instead.)

    Ties break toward the lowest site id (strict-less fold over
    ascending ids). Output: input columns + site_id + the same row's
    dist2 (exact double math, engine-portable)."""
    arr = ", ".join(
        f"named_struct('sid', {sid}, 'sx', CAST({sx!r} AS DOUBLE), "
        f"'sy', CAST({sy!r} AS DOUBLE))"
        for sid, sx, sy in sites
    )
    px, py = f"CAST({x_col} AS DOUBLE)", f"CAST({y_col} AS DOUBLE)"
    d2 = f"(({px}) - s.sx) * (({px}) - s.sx) + (({py}) - s.sy) * (({py}) - s.sy)"
    fold = (
        f"aggregate(array({arr}), "
        f"named_struct('sid', CAST(-1 AS INT), 'd2', CAST('Infinity' AS DOUBLE)), "
        f"(a, s) -> CASE WHEN {d2} < a.d2 "
        f"THEN named_struct('sid', s.sid, 'd2', {d2}) ELSE a END)"
    )
    return pts.withColumn("_ns", F.expr(fold)).withColumn(
        "site_id", F.col("_ns.sid")
    ).withColumn("dist2", F.col("_ns.d2")).drop("_ns")


def nearest_site_sql_duck(
    pts_src: str,
    sites_values: str,
    id_col: str = "doc_id",
    x_col: str = "px",
    y_col: str = "py",
) -> str:
    """DuckDB twin via the definitional plan: cross join × window argmin
    (dist2 with the identical double arithmetic; ties → lowest site id).
    ``sites_values``: a VALUES list "(sid, sx, sy), ...". """
    return f"""
sites(sid, sx, sy) AS (VALUES {sites_values}),
nsd AS (
  SELECT p.{id_col}, s.sid,
         (p.{x_col} - s.sx) * (p.{x_col} - s.sx)
         + (p.{y_col} - s.sy) * (p.{y_col} - s.sy) AS d2
  FROM {pts_src} p CROSS JOIN sites s),
nsr AS (
  SELECT {id_col}, sid, d2,
         ROW_NUMBER() OVER (PARTITION BY {id_col} ORDER BY d2, sid) AS rn
  FROM nsd)
SELECT {id_col}, CAST(sid AS INTEGER) AS site_id, d2 AS dist2
FROM nsr WHERE rn = 1"""


# ------------------------------------------------------- focal smoothing
def focal_smooth(tbl: LQTTable, zoom: int) -> DataFrame:
    """Raster cell algebra: 3x3 focal (neighborhood) aggregation of the
    per-tile point density at ``zoom`` — the smoothing/convolution step
    of a heatmap pipeline, and the canonical "each cell needs its
    neighbors" raster operator.

    Scale shape: the convolution runs SCATTER-GATHER with NO JOIN — the
    per-tile aggregate (map-side combine, one shuffle of the raw rows)
    is exploded 9x by the shared queen scatter
    (``geocell._queen_scatter``), each occupied tile scattering its
    count to the cells of its own 3x3 window, then ONE groupBy on the
    target cell gathers the sums AND recovers the center tile's own
    attributes in the same aggregate (max over the centre-marked row) —
    the (0,0) offset row doubles as the "this cell is occupied" witness, so
    the gather-side equi-join (and the persist + second scan of the
    tile relation it required) disappears. Two shuffles total, no
    inequality join, no window over a cross product; the 9x fanout
    applies to the TILE relation (<= 4^zoom rows), never the data.
    Boundary cells use their true (smaller) window size, computed in
    closed form (``geocell._queen_window``). Gi* is this relation plus
    the lattice moments (``hotspot.gi_star_hotspots``).

    Output per OCCUPIED tile: (tile_id, tx, ty, n_points, focal_sum,
    n_occupied_nbrs, window_sz, focal_mean)."""
    centre = F.col("centre")
    focal = (
        _queen_scatter(tbl.tile_counts(zoom), zoom, with_self=True, centre=True)
        .groupBy("ctx", "cty")
        .agg(
            F.sum("n_points").alias("focal_sum"),
            F.count(F.lit(1)).alias("n_occupied_nbrs"),
            F.max(F.when(centre, F.col("tile_id"))).alias("tile_id"),
            F.max(F.when(centre, F.col("n_points"))).alias("n_points"),
        )
        .filter(F.col("tile_id").isNotNull())
        .withColumnRenamed("ctx", "tx")
        .withColumnRenamed("cty", "ty")
    )
    return (
        focal.withColumn("window_sz", _queen_window(zoom))
        .withColumn(
            "focal_mean",
            F.col("focal_sum").cast("double") / F.col("window_sz"),
        )
        .select(
            "tile_id", "tx", "ty", "n_points", "focal_sum",
            "n_occupied_nbrs", "window_sz", "focal_mean",
        )
    )


def focal_smooth_sql_duck(zoom: int) -> str:
    """DuckDB twin by the DEFINITION: occupied-tile relation from the
    reference-exact prefix CTE (`refenc`), then a neighborhood
    SELF-JOIN with BETWEEN bounds — deliberately a different plan
    family than the Spark scatter-gather. Embed after a CTE chain
    providing refenc(pref)."""
    from linear_quadtree_spark.functions.textexpr import DUCK

    m = (1 << zoom) - 1
    return f"""
occ AS (SELECT pref AS tile_id, CAST(COUNT(*) AS BIGINT) AS n_points
        FROM refenc GROUP BY 1),
g AS (SELECT tile_id, n_points,
             {cell_axis_expr(DUCK, 'tile_id', zoom, 0)} AS tx,
             {cell_axis_expr(DUCK, 'tile_id', zoom, 1)} AS ty
      FROM occ),
nb AS (
  SELECT a.tile_id, a.tx, a.ty, a.n_points,
         CAST(SUM(b.n_points) AS BIGINT) AS focal_sum,
         CAST(COUNT(*) AS BIGINT) AS n_occupied_nbrs
  FROM g a JOIN g b
    ON b.tx BETWEEN a.tx - 1 AND a.tx + 1
   AND b.ty BETWEEN a.ty - 1 AND a.ty + 1
  GROUP BY 1, 2, 3, 4)
SELECT tile_id, tx, ty, n_points, focal_sum, n_occupied_nbrs,
       CAST((LEAST(tx + 1, {m}) - GREATEST(tx - 1, 0) + 1)
            * (LEAST(ty + 1, {m}) - GREATEST(ty - 1, 0) + 1) AS BIGINT)
         AS window_sz,
       CAST(focal_sum AS DOUBLE)
         / ((LEAST(tx + 1, {m}) - GREATEST(tx - 1, 0) + 1)
            * (LEAST(ty + 1, {m}) - GREATEST(ty - 1, 0) + 1)) AS focal_mean
FROM nb"""


def _bbox_tile_range(bounds, zoom: int, x0: float, y0: float, x1: float, y1: float):
    """Driver-side clamped tile-index range of a bbox — the SAME
    floor((v − start) · n/(end − start)) grid arithmetic the axis-index
    expressions use, computed once so the Spark lattice and the DuckDB
    twin enumerate the identical cells."""
    n = 1 << zoom
    sx = n / (bounds.xend - bounds.xstart)
    sy = n / (bounds.yend - bounds.ystart)

    def _clamp(v: float, s: float, start: float) -> int:
        return int(min(max(math.floor((v - start) * s), 0), n - 1))

    return (
        _clamp(x0, sx, bounds.xstart), _clamp(x1, sx, bounds.xstart),
        _clamp(y0, sy, bounds.ystart), _clamp(y1, sy, bounds.ystart),
    )


def tile_coverage_gaps(
    tbl: LQTTable, zoom: int, x0: float, y0: float, x1: float, y1: float
) -> DataFrame:
    """Coverage-hole detection: every UNOCCUPIED tile of the zoom-level
    lattice inside the query bbox — "where has the crawl/sensor sweep
    never landed", the complement query none of the occupancy rollups
    answer (they only describe occupied cells).

    Scale shape: the lattice is generated DISTRIBUTED — ``spark.range``
    over the bbox's cell count with div/mod index arithmetic, so a
    million-cell window parallelizes instead of exploding from one row —
    and the occupied side is the table's MEMOIZED per-zoom aggregate
    (`LQTTable.tile_counts`) pre-filtered to the same index range, so
    the LEFT ANTI equi-join is bbox-bounded on both sides. Tile ids are
    reference key semantics (collapsed keys name their coarser tile),
    identical to every other tile query; the twin enumerates the same
    lattice with the same driver-computed clamped range.

    Output per gap tile: (tile_id, tx, ty)."""
    tx0, tx1, ty0, ty1 = _bbox_tile_range(tbl.bounds, zoom, x0, y0, x1, y1)
    ntx, nty = tx1 - tx0 + 1, ty1 - ty0 + 1
    spark = tbl.main.sparkSession
    lat = spark.range(ntx * nty).select(
        (F.lit(tx0) + F.expr("id div " + str(nty))).alias("tx"),
        (F.lit(ty0) + F.col("id") % nty).alias("ty"),
    )
    occ = tbl.tile_counts(zoom).select("tx", "ty").filter(
        (F.col("tx") >= tx0) & (F.col("tx") <= tx1)
        & (F.col("ty") >= ty0) & (F.col("ty") <= ty1)
    )
    return (
        lat.join(occ, ["tx", "ty"], "left_anti")
        .select(
            F.expr(_interleave_expr(SPARK, "tx", "ty", zoom)).alias("tile_id"),
            "tx",
            "ty",
        )
    )


def tile_coverage_gaps_sql_duck(
    bounds, zoom: int, x0: float, y0: float, x1: float, y1: float
) -> str:
    """DuckDB twin — the identical driver-computed lattice range, the
    same div/mod enumeration over ``range()``, NOT EXISTS against the
    reference-prefix occupied set. Embed after a CTE chain providing
    ``refenc(pref)``."""
    from linear_quadtree_spark.functions.textexpr import DUCK

    tx0, tx1, ty0, ty1 = _bbox_tile_range(bounds, zoom, x0, y0, x1, y1)
    ntx, nty = tx1 - tx0 + 1, ty1 - ty0 + 1
    return f"""
occ AS (SELECT DISTINCT pref AS tile_id FROM refenc),
occ2 AS (SELECT {cell_axis_expr(DUCK, 'tile_id', zoom, 0)} AS tx,
                {cell_axis_expr(DUCK, 'tile_id', zoom, 1)} AS ty
         FROM occ),
lat AS (SELECT CAST({tx0} + (i // {nty}) AS BIGINT) AS tx,
               CAST({ty0} + (i % {nty}) AS BIGINT) AS ty
        FROM range({ntx * nty}) t(i)),
gaps AS (SELECT l.tx, l.ty FROM lat l
         WHERE NOT EXISTS (SELECT 1 FROM occ2 o
                           WHERE o.tx = l.tx AND o.ty = l.ty
                             AND o.tx BETWEEN {tx0} AND {tx1}
                             AND o.ty BETWEEN {ty0} AND {ty1}))
SELECT {_interleave_expr(DUCK, 'tx', 'ty', zoom)} AS tile_id, tx, ty
FROM gaps"""
