"""Spatio-temporal rollups: activity per (tile, time window) — the
query shape behind every "what happened where, when" dashboard over a
geotagged event stream (crawl fetches, user actions, sensor pings).

Spatial key: the dual-engine Morton geocell (functions/geocell.py —
pure Catalyst integer expressions, no UDF). Temporal key: truncated
event time. The whole operator is one hash aggregate with map-side
combine over (tile, window) — output is bounded by
occupied_tiles × windows regardless of input rows, so the plan is a
single shuffle at any scale, and AQE coalesces the post-shuffle
partitions when output is small.

The streaming variant is the identical plan with a watermark: state is
occupied_tiles × live-windows (watermark bounds the window count), so
the continuously-maintained rollup runs forever in bounded memory —
the spatio-temporal extension of streaming/tiles.py's all-time tile
counts.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from linear_quadtree_spark.config import DEFAULT_BOUNDS, Bounds
from linear_quadtree_spark.functions.geocell import (
    _queen_scatter,
    _queen_window,
    geocell_col,
    geocell_sql_duck,
)
from linear_quadtree_spark.functions.geotag import (
    geotag_x,
    geotag_x_sql,
    geotag_y,
    geotag_y_sql,
)

__all__ = [
    "colocation_lift",
    "colocation_lift_sql_duck",
    "tile_transitions",
    "tile_transitions_sql_duck",
    "tile_retention",
    "tile_retention_sql_duck",
    "tile_type_mix",
    "tile_type_mix_sql_duck",
    "tile_diurnal",
    "tile_diurnal_sql_duck",
    "tile_time_cube",
    "tile_time_cube_sql_duck",
    "tile_activity", "tile_activity_sql_duck", "tile_activity_stream",
    "tile_trend", "tile_trend_sql_duck",
    "colocation_pairs", "colocation_pairs_sql_duck",
    "tile_concentration", "tile_concentration_sql_duck",
    "mk_trend", "mk_trend_sql_duck",
    "theil_sen", "theil_sen_sql_duck",
    "emerging_hotspots", "emerging_hotspots_sql_duck",
    "knox_test", "knox_test_sql_duck",
    "spacetime_scan", "spacetime_scan_sql_duck",
]


def _with_keys(events: DataFrame, zoom: int, bounds: Bounds,
               id_col: str, ts_col: str) -> DataFrame:
    return events.withColumn(
        "_x", geotag_x(id_col)
    ).withColumn(
        "_y", geotag_y(id_col)
    ).withColumn(
        "tile", geocell_col("_x", "_y", bounds, zoom)
    )


def tile_activity(
    events: DataFrame,
    zoom: int = 4,
    bounds: Bounds = DEFAULT_BOUNDS,
    id_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
) -> DataFrame:
    """Per-(tile, hour) event rollup: geotag ``id_col`` → Morton geocell
    at ``zoom`` → hour bucket → count + decimal-exact value sum.
    Output: (tile, hour_epoch, n_events, sum_value)."""
    keyed = _with_keys(events, zoom, bounds, id_col, ts_col)
    return keyed.groupBy(
        "tile",
        F.unix_timestamp(F.date_trunc("hour", F.col(ts_col))).alias("hour_epoch"),
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.col(value_col).cast("decimal(20,6)")).cast("double").alias("sum_value"),
    )


def tile_activity_sql_duck(
    src: str = "events",
    zoom: int = 4,
    bounds: Bounds = DEFAULT_BOUNDS,
    id_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
) -> str:
    """DuckDB twin — identical geotag + geocell + truncation SQL."""
    return f"""
WITH keyed AS (
  SELECT {geocell_sql_duck(geotag_x_sql(id_col), geotag_y_sql(id_col), bounds, zoom)} AS tile,
         CAST(epoch(date_trunc('hour', {ts_col})) AS BIGINT) AS hour_epoch,
         {value_col} AS v
  FROM {src})
SELECT tile, hour_epoch, COUNT(*) AS n_events,
       CAST(SUM(CAST(v AS DECIMAL(20,6))) AS DOUBLE) AS sum_value
FROM keyed GROUP BY 1, 2
"""


def tile_activity_stream(
    stream: DataFrame,
    zoom: int = 4,
    bounds: Bounds = DEFAULT_BOUNDS,
    id_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
    watermark: str = "2 hours",
) -> DataFrame:
    """Watermarked streaming twin: same keys, windowed aggregation.
    State = occupied tiles × live hour-windows; the watermark closes
    windows (append-mode emission) and ages their state out."""
    keyed = _with_keys(stream.withWatermark(ts_col, watermark), zoom, bounds,
                       id_col, ts_col)
    return keyed.groupBy(
        "tile", F.window(ts_col, "1 hour").alias("win")
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.col(value_col).cast("decimal(20,6)")).cast("double").alias("sum_value"),
    ).select(
        "tile",
        F.unix_timestamp(F.col("win.start")).alias("hour_epoch"),
        "n_events",
        "sum_value",
    )


# ------------------------------------------------------------ decayed trend
def tile_trend(
    events: DataFrame,
    zoom: int = 4,
    bounds: Bounds = DEFAULT_BOUNDS,
    id_col: str = "user_id",
    ts_col: str = "ts",
    half_life_s: int = 3600,
    frac_bits: int = 40,
) -> DataFrame:
    """Per-tile exponentially-decayed activity at the corpus's latest
    event time — the hotspot ranking where an event ``a`` seconds old
    counts 2^-(a div half_life_s): recent bursts dominate, history
    fades, and unlike a sliding window nothing falls off a cliff edge.

    Determinism at the heart of it: ``exp()`` is NOT exactly rounded
    and float SUM order is engine/partition-dependent, so a float
    implementation could never be hash-exact (or even run-to-run
    stable). Instead the decay is quantized to ABSOLUTE half-life
    buckets — ``b(t) = epoch(t) div half_life_s``, ``k = b(ref) − b(t)``
    — and each event contributes the INTEGER 2^(frac_bits − k) (zero
    once k ≥ frac_bits): ``trend_fp`` is an exact fixed-point sum with
    frac_bits fractional bits, associative and order-free. Absolute
    bucketing (rather than event age) keeps per-bucket counts mergeable
    across batches, which is what the streaming twin
    (streaming/trend.py) maintains as bounded state under an exact
    equivalence law. Overflow ceiling: per-tile events × 2^frac_bits
    < 2^63 — at 10^9 events per tile use frac_bits≈28; ANSI mode turns
    violations into errors, not silent wrap.

    Plan: one 1-row aggregate for the reference time (broadcast back),
    then ONE map-side-combined hash aggregate on tile. Output:
    (tile, n_events, recent_events, trend_fp)."""
    keyed = _with_keys(events, zoom, bounds, id_col, ts_col)
    ref = events.agg(
        F.max(
            F.expr(f"unix_timestamp({ts_col}) div {half_life_s}")
        ).alias("_ref_bucket")
    )
    k = (
        f"least(_ref_bucket - (unix_timestamp({ts_col}) div {half_life_s}), "
        f"CAST({frac_bits} AS BIGINT))"
    )
    w = (
        f"CASE WHEN ({k}) < {frac_bits} "
        f"THEN shiftleft(CAST(1 AS BIGINT), CAST({frac_bits} - ({k}) AS INT)) "
        f"ELSE CAST(0 AS BIGINT) END"
    )
    recent = f"CASE WHEN ({k}) = 0 THEN 1 ELSE 0 END"
    return (
        keyed.crossJoin(F.broadcast(ref))
        .groupBy("tile")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.expr(recent)).alias("recent_events"),
            F.sum(F.expr(w)).alias("trend_fp"),
        )
    )


def tile_trend_sql_duck(
    src: str = "events",
    zoom: int = 4,
    bounds: Bounds = DEFAULT_BOUNDS,
    id_col: str = "user_id",
    ts_col: str = "ts",
    half_life_s: int = 3600,
    frac_bits: int = 40,
) -> str:
    """DuckDB twin: scalar-subquery reference time, same integer decay."""
    b = f"(CAST(FLOOR(epoch({ts_col})) AS BIGINT) // {half_life_s})"
    k = f"least(_ref_bucket - {b}, CAST({frac_bits} AS BIGINT))"
    w = (
        f"CASE WHEN ({k}) < {frac_bits} "
        f"THEN (CAST(1 AS BIGINT) << CAST({frac_bits} - ({k}) AS INTEGER)) "
        f"ELSE CAST(0 AS BIGINT) END"
    )
    recent = f"CASE WHEN ({k}) = 0 THEN 1 ELSE 0 END"
    return f"""
WITH trkeyed AS (
  SELECT {geocell_sql_duck(geotag_x_sql(id_col), geotag_y_sql(id_col), bounds, zoom)} AS tile,
         {ts_col},
         (SELECT MAX(CAST(FLOOR(epoch({ts_col})) AS BIGINT) // {half_life_s})
          FROM {src}) AS _ref_bucket
  FROM {src})
SELECT tile, COUNT(*) AS n_events,
       CAST(SUM({recent}) AS BIGINT) AS recent_events,
       CAST(SUM({w}) AS BIGINT) AS trend_fp
FROM trkeyed GROUP BY 1
"""


# ------------------------------------------------------- co-location pairs
def colocation_pairs(
    events: DataFrame,
    r: float,
    dt_s: int,
    id_col: str = "user_id",
    ts_col: str = "ts",
    event_id_col: str = "event_id",
) -> DataFrame:
    """Spatio-temporal co-location: pairs of DISTINCT users with events
    within Euclidean distance ``r`` AND within ``dt_s`` seconds of each
    other — the contact/co-occurrence workload (who was where together:
    shared sessions, fraud rings, sensor cross-sightings). Output
    ``(user_a, user_b, n_meetings)`` with user_a < user_b;
    ``n_meetings`` counts qualifying EVENT pairs.

    The radius-join grid discipline extended to spacetime: every event
    buckets into ONE (r-cell-x, r-cell-y, dt-bucket) cube; the probe
    side fans out over the 9×3 = 27 neighboring cubes. A qualifying
    event pair meets in exactly the anchor event's own cube (the anchor
    never fans out), and ``event_id_a < event_id_b`` picks exactly one
    orientation — so no dedup pass is needed before the pair aggregate.

    Scale shape: ONE equi-join shuffle on the cube key (candidates are
    density-bounded per cube; AQE splits hot cubes) + ONE map-side-
    combined pair aggregate. Exact float64 distance refine and integer
    time refine AFTER the join — closed predicates on both, matching
    the inequality-join oracle. Skew note: a cube with k events of each
    side contributes O(k²) candidates — for adversarial density apply
    the distance_join_ab sample_per_cell pattern (pair-hash rank cap)
    before the refine; the exact operator keeps every pair.
    """
    if r <= 0 or dt_s <= 0:
        raise ValueError("r and dt_s must be positive")
    base = events.select(
        F.col(event_id_col).alias("_eid"),
        F.col(id_col).alias("_uid"),
        # events geotag by their OWN event id — the capture location
        # (the sibling mobility operators' convention; a user-level
        # geotag would make every user permanently stationary)
        geotag_x(event_id_col).cast("double").alias("_px"),
        geotag_y(event_id_col).cast("double").alias("_py"),
        F.expr(f"unix_timestamp({ts_col})").alias("_ep"),
    )
    a = (
        base.withColumnRenamed("_eid", "eid_a")
        .withColumnRenamed("_uid", "uid_a")
        .withColumnRenamed("_px", "ax").withColumnRenamed("_py", "ay")
        .withColumnRenamed("_ep", "aep")
        .withColumn("jx", F.floor(F.col("ax") / F.lit(r)))
        .withColumn("jy", F.floor(F.col("ay") / F.lit(r)))
        .withColumn("jt", F.expr(f"aep div {dt_s}"))
    )
    offs = F.array(
        *[
            F.struct(
                F.lit(dx).alias("dx"), F.lit(dy).alias("dy"), F.lit(dz).alias("dz")
            )
            for dx in (-1, 0, 1)
            for dy in (-1, 0, 1)
            for dz in (-1, 0, 1)
        ]
    )
    b = (
        base.withColumnRenamed("_eid", "eid_b")
        .withColumnRenamed("_uid", "uid_b")
        .withColumnRenamed("_px", "bx").withColumnRenamed("_py", "by")
        .withColumnRenamed("_ep", "bep")
        .withColumn("o", F.explode(offs))
        .select(
            "eid_b", "uid_b", "bx", "by", "bep",
            (F.floor(F.col("bx") / F.lit(r)) + F.col("o.dx")).alias("jx"),
            (F.floor(F.col("by") / F.lit(r)) + F.col("o.dy")).alias("jy"),
            (F.expr(f"bep div {dt_s}") + F.col("o.dz")).alias("jt"),
        )
    )
    dx = F.col("ax") - F.col("bx")
    dy = F.col("ay") - F.col("by")
    pairs = (
        a.join(b, ["jx", "jy", "jt"])
        .filter(F.col("eid_a") < F.col("eid_b"))
        .filter(F.col("uid_a") != F.col("uid_b"))
        .filter(F.abs(F.col("aep") - F.col("bep")) <= dt_s)
        .filter(dx * dx + dy * dy <= F.lit(float(r) * float(r)))
    )
    return (
        pairs.select(
            F.least("uid_a", "uid_b").alias("user_a"),
            F.greatest("uid_a", "uid_b").alias("user_b"),
        )
        .groupBy("user_a", "user_b")
        .agg(F.count(F.lit(1)).alias("n_meetings"))
    )


def colocation_pairs_sql_duck(
    src: str = "events",
    r: float = 2.0,
    dt_s: int = 3600,
    id_col: str = "user_id",
    ts_col: str = "ts",
    event_id_col: str = "event_id",
) -> str:
    """DuckDB twin — a direct inequality self-join (deliberately a
    different plan family from the cube-bucketed equi-join)."""
    px = f"CAST({geotag_x_sql(event_id_col)} AS DOUBLE)"
    py = f"CAST({geotag_y_sql(event_id_col)} AS DOUBLE)"
    return f"""
WITH ev AS (
  SELECT {event_id_col} AS eid, {id_col} AS uid,
         {px} AS px, {py} AS py,
         CAST(FLOOR(epoch({ts_col})) AS BIGINT) AS ep
  FROM {src})
SELECT LEAST(a.uid, b.uid) AS user_a,
       GREATEST(a.uid, b.uid) AS user_b,
       COUNT(*) AS n_meetings
FROM ev a JOIN ev b
  ON a.eid < b.eid
 AND a.uid <> b.uid
 AND abs(a.ep - b.ep) <= {dt_s}
 AND (a.px - b.px) * (a.px - b.px) + (a.py - b.py) * (a.py - b.py)
     <= {r * r!r}e0
GROUP BY 1, 2
"""


# ------------------------------------------------------ visitor concentration
def tile_concentration(
    events: DataFrame,
    zoom: int = 4,
    bounds: Bounds = DEFAULT_BOUNDS,
    id_col: str = "user_id",
    event_id_col: str = "event_id",
) -> DataFrame:
    """Per-tile visitor concentration: the Herfindahl–Hirschman index
    of activity shares — ``hhi_ppm = 10^6 · Σ_u c_u² div (Σ_u c_u)²``
    (1e6 = one user generated everything, → 1e6/n_users = perfectly
    spread). The region-integrity diagnostic: a tile whose activity is
    one actor is a bot farm / spam burst, not a place (same reason the
    corpus layer computes repetition_stats per document).

    Integer-exact end to end (squares and one integer division — no
    float sums), hence hash-checkable; ceiling: per-tile events ≤ ~3·10^6
    keeps 10^6·Σc² inside int64 — shard hotter tiles by time window
    first (tile_activity gives the per-hour split for free).

    Plan: one shuffle to (tile, user) counts (map-side combined), one
    rollup of that relation to tiles. Events are touched once; events
    geotag by their own event id (capture location).
    Output: (tile, n_events, n_users, top_user_events, hhi_ppm).
    """
    from linear_quadtree_spark.functions.geocell import geocell_col

    per_user = (
        events.select(
            F.col(id_col).alias("uid"),
            geocell_col(
                geotag_x_sql(event_id_col), geotag_y_sql(event_id_col), bounds, zoom
            ).alias("tile"),
        )
        .groupBy("tile", "uid")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    return (
        per_user.groupBy("tile")
        .agg(
            F.sum("c").alias("n_events"),
            F.count(F.lit(1)).alias("n_users"),
            F.max("c").alias("top_user_events"),
            F.sum(F.col("c").cast("decimal(19,0)") * F.col("c")).alias("_ss"),
        )
        .select(
            "tile",
            "n_events",
            "n_users",
            "top_user_events",
            F.expr("CAST((CAST(1000000 AS DECIMAL(38,0)) * CAST(_ss AS DECIMAL(38,0))) div (CAST(n_events AS DECIMAL(38,0)) * CAST(n_events AS DECIMAL(38,0))) AS BIGINT)").alias("hhi_ppm"),
        )
    )


def tile_concentration_sql_duck(
    src: str = "events",
    zoom: int = 4,
    bounds: Bounds = DEFAULT_BOUNDS,
    id_col: str = "user_id",
    event_id_col: str = "event_id",
) -> str:
    """DuckDB twin — same cell expression, same integer HHI."""
    cell = geocell_sql_duck(
        geotag_x_sql(event_id_col), geotag_y_sql(event_id_col), bounds, zoom
    )
    return f"""
WITH per_user AS (
  SELECT {cell} AS tile, {id_col} AS uid, CAST(COUNT(*) AS BIGINT) AS c
  FROM {src} GROUP BY 1, 2),
agg AS (
  SELECT tile, CAST(SUM(c) AS BIGINT) AS n_events,
         CAST(COUNT(*) AS BIGINT) AS n_users,
         CAST(MAX(c) AS BIGINT) AS top_user_events,
         SUM(CAST(c AS HUGEINT) * c) AS ss
  FROM per_user GROUP BY 1)
SELECT tile, n_events, n_users, top_user_events,
       CAST((1000000 * ss) // (CAST(n_events AS HUGEINT) * n_events) AS BIGINT) AS hhi_ppm
FROM agg
"""


# ---------------------------------------------------- Mann–Kendall trend
def _mk_z_expr() -> str:
    """Mann–Kendall z from the integer statistic and the ×18-scaled
    integer variance numerator — the one shared double expression
    (continuity-corrected; zero variance → NULL). Columns: s, varnum."""
    return (
        "CASE WHEN varnum <= 0 THEN NULL"
        " WHEN s > 0 THEN (CAST(s AS DOUBLE) - 1.0)"
        " / SQRT(CAST(varnum AS DOUBLE) / 18.0)"
        " WHEN s < 0 THEN (CAST(s AS DOUBLE) + 1.0)"
        " / SQRT(CAST(varnum AS DOUBLE) / 18.0)"
        " ELSE 0.0 END"
    )


_MK_TREND_EXPR = (
    "CASE WHEN mk_z IS NULL THEN 'flat'"
    " WHEN mk_z >= 1.96 THEN 'up'"
    " WHEN mk_z <= -1.96 THEN 'down'"
    " ELSE 'none' END"
)


def _daily_dense(
    events: DataFrame,
    zoom: int,
    bounds: Bounds,
    geotag_col: str,
    ts_col: str,
) -> DataFrame:
    """The shared substrate of :func:`mk_trend` / :func:`theil_sen`:
    per-tile DAILY counts zero-densified over the dataset's global
    [min_day, max_day] span — (tile, d, c) with d in epoch seconds and
    c = 0 on a tile's empty days. One hash aggregate of events, then a
    sequence-explode over occupied tiles × span days (never
    event-sized); the one-row global span broadcasts. Tracked cache —
    both trend statistics read it twice."""
    day = F.unix_timestamp(F.date_trunc("day", F.col(ts_col)))
    keyed = _with_keys(events, zoom, bounds, geotag_col, ts_col)
    from linear_quadtree_spark.cache import track

    # binned feeds THREE consumers inside this one materialization
    # (distinct tiles, the global span, the left join) — cache it or
    # the event scan + aggregate reruns per consumer
    binned = track(keyed.groupBy(
        "tile", day.alias("d")
    ).agg(F.count(F.lit(1)).alias("c")))
    span = binned.agg(
        F.min("d").alias("dmin"), F.max("d").alias("dmax")
    )
    return track(
        binned.select("tile").distinct()
        .crossJoin(F.broadcast(span))
        .select(
            "tile",
            F.explode(
                F.sequence(F.col("dmin"), F.col("dmax"), F.lit(86400))
            ).alias("d"),
        )
        .join(binned, ["tile", "d"], "left")
        .select("tile", "d", F.coalesce(F.col("c"), F.lit(0)).alias("c"))
    )


_DAILY_DENSE_CTES_DUCK = """kb AS (
  SELECT {cell} AS tile,
         CAST(epoch(date_trunc('day', {ts_col})) AS BIGINT) AS d,
         CAST(COUNT(*) AS BIGINT) AS c
  FROM {src} GROUP BY 1, 2),
kspan AS (SELECT MIN(d) AS dmin, MAX(d) AS dmax FROM kb),
kdense AS (
  SELECT t.tile, gs.d, COALESCE(kb.c, 0) AS c
  FROM (SELECT DISTINCT tile FROM kb) t
  CROSS JOIN kspan
  CROSS JOIN LATERAL (
    SELECT CAST(unnest(generate_series(kspan.dmin, kspan.dmax, 86400))
                AS BIGINT) AS d) gs
  LEFT JOIN kb ON kb.tile = t.tile AND kb.d = gs.d)"""


def _daily_dense_ctes_duck(src: str, zoom: int, bounds: Bounds,
                           geotag_col: str, ts_col: str) -> str:
    """DuckDB twin of :func:`_daily_dense` as a CTE chain ending in
    kdense(tile, d, c) — generate_series densification by the
    definition."""
    cell = geocell_sql_duck(
        geotag_x_sql(geotag_col), geotag_y_sql(geotag_col), bounds, zoom
    )
    return _DAILY_DENSE_CTES_DUCK.format(cell=cell, ts_col=ts_col, src=src)


def mk_trend(
    events: DataFrame,
    zoom: int = 4,
    bounds: Bounds = DEFAULT_BOUNDS,
    geotag_col: str = "event_id",
    ts_col: str = "ts",
) -> DataFrame:
    """Per-tile Mann–Kendall monotonic-trend test over the DAILY event
    count series — the statistic behind "emerging / dying hotspot"
    space-time-cube analyses: S = Σ_{i<j} sign(c_j − c_i) over day bins,
    tie-corrected variance, continuity-corrected z, 5% classification.

    The daily series is ZERO-DENSIFIED per occupied tile over the
    dataset's global [min_day, max_day] span (a tile active only at the
    end IS increasing — dropping its empty days would erase exactly the
    signal the test exists to find; standard MK assumes the full
    series). Events geotag by their own event id (capture location,
    the mobility convention).

    Integer-exact: S is a sum of signs, the variance numerator
    n(n−1)(2n+5) − Σ_t t(t−1)(2t+5) is ×18-scaled integer arithmetic
    (tie groups t from a (tile, count) rollup), and z is ONE shared
    double expression — hash-checkable vs the DuckDB twin.

    Plan/scale shape: one hash aggregate of events to (tile, day)
    counts; densification explodes a per-tile day SEQUENCE (tile
    relation × span days, never event-sized); S pairs self-join the
    DENSIFIED relation on the tile key (C(span_days, 2) rows per tile
    — span is the bounded knob, ≤ ~10^3 days); tie groups are one more
    rollup of it. The one-row global span broadcasts.
    Output: (tile, n_bins, mk_s, varnum, mk_z, trend)."""
    dense = _daily_dense(events, zoom, bounds, geotag_col, ts_col)
    s_rel = (
        dense.alias("a")
        .join(dense.alias("b"), "tile")
        .filter(F.col("a.d") < F.col("b.d"))
        .groupBy("tile")
        .agg(
            F.sum(
                F.expr("CAST(SIGN(b.c - a.c) AS BIGINT)")
            ).alias("s")
        )
    )
    ties = (
        dense.groupBy("tile", "c")
        .agg(F.count(F.lit(1)).alias("t"))
        .groupBy("tile")
        .agg(
            F.sum(
                F.expr("t * (t - 1) * (2 * t + 5)")
            ).alias("tie_term"),
            F.sum("t").alias("n"),
        )
    )
    return (
        ties.join(s_rel, "tile", "left")
        .selectExpr(
            "tile",
            "n AS n_bins",
            "coalesce(s, 0L) AS s",
            "n * (n - 1) * (2 * n + 5) - tie_term AS varnum",
        )
        .selectExpr(
            "tile", "n_bins", "s AS mk_s", "varnum",
            _mk_z_expr() + " AS mk_z",
        )
        .selectExpr(
            "tile", "n_bins", "mk_s", "varnum", "mk_z",
            _MK_TREND_EXPR + " AS trend",
        )
    )


def mk_trend_sql_duck(
    src: str = "events",
    zoom: int = 4,
    bounds: Bounds = DEFAULT_BOUNDS,
    geotag_col: str = "event_id",
    ts_col: str = "ts",
) -> str:
    """DuckDB twin — the identical relational decomposition rendered
    definitionally (generate_series densification, SIGN pair join, tie
    rollup), identical shared z / classification expressions."""
    return f"""
WITH {_daily_dense_ctes_duck(src, zoom, bounds, geotag_col, ts_col)},
ks AS (
  SELECT a.tile, CAST(SUM(CAST(SIGN(b.c - a.c) AS BIGINT)) AS BIGINT) AS s
  FROM kdense a JOIN kdense b ON a.tile = b.tile AND a.d < b.d
  GROUP BY 1),
kt AS (
  SELECT tile, CAST(SUM(t * (t - 1) * (2 * t + 5)) AS BIGINT) AS tie_term,
         CAST(SUM(t) AS BIGINT) AS n
  FROM (SELECT tile, c, CAST(COUNT(*) AS BIGINT) AS t
        FROM kdense GROUP BY 1, 2)
  GROUP BY 1),
kz AS (
  SELECT kt.tile, kt.n AS n_bins, COALESCE(ks.s, 0) AS s,
         kt.n * (kt.n - 1) * (2 * kt.n + 5) - kt.tie_term AS varnum
  FROM kt LEFT JOIN ks ON kt.tile = ks.tile),
kf AS (
  SELECT tile, n_bins, s AS mk_s, varnum, {_mk_z_expr()} AS mk_z
  FROM kz)
SELECT tile, n_bins, mk_s, varnum, mk_z, {_MK_TREND_EXPR} AS trend
FROM kf
"""


# ------------------------------------------------------ Theil–Sen slope
_SEN_SLOPE_EXPR = (
    "CASE WHEN vlo IS NULL THEN NULL ELSE (vlo + vhi) / 2.0 END"
)


def theil_sen(
    events: DataFrame,
    zoom: int = 4,
    bounds: Bounds = DEFAULT_BOUNDS,
    geotag_col: str = "event_id",
    ts_col: str = "ts",
) -> DataFrame:
    """Per-tile Theil–Sen estimator over the daily event-count series —
    the MAGNITUDE companion to :func:`mk_trend`'s significance test
    (the standard pairing in trend analysis): the median of all
    pairwise slopes (c_j − c_i) / (days between), in events/day,
    robust to outlier days.

    Shares :func:`_daily_dense`'s zero-densified (tile, day) substrate
    and its rationale. Each pair's slope is the IEEE double quotient of
    two exact integers (count diff / whole days apart); the median is
    selected by rank under the deterministic ordering
    (val, num, den) — duplicate slope VALUES make rank assignment
    among them arbitrary but the value at any rank deterministic, and
    an even pair count averages the two middle doubles in one shared
    expression — hash-checkable vs the DuckDB twin.

    Plan/scale shape: the same C(span_days, 2)-per-tile pair relation
    as mk_trend (tile-sized, never event-sized), plus ONE window
    shuffle partitioned by tile for the rank. A single-day span yields
    no pairs → NULL slope, tile still emitted.
    Output: (tile, n_bins, n_pairs, sen_slope)."""
    from pyspark.sql import Window

    dense = _daily_dense(events, zoom, bounds, geotag_col, ts_col)
    pairs = (
        dense.alias("a")
        .join(dense.alias("b"), "tile")
        .filter(F.col("a.d") < F.col("b.d"))
        .selectExpr(
            "tile",
            "CAST(b.c - a.c AS BIGINT) AS num",
            "CAST((b.d - a.d) DIV 86400 AS BIGINT) AS den",
        )
        .withColumn(
            "val", F.expr("CAST(num AS DOUBLE) / CAST(den AS DOUBLE)")
        )
    )
    ranked = pairs.select(
        "tile", "val",
        F.row_number().over(
            Window.partitionBy("tile").orderBy("val", "num", "den")
        ).alias("rn"),
        F.count(F.lit(1)).over(Window.partitionBy("tile")).alias("cnt"),
    )
    med = (
        ranked.filter("rn = (cnt + 1) DIV 2 OR rn = cnt DIV 2 + 1")
        .groupBy("tile")
        .agg(
            F.min("val").alias("vlo"),
            F.max("val").alias("vhi"),
            F.max("cnt").alias("n_pairs"),
        )
    )
    base = dense.groupBy("tile").agg(F.count(F.lit(1)).alias("n_bins"))
    return (
        base.join(med, "tile", "left")
        .selectExpr(
            "tile",
            "n_bins",
            "coalesce(n_pairs, 0L) AS n_pairs",
            _SEN_SLOPE_EXPR + " AS sen_slope",
        )
    )


def theil_sen_sql_duck(
    src: str = "events",
    zoom: int = 4,
    bounds: Bounds = DEFAULT_BOUNDS,
    geotag_col: str = "event_id",
    ts_col: str = "ts",
) -> str:
    """DuckDB twin — identical densification, pair-slope, deterministic
    rank ordering, and shared middle-average expression."""
    return f"""
WITH {_daily_dense_ctes_duck(src, zoom, bounds, geotag_col, ts_col)},
kp AS (
  SELECT a.tile,
         CAST(b.c - a.c AS BIGINT) AS num,
         CAST((b.d - a.d) // 86400 AS BIGINT) AS den
  FROM kdense a JOIN kdense b ON a.tile = b.tile AND a.d < b.d),
kv AS (SELECT tile, num, den,
              CAST(num AS DOUBLE) / CAST(den AS DOUBLE) AS val FROM kp),
kr AS (SELECT tile, val,
              ROW_NUMBER() OVER (PARTITION BY tile ORDER BY val, num, den) AS rn,
              CAST(COUNT(*) OVER (PARTITION BY tile) AS BIGINT) AS cnt
       FROM kv),
km AS (SELECT tile, MIN(val) AS vlo, MAX(val) AS vhi,
              CAST(MAX(cnt) AS BIGINT) AS n_pairs
       FROM kr WHERE rn = (cnt + 1) // 2 OR rn = cnt // 2 + 1
       GROUP BY 1),
kbase AS (SELECT tile, CAST(COUNT(*) AS BIGINT) AS n_bins
          FROM kdense GROUP BY 1)
SELECT kbase.tile, n_bins, COALESCE(n_pairs, 0) AS n_pairs,
       {_SEN_SLOPE_EXPR} AS sen_slope
FROM kbase LEFT JOIN km ON kbase.tile = km.tile
"""


# -------------------------------------------------- emerging hotspots
def _hot_flag_expr(z_hot: float) -> str:
    """Shared hot-bin indicator (gi_z is engine-identical, so the
    comparison is too)."""
    return (
        f"CASE WHEN gi_z IS NOT NULL AND gi_z >= {float(z_hot)!r}"
        " THEN 1 ELSE 0 END"
    )


_EMERGING_PATTERN_EXPR = (
    "CASE WHEN hot_bins = 0 THEN 'never-hot'"
    " WHEN last_hot = 0 THEN 'former'"
    " WHEN hot_bins = 1 THEN 'new'"
    " WHEN 10 * hot_bins >= 9 * n_bins THEN"
    " CASE trend WHEN 'up' THEN 'intensifying'"
    " WHEN 'down' THEN 'diminishing'"
    " ELSE 'persistent' END"
    " ELSE 'sporadic' END"
)


def emerging_hotspots(
    events: DataFrame,
    zoom: int = 4,
    bounds: Bounds = DEFAULT_BOUNDS,
    geotag_col: str = "event_id",
    ts_col: str = "ts",
    z_hot: float = 1.96,
) -> DataFrame:
    """Space-time-cube emerging-hot-spot analysis — the composition GIS
    suites ship as their flagship spatio-temporal tool: per DAY bin a
    LOCAL Getis-Ord Gi* z over the full 4^zoom lattice (hotspot.py's
    statistic, per time slice), then a Mann-Kendall trend over each
    tile's z SERIES, then a pattern classification (a documented
    6-class simplification of the 17-class taxonomy):

    * ``new`` — hot in the latest bin, never before;
    * ``intensifying`` / ``persistent`` / ``diminishing`` — hot in
      ≥90% of bins incl. the latest, with MK trend up / none / down;
    * ``sporadic`` — hot in the latest bin but <90% of bins;
    * ``former`` — historically hot, not in the latest bin;
    * ``never-hot`` — occupied but never significant.

    Exactness: per-bin Gi* needs only integer moments + closed-form
    clamped window sizes (hotspot.py's lattice trick, per slice), so
    every z is ONE shared double expression over identical integers —
    engine-identical — and the MK layer's SIGN/tie comparisons on
    those identical doubles are too. z is computed on the OCCUPIED-EVER
    tiles × ACTIVE days cube (empty days have no spatial signal and are
    excluded uniformly, keeping every tile's series aligned; a tile's
    empty day still gets its true z from neighbour counts and the bin
    moments).

    Plan/scale shape: one hash aggregate to (tile, day) counts; the
    scatter-gather fan-out is binned×9 (the shared queen scatter,
    ``geocell._queen_scatter``, keyed by day); the cube is occupied_tiles ×
    active_days (never event-sized); per-bin moments broadcast
    (one row per day); MK pairs are C(days, 2) per tile. No lattice
    materialization, no inequality join on the Spark side.
    Output: (tile, tx, ty, n_bins, hot_bins, last_hot, mk_z, trend,
    pattern)."""
    from linear_quadtree_spark.cache import track
    from linear_quadtree_spark.functions.geocell import cell_axis_expr
    from linear_quadtree_spark.functions.textexpr import SPARK
    from linear_quadtree_spark.operators.hotspot import _gi_z_expr

    n_lat = 1 << (2 * zoom)
    day = F.unix_timestamp(F.date_trunc("day", F.col(ts_col)))
    keyed = _with_keys(events, zoom, bounds, geotag_col, ts_col)
    binned = track(
        keyed.groupBy("tile", day.alias("d"))
        .agg(F.count(F.lit(1)).alias("c"))
        .withColumn("tx", F.expr(cell_axis_expr(SPARK, "tile", zoom, 0)))
        .withColumn("ty", F.expr(cell_axis_expr(SPARK, "tile", zoom, 1)))
    )
    days = binned.select("d").distinct()
    tiles = binned.select("tile", "tx", "ty").distinct()
    cube = tiles.crossJoin(F.broadcast(days))
    mom = binned.groupBy("d").agg(
        F.sum("c").alias("s1"),
        F.sum(F.col("c") * F.col("c")).alias("s2"),
    )
    focal = (
        _queen_scatter(binned.select("d", "tx", "ty", "c"), zoom, with_self=True)
        .groupBy("d", "ctx", "cty")
        .agg(F.sum("c").alias("fs"))
    )
    z = track(
        cube.join(
            focal,
            (cube["d"] == focal["d"]) & (cube["tx"] == focal["ctx"])
            & (cube["ty"] == focal["cty"]),
            "left",
        )
        .select(
            "tile", "tx", "ty", cube["d"].alias("d"),
            F.coalesce(F.col("fs"), F.lit(0)).cast("bigint").alias("fs"),
        )
        .join(F.broadcast(mom), "d")
        .withColumn("w", _queen_window(zoom))
        .selectExpr(
            "tile", "tx", "ty", "d",
            _gi_z_expr(n_lat) + " AS gi_z",
        )
    )
    s_rel = (
        z.alias("a")
        .join(z.alias("b"), "tile")
        .filter(F.col("a.d") < F.col("b.d"))
        .groupBy("tile")
        .agg(
            F.sum(
                F.expr("CAST(SIGN(b.gi_z - a.gi_z) AS BIGINT)")
            ).alias("s")
        )
    )
    ties = (
        z.groupBy("tile", "gi_z")
        .agg(F.count(F.lit(1)).alias("t"))
        .groupBy("tile")
        .agg(
            F.sum(F.expr("t * (t - 1) * (2 * t + 5)")).alias("tie_term"),
            F.sum("t").alias("n"),
        )
    )
    dmax = days.agg(F.max("d").alias("dmax"))
    hot = (
        z.crossJoin(F.broadcast(dmax))
        .selectExpr(
            "tile", "tx", "ty",
            _hot_flag_expr(z_hot) + " AS hot",
            "CAST(CASE WHEN d = dmax THEN " + _hot_flag_expr(z_hot)
            + " ELSE 0 END AS BIGINT) AS lh",
        )
        .groupBy("tile", "tx", "ty")
        .agg(
            F.sum("hot").alias("hot_bins"),
            F.max("lh").alias("last_hot"),
        )
    )
    mk = (
        ties.join(s_rel, "tile", "left")
        .selectExpr(
            "tile",
            "n AS n_bins",
            "coalesce(s, 0L) AS s",
            "n * (n - 1) * (2 * n + 5) - tie_term AS varnum",
        )
        .selectExpr(
            "tile", "n_bins", "s", "varnum",
            _mk_z_expr() + " AS mk_z",
        )
        .selectExpr(
            "tile", "n_bins", "mk_z",
            _MK_TREND_EXPR + " AS trend",
        )
    )
    return (
        hot.join(mk, "tile")
        .selectExpr(
            "tile", "tx", "ty", "n_bins", "hot_bins", "last_hot",
            "mk_z", "trend",
            _EMERGING_PATTERN_EXPR + " AS pattern",
        )
    )


def emerging_hotspots_sql_duck(
    src: str = "events",
    zoom: int = 4,
    bounds: Bounds = DEFAULT_BOUNDS,
    geotag_col: str = "event_id",
    ts_col: str = "ts",
    z_hot: float = 1.96,
) -> str:
    """DuckDB twin by the DEFINITION: per-bin BETWEEN self-join window
    sums over the occupied-ever × active-days cube (a different plan
    family than the Spark scatter-gather), identical shared Gi* z / MK
    z / hot-flag / pattern expressions."""
    from linear_quadtree_spark.functions.geocell import cell_axis_expr
    from linear_quadtree_spark.functions.textexpr import DUCK
    from linear_quadtree_spark.operators.hotspot import _gi_z_expr

    m = (1 << zoom) - 1
    n_lat = 1 << (2 * zoom)
    cell = geocell_sql_duck(
        geotag_x_sql(geotag_col), geotag_y_sql(geotag_col), bounds, zoom
    )
    hot_e = _hot_flag_expr(z_hot)
    return f"""
WITH eb0 AS (
  SELECT {cell} AS tile,
         CAST(epoch(date_trunc('day', {ts_col})) AS BIGINT) AS d,
         CAST(COUNT(*) AS BIGINT) AS c
  FROM {src} GROUP BY 1, 2),
eb AS (
  SELECT tile, d, c,
         {cell_axis_expr(DUCK, 'tile', zoom, 0)} AS tx,
         {cell_axis_expr(DUCK, 'tile', zoom, 1)} AS ty
  FROM eb0),
ed AS (SELECT DISTINCT d FROM eb),
et AS (SELECT DISTINCT tile, tx, ty FROM eb),
emom AS (SELECT d, CAST(SUM(c) AS BIGINT) AS s1,
                CAST(SUM(c * c) AS BIGINT) AS s2
         FROM eb GROUP BY 1),
ecube AS (SELECT et.tile, et.tx, et.ty, ed.d FROM et CROSS JOIN ed),
efs AS (
  SELECT cu.tile, cu.tx, cu.ty, cu.d,
         CAST(COALESCE(SUM(b.c), 0) AS BIGINT) AS fs
  FROM ecube cu LEFT JOIN eb b
    ON b.d = cu.d
   AND b.tx BETWEEN cu.tx - 1 AND cu.tx + 1
   AND b.ty BETWEEN cu.ty - 1 AND cu.ty + 1
  GROUP BY 1, 2, 3, 4),
ez AS (
  SELECT f.tile, f.tx, f.ty, f.d,
         {_gi_z_expr(n_lat)} AS gi_z
  FROM (SELECT efs.*, emom.s1, emom.s2,
               CAST((LEAST(tx + 1, {m}) - GREATEST(tx - 1, 0) + 1)
                    * (LEAST(ty + 1, {m}) - GREATEST(ty - 1, 0) + 1)
                 AS BIGINT) AS w
        FROM efs JOIN emom ON efs.d = emom.d) f),
eks AS (
  SELECT a.tile, CAST(SUM(CAST(SIGN(b.gi_z - a.gi_z) AS BIGINT)) AS BIGINT) AS s
  FROM ez a JOIN ez b ON a.tile = b.tile AND a.d < b.d
  GROUP BY 1),
ekt AS (
  SELECT tile, CAST(SUM(t * (t - 1) * (2 * t + 5)) AS BIGINT) AS tie_term,
         CAST(SUM(t) AS BIGINT) AS n
  FROM (SELECT tile, gi_z, CAST(COUNT(*) AS BIGINT) AS t
        FROM ez GROUP BY 1, 2)
  GROUP BY 1),
emk AS (
  SELECT tile, n_bins, mk_z,
         {_MK_TREND_EXPR} AS trend
  FROM (SELECT tile, n_bins, s, varnum, {_mk_z_expr()} AS mk_z
        FROM (SELECT ekt.tile, ekt.n AS n_bins, COALESCE(eks.s, 0) AS s,
                     ekt.n * (ekt.n - 1) * (2 * ekt.n + 5) - ekt.tie_term AS varnum
              FROM ekt LEFT JOIN eks ON ekt.tile = eks.tile))),
ehot AS (
  SELECT tile, tx, ty,
         CAST(SUM({hot_e}) AS BIGINT) AS hot_bins,
         CAST(MAX(CASE WHEN d = (SELECT MAX(d) FROM ed)
                  THEN {hot_e} ELSE 0 END) AS BIGINT) AS last_hot
  FROM ez GROUP BY 1, 2, 3)
SELECT ehot.tile, tx, ty, n_bins, hot_bins, last_hot, mk_z, trend,
       {_EMERGING_PATTERN_EXPR} AS pattern
FROM ehot JOIN emk ON ehot.tile = emk.tile
"""


# ------------------------------------------------- Knox space-time test
_KNOX_E_EXPR = (
    "CASE WHEN npairs = 0 THEN NULL"
    " ELSE (CAST(pairs_space AS DOUBLE) * CAST(pairs_time AS DOUBLE))"
    " / CAST(npairs AS DOUBLE) END"
)

_KNOX_Z_EXPR = (
    "CASE WHEN knox_e IS NULL OR knox_e = 0.0 THEN NULL"
    " ELSE (CAST(pairs_both AS DOUBLE) - knox_e) / SQRT(knox_e) END"
)


def knox_test(
    events: DataFrame,
    r: float,
    dt_s: int,
    event_id_col: str = "event_id",
    ts_col: str = "ts",
) -> DataFrame:
    """Knox space-time interaction test — "do events that are close in
    space also tend to be close in time?", the classic epidemiology /
    incident-cluster statistic. X = #pairs within BOTH distance ``r``
    and ``dt_s`` seconds; under no interaction E[X] ≈ Ns·Nt/N (Ns, Nt,
    N = space-close, time-close, all pairs), and the Poisson
    approximation z = (X − E)/sqrt(E) flags interaction (documented:
    the permutation-exact p is out of scope; z > ~2 is the usual flag).

    All four counts are exact integers from bucketed equi-joins (the
    colocation_pairs cube discipline — anchor keeps its own bucket,
    probe fans out, ``eid_a < eid_b`` picks one orientation, so every
    qualifying pair is counted exactly once, no dedup pass): a 9-cell
    2-D grid join at r for Ns, a 3-bucket 1-D time join at dt_s for
    Nt, the 27-cube join for X; N = C(n, 2) in closed form. E and z
    are the only doubles — shared expressions, hash-checkable vs the
    brute-force inequality-join DuckDB twin.

    Scale: candidates are density-bounded per bucket (AQE splits hot
    buckets); Nt's bucket population is the events-per-dt_s window —
    dt_s is the quadratic knob, size it to the question. Output one
    row: (n_events, npairs, pairs_space, pairs_time, pairs_both,
    knox_e, knox_z)."""
    if r <= 0 or dt_s <= 0:
        raise ValueError("r and dt_s must be positive")
    base = events.select(
        F.col(event_id_col).alias("eid"),
        geotag_x(event_id_col).cast("double").alias("px"),
        geotag_y(event_id_col).cast("double").alias("py"),
        F.expr(f"unix_timestamp({ts_col})").alias("ep"),
    )
    from linear_quadtree_spark.cache import track

    base = track(base)
    r2 = F.lit(float(r) * float(r))

    def _pair_count(space: bool, time: bool, alias: str) -> DataFrame:
        a = base.select(
            F.col("eid").alias("eid_a"),
            F.col("px").alias("ax"), F.col("py").alias("ay"),
            F.col("ep").alias("aep"),
        )
        keys = []
        if space:
            a = a.withColumn("jx", F.floor(F.col("ax") / F.lit(r)))
            a = a.withColumn("jy", F.floor(F.col("ay") / F.lit(r)))
            keys += ["jx", "jy"]
        if time:
            a = a.withColumn("jt", F.expr(f"aep div {dt_s}"))
            keys += ["jt"]
        soff = [(-1, 0, 1)] * 2 if space else [(0,), (0,)]
        toff = (-1, 0, 1) if time else (0,)
        offs = F.array(*[
            F.struct(
                F.lit(dx).alias("dx"), F.lit(dy).alias("dy"),
                F.lit(dz).alias("dz"),
            )
            for dx in soff[0] for dy in soff[1] for dz in toff
        ])
        b = base.select(
            F.col("eid").alias("eid_b"),
            F.col("px").alias("bx"), F.col("py").alias("by"),
            F.col("ep").alias("bep"),
            F.explode(offs).alias("o"),
        )
        cols = ["eid_b", "bx", "by", "bep"]
        if space:
            b = b.withColumn(
                "jx", F.floor(F.col("bx") / F.lit(r)) + F.col("o.dx")
            ).withColumn(
                "jy", F.floor(F.col("by") / F.lit(r)) + F.col("o.dy")
            )
            cols += ["jx", "jy"]
        if time:
            b = b.withColumn(
                "jt", F.expr(f"bep div {dt_s}") + F.col("o.dz")
            )
            cols += ["jt"]
        j = a.join(b.select(*cols), keys).filter(
            F.col("eid_a") < F.col("eid_b")
        )
        if space:
            dx = F.col("ax") - F.col("bx")
            dy = F.col("ay") - F.col("by")
            j = j.filter(dx * dx + dy * dy <= r2)
        if time:
            j = j.filter(F.abs(F.col("aep") - F.col("bep")) <= dt_s)
        return j.agg(F.count(F.lit(1)).alias(alias))

    tot = base.agg(F.count(F.lit(1)).alias("n"))
    out = (
        tot.crossJoin(_pair_count(True, False, "pairs_space"))
        .crossJoin(_pair_count(False, True, "pairs_time"))
        .crossJoin(_pair_count(True, True, "pairs_both"))
        .selectExpr(
            "n AS n_events",
            "CAST(n AS BIGINT) * (n - 1) DIV 2 AS npairs",
            "pairs_space", "pairs_time", "pairs_both",
        )
        .selectExpr(
            "n_events", "npairs", "pairs_space", "pairs_time",
            "pairs_both", _KNOX_E_EXPR + " AS knox_e",
        )
        .selectExpr(
            "n_events", "npairs", "pairs_space", "pairs_time",
            "pairs_both", "knox_e", _KNOX_Z_EXPR + " AS knox_z",
        )
    )
    return out


def knox_test_sql_duck(
    src: str = "events",
    r: float = 2.0,
    dt_s: int = 3600,
    event_id_col: str = "event_id",
    ts_col: str = "ts",
) -> str:
    """DuckDB twin by the DEFINITION: one brute-force ``eid_a < eid_b``
    pair scan with three conditional counts (no grid, no bucketing),
    identical refine predicates and shared E / z expressions."""
    px = f"CAST({geotag_x_sql(event_id_col)} AS DOUBLE)"
    py = f"CAST({geotag_y_sql(event_id_col)} AS DOUBLE)"
    r2 = repr(float(r) * float(r))
    return f"""
WITH kev AS (
  SELECT {event_id_col} AS eid, {px} AS px, {py} AS py,
         CAST(FLOOR(epoch({ts_col})) AS BIGINT) AS ep
  FROM {src}),
kn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM kev),
kp AS (
  SELECT
    CAST(COALESCE(SUM(CASE WHEN sclose THEN 1 ELSE 0 END), 0) AS BIGINT)
      AS pairs_space,
    CAST(COALESCE(SUM(CASE WHEN tclose THEN 1 ELSE 0 END), 0) AS BIGINT)
      AS pairs_time,
    CAST(COALESCE(SUM(CASE WHEN sclose AND tclose THEN 1 ELSE 0 END), 0)
      AS BIGINT) AS pairs_both
  FROM (
    SELECT (a.px - b.px) * (a.px - b.px)
           + (a.py - b.py) * (a.py - b.py) <= {r2} AS sclose,
           abs(a.ep - b.ep) <= {dt_s} AS tclose
    FROM kev a JOIN kev b ON a.eid < b.eid)),
kf AS (
  SELECT n AS n_events, CAST(n AS BIGINT) * (n - 1) // 2 AS npairs,
         pairs_space, pairs_time, pairs_both
  FROM kn, kp),
kg AS (
  SELECT n_events, npairs, pairs_space, pairs_time, pairs_both,
         {_KNOX_E_EXPR} AS knox_e
  FROM kf)
SELECT n_events, npairs, pairs_space, pairs_time, pairs_both, knox_e,
       {_KNOX_Z_EXPR} AS knox_z
FROM kg
"""


# ------------------------------------------------- space-time scan (top-k)
_RR_EXPR = (
    "CASE WHEN tile_total = 0 OR win_total = 0 THEN NULL"
    " ELSE (CAST(obs AS DOUBLE) * CAST(n_total AS DOUBLE))"
    " / (CAST(tile_total AS DOUBLE) * CAST(win_total AS DOUBLE)) END"
)


def spacetime_scan(
    events: DataFrame,
    zoom: int = 4,
    bounds: Bounds = DEFAULT_BOUNDS,
    geotag_col: str = "event_id",
    ts_col: str = "ts",
    max_len_days: int = 7,
    min_obs: int = 5,
    k: int = 20,
) -> DataFrame:
    """Space-time scan over (tile × day-window) cylinders — the
    simplified SaTScan shape: rank every cylinder (tile, window start,
    window length ≤ max_len_days) by its exact RELATIVE RISK
    rr = obs·N / (tile_total · window_total) under the margin
    independence null, keep the top k with obs ≥ min_obs. The full
    Kulldorff statistic ranks by Poisson LLR — a monotone function of
    rr at fixed obs; rr is log-free, so it stays a rational of exact
    integers and hash-checks (documented simplification).

    Plan/scale shape: one hash aggregate to (tile, day) counts; each
    binned row fans out to the ≤ L(L+1)/2 windows containing its day
    (L = max_len_days — the bounded knob, 28 copies at L = 7) and ONE
    aggregate forms cylinder observations; day margins fan identically
    on the days-sized relation; tile margins and N broadcast. Ranking
    is a global top-k (TakeOrderedAndProject — never a full sort) by
    (rr, obs, tile, start, len) — rr ties break on exact integers, so
    the k rows are deterministic. Nothing event-sized past the first
    aggregate. Output: (tile, win_start, win_len_days, obs, tile_total,
    win_total, n_total, rel_risk)."""
    if max_len_days < 1 or k < 1:
        raise ValueError("max_len_days and k must be >= 1")
    from linear_quadtree_spark.cache import track

    day = F.unix_timestamp(F.date_trunc("day", F.col(ts_col)))
    keyed = _with_keys(events, zoom, bounds, geotag_col, ts_col)
    binned = track(
        keyed.groupBy("tile", day.alias("d"))
        .agg(F.count(F.lit(1)).alias("c"))
    )
    L = max_len_days
    wins = F.expr(
        "explode(flatten(transform(sequence(0, {km}), k -> "
        "transform(sequence(k + 1, {L}), l -> "
        "named_struct('s', d - k * 86400L, 'l', l)))))".format(km=L - 1, L=L)
    )
    # windows are anchored at OCCUPIED days (the scan convention:
    # cylinders start at case times) — the day-shift fan-out also
    # produces starts that precede the first occupied day of a run,
    # and those must be dropped IDENTICALLY to the twin's
    # distinct-days x lengths enumeration
    starts = binned.select(F.col("d").alias("win_start")).distinct()
    cyl = (
        binned.select("tile", "c", wins.alias("w"))
        .groupBy("tile", F.col("w.s").alias("win_start"),
                 F.col("w.l").alias("win_len_days"))
        .agg(F.sum("c").alias("obs"))
        .filter(F.col("obs") >= min_obs)
        .join(F.broadcast(starts), "win_start", "left_semi")
    )
    md = binned.groupBy("d").agg(F.sum("c").alias("mc"))
    wm = (
        md.select("mc", wins.alias("w"))
        .groupBy(F.col("w.s").alias("win_start"),
                 F.col("w.l").alias("win_len_days"))
        .agg(F.sum("mc").alias("win_total"))
        .join(F.broadcast(starts), "win_start", "left_semi")
    )
    mt = binned.groupBy("tile").agg(F.sum("c").alias("tile_total"))
    tot = binned.agg(F.sum("c").alias("n_total"))
    ranked = (
        cyl.join(F.broadcast(wm), ["win_start", "win_len_days"])
        .join(F.broadcast(mt), "tile")
        .crossJoin(F.broadcast(tot))
        .selectExpr(
            "tile", "win_start",
            "CAST(win_len_days AS BIGINT) AS win_len_days", "obs",
            "tile_total", "win_total", "n_total",
            _RR_EXPR + " AS rel_risk",
        )
    )
    return ranked.orderBy(
        F.desc("rel_risk"), F.desc("obs"),
        "tile", "win_start", "win_len_days",
    ).limit(k)


def spacetime_scan_sql_duck(
    src: str = "events",
    zoom: int = 4,
    bounds: Bounds = DEFAULT_BOUNDS,
    geotag_col: str = "event_id",
    ts_col: str = "ts",
    max_len_days: int = 7,
    min_obs: int = 5,
    k: int = 20,
) -> str:
    """DuckDB twin by the DEFINITION: windows enumerated from the
    distinct-day relation × lengths, cylinder sums via a BETWEEN join
    (a different plan family than the Spark fan-out), identical rr
    expression and deterministic ORDER BY ... LIMIT k."""
    cell = geocell_sql_duck(
        geotag_x_sql(geotag_col), geotag_y_sql(geotag_col), bounds, zoom
    )
    L = max_len_days
    return f"""
WITH sb AS (
  SELECT {cell} AS tile,
         CAST(epoch(date_trunc('day', {ts_col})) AS BIGINT) AS d,
         CAST(COUNT(*) AS BIGINT) AS c
  FROM {src} GROUP BY 1, 2),
sw AS (
  SELECT d AS win_start, CAST(l AS BIGINT) AS win_len_days
  FROM (SELECT DISTINCT d FROM sb)
  CROSS JOIN (SELECT unnest(generate_series(1, {L})) AS l)),
scyl AS (
  SELECT sb.tile, sw.win_start, sw.win_len_days,
         CAST(SUM(sb.c) AS BIGINT) AS obs
  FROM sw JOIN sb
    ON sb.d BETWEEN sw.win_start
   AND sw.win_start + (sw.win_len_days - 1) * 86400
  GROUP BY 1, 2, 3
  HAVING SUM(sb.c) >= {min_obs}),
swm AS (
  SELECT sw.win_start, sw.win_len_days, CAST(SUM(sb.c) AS BIGINT) AS win_total
  FROM sw JOIN sb
    ON sb.d BETWEEN sw.win_start
   AND sw.win_start + (sw.win_len_days - 1) * 86400
  GROUP BY 1, 2),
smt AS (SELECT tile, CAST(SUM(c) AS BIGINT) AS tile_total FROM sb GROUP BY 1),
stot AS (SELECT CAST(SUM(c) AS BIGINT) AS n_total FROM sb),
sfin AS (
  SELECT scyl.tile, scyl.win_start, scyl.win_len_days, scyl.obs,
         smt.tile_total, swm.win_total, stot.n_total
  FROM scyl
  JOIN swm ON scyl.win_start = swm.win_start
          AND scyl.win_len_days = swm.win_len_days
  JOIN smt ON scyl.tile = smt.tile
  CROSS JOIN stot)
SELECT tile, win_start, win_len_days, obs, tile_total, win_total, n_total,
       {_RR_EXPR} AS rel_risk
FROM sfin
ORDER BY rel_risk DESC, obs DESC, tile, win_start, win_len_days
LIMIT {k}
"""


# --------------------------------------------------------- colocation lift
_CLQ_EXP_EXPR = (
    "CASE WHEN type_a = type_b THEN"
    " CAST(n_a AS DOUBLE) * (CAST(n_a AS DOUBLE) - 1.0) / 2.0"
    " ELSE CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE) END"
)

_CLQ_LIFT_EXPR = (
    f"CASE WHEN close_pairs = 0 OR ({_CLQ_EXP_EXPR}) = 0.0 THEN NULL"
    " ELSE (CAST(n_pairs AS DOUBLE) / CAST(close_pairs AS DOUBLE))"
    f" / (({_CLQ_EXP_EXPR})"
    " / (CAST(n_events AS DOUBLE) * (CAST(n_events AS DOUBLE) - 1.0) / 2.0))"
    " END"
)


def colocation_lift(
    events: DataFrame,
    r: float,
    type_col: str = "event_type",
    event_id_col: str = "event_id",
) -> DataFrame:
    """Categorical co-location mining: for every unordered pair of
    event TYPES, how over- or under-represented is that pair among
    event pairs within distance ``r``, relative to what the global
    type marginals predict (the participation-lift core of Shekhar's
    co-location pattern line, marginal-normalized like a PMI):

        lift(a,b) = [pairs_r(a,b) / pairs_r(·,·)]
                  / [expected(a,b) / C(N,2)]

    with expected(a,b) = n_a·n_b (a≠b) or C(n_a,2) (a=b). lift > 1 →
    the types co-occur spatially beyond chance (clicks cluster around
    purchases); < 1 → they avoid each other. Output
    ``(type_a, type_b, n_pairs, n_a, n_b, n_events, close_pairs,
    lift)`` — counts exact integers, lift ONE shared double expression.

    Scale shape (the colocation_pairs grid discipline, minus time):
    every event buckets into ONE r-cell; the probe side fans out over
    the 9 neighbors; the anchor never fans out and eid_a < eid_b keeps
    one orientation, so no dedup pass. ONE equi-join shuffle on the
    cell key (density-bounded candidates, AQE splits hot cells) + one
    map-side-combined pair-type aggregate (output ≤ types² rows);
    marginals and the 1-row close-pair total broadcast back.
    """
    if r <= 0:
        raise ValueError("r must be positive")
    from linear_quadtree_spark.cache import track
    from linear_quadtree_spark.functions.geotag import geotag_x, geotag_y

    base = events.select(
        F.col(event_id_col).alias("_eid"),
        F.col(type_col).alias("_ty"),
        geotag_x(event_id_col).cast("double").alias("_px"),
        geotag_y(event_id_col).cast("double").alias("_py"),
    )
    a = base.select(
        F.col("_eid").alias("eid_a"),
        F.col("_ty").alias("ty_a"),
        F.col("_px").alias("ax"),
        F.col("_py").alias("ay"),
        F.floor(F.col("_px") / F.lit(r)).alias("jx"),
        F.floor(F.col("_py") / F.lit(r)).alias("jy"),
    )
    offs = F.array(
        *[
            F.struct(F.lit(dx).alias("dx"), F.lit(dy).alias("dy"))
            for dx in (-1, 0, 1)
            for dy in (-1, 0, 1)
        ]
    )
    b = base.withColumn("o", F.explode(offs)).select(
        F.col("_eid").alias("eid_b"),
        F.col("_ty").alias("ty_b"),
        F.col("_px").alias("bx"),
        F.col("_py").alias("by"),
        (F.floor(F.col("_px") / F.lit(r)) + F.col("o.dx")).alias("jx"),
        (F.floor(F.col("_py") / F.lit(r)) + F.col("o.dy")).alias("jy"),
    )
    dx = F.col("ax") - F.col("bx")
    dy = F.col("ay") - F.col("by")
    tp = track(
        a.join(b, ["jx", "jy"])
        .filter(F.col("eid_a") < F.col("eid_b"))
        .filter(dx * dx + dy * dy <= F.lit(float(r) * float(r)))
        .select(
            F.least("ty_a", "ty_b").alias("type_a"),
            F.greatest("ty_a", "ty_b").alias("type_b"),
        )
        .groupBy("type_a", "type_b")
        .agg(F.count(F.lit(1)).alias("n_pairs"))
    )
    marg = events.groupBy(F.col(type_col).alias("_t")).agg(
        F.count(F.lit(1)).alias("_c")
    )
    tot = events.agg(F.count(F.lit(1)).alias("n_events"))
    close = tp.agg(F.coalesce(F.sum("n_pairs"), F.lit(0)).alias("close_pairs"))
    return (
        tp.join(
            F.broadcast(marg.select(F.col("_t").alias("type_a"),
                                    F.col("_c").alias("n_a"))),
            "type_a",
        )
        .join(
            F.broadcast(marg.select(F.col("_t").alias("type_b"),
                                    F.col("_c").alias("n_b"))),
            "type_b",
        )
        .crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(close))
        .selectExpr(
            "type_a", "type_b", "n_pairs", "n_a", "n_b",
            "n_events", "close_pairs",
            _CLQ_LIFT_EXPR + " AS lift",
        )
    )


def colocation_lift_sql_duck(
    src: str = "events",
    r: float = 0.8,
    type_col: str = "event_type",
    event_id_col: str = "event_id",
) -> str:
    """DuckDB twin — same grid bucketing rendered in SQL (the
    radius_join oracle precedent), identical refine predicates and the
    identical shared lift expression."""
    from linear_quadtree_spark.functions.geotag import geotag_x_sql, geotag_y_sql

    rr = repr(float(r))
    r2 = repr(float(r) * float(r))
    offs = ",".join(f"({dx},{dy})" for dy in (-1, 0, 1) for dx in (-1, 0, 1))
    return f"""
clbase AS (
  SELECT {event_id_col} AS eid, {type_col} AS ty,
         CAST({geotag_x_sql(event_id_col)} AS DOUBLE) AS px,
         CAST({geotag_y_sql(event_id_col)} AS DOUBLE) AS py
  FROM {src}),
clga AS (SELECT eid, ty, px, py,
                CAST(FLOOR(px / {rr}) AS BIGINT) AS jx,
                CAST(FLOOR(py / {rr}) AS BIGINT) AS jy
         FROM clbase),
cloffs(dx, dy) AS (VALUES {offs}),
clpairs AS (
  SELECT LEAST(a.ty, b.ty) AS type_a, GREATEST(a.ty, b.ty) AS type_b
  FROM clga a
  JOIN (SELECT g.eid, g.ty, g.px, g.py,
               g.jx + o.dx AS jx, g.jy + o.dy AS jy
        FROM clga g CROSS JOIN cloffs o) b
    ON a.jx = b.jx AND a.jy = b.jy AND a.eid < b.eid
  WHERE (a.px - b.px) * (a.px - b.px)
        + (a.py - b.py) * (a.py - b.py) <= {r2}),
cltp AS (SELECT type_a, type_b, CAST(COUNT(*) AS BIGINT) AS n_pairs
         FROM clpairs GROUP BY 1, 2),
clmarg AS (SELECT {type_col} AS t, CAST(COUNT(*) AS BIGINT) AS c
           FROM {src} GROUP BY 1),
cltot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_events FROM {src}),
clclose AS (SELECT CAST(COALESCE(SUM(n_pairs), 0) AS BIGINT) AS close_pairs
            FROM cltp),
clfin AS (
  SELECT tp.type_a, tp.type_b, tp.n_pairs,
         ma.c AS n_a, mb.c AS n_b, ct.n_events, cc.close_pairs
  FROM cltp tp
  JOIN clmarg ma ON ma.t = tp.type_a
  JOIN clmarg mb ON mb.t = tp.type_b
  CROSS JOIN cltot ct CROSS JOIN clclose cc)
SELECT type_a, type_b, n_pairs, n_a, n_b, n_events, close_pairs,
       {_CLQ_LIFT_EXPR} AS lift
FROM clfin
"""


# -------------------------------------------------------- tile transitions
_TT_CLASS_CASES = (
    "WHEN {c} = 0 THEN 0 WHEN {c} = 1 THEN 1 WHEN {c} <= 3 THEN 2"
    " WHEN {c} <= 7 THEN 3 ELSE 4"
)


def _tt_class_expr(c: str) -> str:
    """Activity class from an exact integer count — a fixed CASE ladder
    (0 / 1 / 2-3 / 4-7 / 8+), never a float log: engines disagree on
    transcendental rounding, never on integer comparisons."""
    return "CASE " + _TT_CLASS_CASES.format(c=c) + " END"


def tile_transitions(
    events: DataFrame,
    zoom: int = 4,
    bounds: Bounds = DEFAULT_BOUNDS,
    geotag_col: str = "event_id",
    ts_col: str = "ts",
) -> DataFrame:
    """Tile activity transition matrix — the discrete spatial-dynamics
    view (the Markov-chain half of Rey's spatial-Markov line of work):
    split the observed time range at its integer midpoint, classify
    every occupied tile's activity in each half on a fixed count
    ladder (0 / 1 / 2-3 / 4-7 / 8+), and count tiles per
    (class_from, class_to) cell. The growth/decay fingerprint of the
    corpus map: mass above the diagonal = growth, below = decay.

    Tiles occupied in NEITHER half (the empty lattice) are excluded by
    construction; a tile occupied in only one half classes as 0 in the
    other (the full-outer semantics, without materializing empties).
    Epoch split is the integer predicate 2·ep ≥ min_ep + max_ep — no
    data-dependent float threshold, bit-identical across engines.

    Scale shape: ONE map-side-combined aggregate keys events straight
    to (tile, half-counts) — conditional sums, so both epochs come out
    of a single pass; the 1-row time-range relation broadcasts; the
    transition rollup is tile-relation-sized. Output:
    (class_from, class_to, n_tiles)."""
    from linear_quadtree_spark.cache import track

    keyed = _with_keys(events, zoom, bounds, geotag_col, ts_col)
    ep = F.expr(f"unix_timestamp({ts_col})")
    rng = events.agg(
        F.min(F.expr(f"unix_timestamp({ts_col})")).alias("mn"),
        F.max(F.expr(f"unix_timestamp({ts_col})")).alias("mx"),
    )
    halves = (
        keyed.withColumn("_ep", ep)
        .crossJoin(F.broadcast(rng))
        .groupBy("tile")
        .agg(
            F.sum(
                F.expr("CASE WHEN 2 * _ep >= mn + mx THEN 0 ELSE 1 END")
            ).alias("c_a"),
            F.sum(
                F.expr("CASE WHEN 2 * _ep >= mn + mx THEN 1 ELSE 0 END")
            ).alias("c_b"),
        )
    )
    return (
        halves.select(
            F.expr(_tt_class_expr("c_a")).cast("int").alias("class_from"),
            F.expr(_tt_class_expr("c_b")).cast("int").alias("class_to"),
        )
        .groupBy("class_from", "class_to")
        .agg(F.count(F.lit(1)).alias("n_tiles"))
    )


def tile_transitions_sql_duck(
    src: str = "events",
    zoom: int = 4,
    bounds: Bounds = DEFAULT_BOUNDS,
    geotag_col: str = "event_id",
    ts_col: str = "ts",
) -> str:
    """DuckDB twin — identical tile keying, midpoint predicate and
    class ladder."""
    from linear_quadtree_spark.functions.geocell import geocell_sql_duck
    from linear_quadtree_spark.functions.geotag import geotag_x_sql, geotag_y_sql

    cell = geocell_sql_duck(
        geotag_x_sql(geotag_col), geotag_y_sql(geotag_col), bounds, zoom
    )
    ca_cls = _tt_class_expr("c_a")
    cb_cls = _tt_class_expr("c_b")
    return f"""
WITH ttk AS (
  SELECT {cell} AS tile, CAST(FLOOR(epoch({ts_col})) AS BIGINT) AS ep
  FROM {src}),
ttr AS (SELECT CAST(MIN(ep) AS BIGINT) AS mn, CAST(MAX(ep) AS BIGINT) AS mx
        FROM ttk),
tth AS (
  SELECT tile,
         CAST(SUM(CASE WHEN 2 * ep >= mn + mx THEN 0 ELSE 1 END) AS BIGINT) AS c_a,
         CAST(SUM(CASE WHEN 2 * ep >= mn + mx THEN 1 ELSE 0 END) AS BIGINT) AS c_b
  FROM ttk, ttr GROUP BY 1)
SELECT CAST({ca_cls} AS INTEGER) AS class_from,
       CAST({cb_cls} AS INTEGER) AS class_to,
       CAST(COUNT(*) AS BIGINT) AS n_tiles
FROM tth GROUP BY 1, 2
"""


# ---------------------------------------------------------- tile retention
def tile_retention(
    events: DataFrame,
    zoom: int = 4,
    bounds: Bounds = DEFAULT_BOUNDS,
    geotag_col: str = "event_id",
    id_col: str = "user_id",
    ts_col: str = "ts",
) -> DataFrame:
    """Per-tile visitor retention across the two halves of the time
    range — the engagement metric of place analytics ("of the people
    here in period A, how many came back in period B"): per tile, the
    distinct-visitor counts of each half and the integer-exact
    retained count/rate. The epoch split is the same integer-midpoint
    predicate tile_transitions uses (2·ep ≥ mn + mx; no float
    threshold). retention_ppm = 10^6·retained div n_users_a; NULL when
    the tile had no A-half visitors (absence reported, not 0).

    Scale shape: ONE map-side-deduped aggregate to distinct
    (tile, user, half-presence flags) — the only data-sized shuffle —
    then a tile rollup of that relation; the 1-row time range
    broadcasts. Output: (tile, n_users_a, n_users_b, n_retained,
    retention_ppm)."""
    keyed = _with_keys(events, zoom, bounds, geotag_col, ts_col)
    rng = events.agg(
        F.min(F.expr(f"unix_timestamp({ts_col})")).alias("mn"),
        F.max(F.expr(f"unix_timestamp({ts_col})")).alias("mx"),
    )
    pres = (
        keyed.withColumn("_ep", F.expr(f"unix_timestamp({ts_col})"))
        .crossJoin(F.broadcast(rng))
        .groupBy("tile", F.col(id_col).alias("_uid"))
        .agg(
            F.max(
                F.expr("CASE WHEN 2 * _ep >= mn + mx THEN 0 ELSE 1 END")
            ).alias("in_a"),
            F.max(
                F.expr("CASE WHEN 2 * _ep >= mn + mx THEN 1 ELSE 0 END")
            ).alias("in_b"),
        )
    )
    return (
        pres.groupBy("tile")
        .agg(
            F.sum("in_a").alias("n_users_a"),
            F.sum("in_b").alias("n_users_b"),
            F.sum(F.col("in_a") * F.col("in_b")).alias("n_retained"),
        )
        .selectExpr(
            "tile", "n_users_a", "n_users_b", "n_retained",
            "CASE WHEN n_users_a = 0 THEN NULL"
            " ELSE (1000000 * n_retained) div n_users_a END AS retention_ppm",
        )
    )


def tile_retention_sql_duck(
    src: str = "events",
    zoom: int = 4,
    bounds: Bounds = DEFAULT_BOUNDS,
    geotag_col: str = "event_id",
    id_col: str = "user_id",
    ts_col: str = "ts",
) -> str:
    """DuckDB twin — identical keying, midpoint split and integer
    retention arithmetic."""
    from linear_quadtree_spark.functions.geocell import geocell_sql_duck
    from linear_quadtree_spark.functions.geotag import geotag_x_sql, geotag_y_sql

    cell = geocell_sql_duck(
        geotag_x_sql(geotag_col), geotag_y_sql(geotag_col), bounds, zoom
    )
    return f"""
WITH trk AS (
  SELECT {cell} AS tile, {id_col} AS uid,
         CAST(FLOOR(epoch({ts_col})) AS BIGINT) AS ep
  FROM {src}),
trr AS (SELECT CAST(MIN(ep) AS BIGINT) AS mn, CAST(MAX(ep) AS BIGINT) AS mx
        FROM trk),
trp AS (
  SELECT tile, uid,
         CAST(MAX(CASE WHEN 2 * ep >= mn + mx THEN 0 ELSE 1 END) AS BIGINT) AS in_a,
         CAST(MAX(CASE WHEN 2 * ep >= mn + mx THEN 1 ELSE 0 END) AS BIGINT) AS in_b
  FROM trk, trr GROUP BY 1, 2)
SELECT tile,
       CAST(SUM(in_a) AS BIGINT) AS n_users_a,
       CAST(SUM(in_b) AS BIGINT) AS n_users_b,
       CAST(SUM(in_a * in_b) AS BIGINT) AS n_retained,
       CASE WHEN SUM(in_a) = 0 THEN NULL
            ELSE (1000000 * CAST(SUM(in_a * in_b) AS BIGINT))
                 // CAST(SUM(in_a) AS BIGINT) END AS retention_ppm
FROM trp GROUP BY 1
"""


# ---------------------------------------------------------- tile type mix
def tile_type_mix(
    events: DataFrame,
    zoom: int = 4,
    bounds: Bounds = DEFAULT_BOUNDS,
    geotag_col: str = "event_id",
    type_col: str = "event_type",
) -> DataFrame:
    """Per-tile activity-mix profile — the land-use-mix analog for an
    event stream: per tile, total events, distinct types present, the
    dominant type (ties → count desc then type asc, integer/string
    comparisons only), its count, and the integer-exact mix HHI
    (10^6·Σc²  div (Σc)²; 10^6 = single-use tile, lower = mixed) — the
    tile_concentration discipline applied to the type dimension.

    Scale shape: ONE map-side-combined aggregate to (tile, type)
    counts; a tile rollup AND a WindowGroupLimit dominant-type rank
    both run on that tiny relation (≤ tiles × types rows) and join
    back tile-keyed. Events touched once. Output: (tile, n_events,
    n_types, top_type, top_n, mix_hhi_ppm)."""
    from pyspark.sql import Window

    from linear_quadtree_spark.cache import track

    keyed = _with_keys(events, zoom, bounds, geotag_col, "ts")
    # tracked persist: the rollup and the peak-rank branches would each
    # re-scan events without it (plan-audited, tests/test_plans.py);
    # the cached relation is ≤ tiles × types rows
    tc = track(
        keyed.select("tile", F.col(type_col).alias("ty"))
        .groupBy("tile", "ty")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    roll = tc.groupBy("tile").agg(
        F.sum("c").alias("n_events"),
        F.count(F.lit(1)).alias("n_types"),
        F.sum(F.col("c").cast("decimal(19,0)") * F.col("c")).alias("_ss"),
    )
    w = Window.partitionBy("tile").orderBy(F.col("c").desc(), F.col("ty"))
    top = (
        tc.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") == 1)
        .select("tile", F.col("ty").alias("top_type"), F.col("c").alias("top_n"))
    )
    return roll.join(top, "tile").selectExpr(
        "tile", "n_events", "n_types", "top_type", "top_n",
        "CAST((CAST(1000000 AS DECIMAL(38,0)) * CAST(_ss AS DECIMAL(38,0))) div (CAST(n_events AS DECIMAL(38,0)) * CAST(n_events AS DECIMAL(38,0))) AS BIGINT) AS mix_hhi_ppm",
    )


def tile_type_mix_sql_duck(
    src: str = "events",
    zoom: int = 4,
    bounds: Bounds = DEFAULT_BOUNDS,
    geotag_col: str = "event_id",
    type_col: str = "event_type",
) -> str:
    """DuckDB twin — same keying, rollup, rank and integer HHI."""
    from linear_quadtree_spark.functions.geocell import geocell_sql_duck
    from linear_quadtree_spark.functions.geotag import geotag_x_sql, geotag_y_sql

    cell = geocell_sql_duck(
        geotag_x_sql(geotag_col), geotag_y_sql(geotag_col), bounds, zoom
    )
    return f"""
WITH tmk AS (SELECT {cell} AS tile, {type_col} AS ty FROM {src}),
tmc AS (SELECT tile, ty, CAST(COUNT(*) AS BIGINT) AS c
        FROM tmk GROUP BY 1, 2),
tmr AS (SELECT tile, CAST(SUM(c) AS BIGINT) AS n_events,
               CAST(COUNT(*) AS BIGINT) AS n_types,
               SUM(CAST(c AS HUGEINT) * c) AS ss
        FROM tmc GROUP BY 1),
tmt AS (SELECT tile, ty AS top_type, c AS top_n
        FROM (SELECT *, ROW_NUMBER() OVER (
                PARTITION BY tile ORDER BY c DESC, ty) AS rk FROM tmc)
        WHERE rk = 1)
SELECT tmr.tile, n_events, n_types, top_type, top_n,
       CAST((1000000 * ss) // (CAST(n_events AS HUGEINT) * n_events) AS BIGINT) AS mix_hhi_ppm
FROM tmr JOIN tmt ON tmr.tile = tmt.tile
"""


# ---------------------------------------------------------- tile diurnal
def tile_diurnal(
    events: DataFrame,
    zoom: int = 4,
    bounds: Bounds = DEFAULT_BOUNDS,
    geotag_col: str = "event_id",
    ts_col: str = "ts",
    night_end_hour: int = 6,
) -> DataFrame:
    """Per-tile diurnal (hour-of-day) profile — the "when is this place
    alive" view a land-use / audience dashboard draws: total events,
    distinct active hours (of 24), the peak hour (ties → earlier hour,
    integer comparisons only) and its count/share, the integer-exact
    hour-concentration HHI (10^6·Σc² div (Σc)²; 10^6 = single-hour
    tile), and the night share (hour < ``night_end_hour``) — the same
    window anchor_tiles uses for its home inference.

    Everything is an exact integer; no trigonometric circular stats, so
    the DuckDB twin hashes bit-identically. Scale shape: ONE
    map-side-combined aggregate to (tile, hour-of-day) counts — output
    ≤ 24·4^zoom regardless of input rows — then a rollup and a
    WindowGroupLimit peak rank on that tiny relation, joined back
    tile-keyed. Events touched once. Output: (tile, n_events, n_hours,
    peak_hour, peak_n, peak_ppm, hour_hhi_ppm, night_ppm)."""
    from pyspark.sql import Window

    if not 1 <= night_end_hour <= 23:
        raise ValueError("night_end_hour must be in [1, 23]")
    from linear_quadtree_spark.cache import track

    keyed = _with_keys(events, zoom, bounds, geotag_col, ts_col)
    # tracked persist: rollup + peak rank both consume this (≤ 24·4^zoom
    # rows); uncached each branch re-scans events (plan-audited)
    hc = track(
        keyed.select("tile", F.hour(F.col(ts_col)).alias("h"))
        .groupBy("tile", "h")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    roll = hc.groupBy("tile").agg(
        F.sum("c").alias("n_events"),
        F.count(F.lit(1)).alias("n_hours"),
        F.sum(F.col("c").cast("decimal(19,0)") * F.col("c")).alias("_ss"),
        F.sum(F.when(F.col("h") < night_end_hour, F.col("c")).otherwise(F.lit(0)))
        .alias("_night"),
    )
    w = Window.partitionBy("tile").orderBy(F.col("c").desc(), F.col("h"))
    peak = (
        hc.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") == 1)
        .select("tile", F.col("h").alias("peak_hour"), F.col("c").alias("peak_n"))
    )
    return roll.join(peak, "tile").selectExpr(
        "tile", "n_events", "n_hours", "peak_hour", "peak_n",
        "(1000000 * peak_n) div n_events AS peak_ppm",
        "CAST((CAST(1000000 AS DECIMAL(38,0)) * CAST(_ss AS DECIMAL(38,0))) div (CAST(n_events AS DECIMAL(38,0)) * CAST(n_events AS DECIMAL(38,0))) AS BIGINT) AS hour_hhi_ppm",
        "(1000000 * _night) div n_events AS night_ppm",
    )


def tile_diurnal_sql_duck(
    src: str = "events",
    zoom: int = 4,
    bounds: Bounds = DEFAULT_BOUNDS,
    geotag_col: str = "event_id",
    ts_col: str = "ts",
    night_end_hour: int = 6,
) -> str:
    """DuckDB twin — same keying, hour bucket, rollup, peak rank and
    integer ppm arithmetic."""
    from linear_quadtree_spark.functions.geocell import geocell_sql_duck
    from linear_quadtree_spark.functions.geotag import geotag_x_sql, geotag_y_sql

    cell = geocell_sql_duck(
        geotag_x_sql(geotag_col), geotag_y_sql(geotag_col), bounds, zoom
    )
    return f"""
WITH dik AS (SELECT {cell} AS tile,
                    CAST(hour({ts_col}) AS INT) AS h FROM {src}),
dic AS (SELECT tile, h, CAST(COUNT(*) AS BIGINT) AS c
        FROM dik GROUP BY 1, 2),
dir AS (SELECT tile, CAST(SUM(c) AS BIGINT) AS n_events,
               CAST(COUNT(*) AS BIGINT) AS n_hours,
               SUM(CAST(c AS HUGEINT) * c) AS ss,
               CAST(SUM(CASE WHEN h < {night_end_hour} THEN c ELSE 0 END)
                    AS BIGINT) AS night
        FROM dic GROUP BY 1),
dip AS (SELECT tile, h AS peak_hour, c AS peak_n
        FROM (SELECT *, ROW_NUMBER() OVER (
                PARTITION BY tile ORDER BY c DESC, h) AS rk FROM dic)
        WHERE rk = 1)
SELECT dir.tile, n_events, n_hours, peak_hour, peak_n,
       (1000000 * peak_n) // n_events AS peak_ppm,
       CAST((1000000 * ss) // (CAST(n_events AS HUGEINT) * n_events) AS BIGINT) AS hour_hhi_ppm,
       (1000000 * night) // n_events AS night_ppm
FROM dir JOIN dip ON dir.tile = dip.tile
"""


def tile_time_cube(
    events: DataFrame,
    zoom: int = 4,
    bounds: Bounds = DEFAULT_BOUNDS,
    geotag_col: str = "event_id",
    ts_col: str = "ts",
    user_col: str = "user_id",
    value_col: str = "value",
) -> DataFrame:
    """Multi-granularity tile/time OLAP cube in ONE declared pass:
    ``ROLLUP(tile, dow, hour)`` — per (tile, day-of-week, hour-of-day),
    per (tile, day-of-week), and per tile, the grand-total row dropped.
    This is the precomputed rollup a tile-serving dashboard reads at
    every zoom of its time axis, and the idiomatic Catalyst shape for
    it: the ROLLUP lowers to one Expand (3 grouping sets) feeding ONE
    hash aggregate with map-side partial combine, so all three
    granularities cost a single shuffle of the (already tile-bounded)
    expand output — not three scans of the events relation.

    Day-of-week is the PORTABLE epoch formula ``((epoch_days) + 4) % 7``
    (0 = Sunday; 1970-01-01 was a Thursday): Spark's ``dayofweek`` is
    1-7 Sunday-first while DuckDB's is 0-6, so neither builtin can be
    the shared definition. Domain restriction: the formula uses
    truncating integer division and sign-of-dividend modulo, so it is
    only a valid weekday for ``ts >= 1970-01-01 UTC`` (pre-epoch
    timestamps yield wrong or negative dow in BOTH engines — parity
    holds, validity does not). Crawl/event timestamps are inherently
    post-1970, so this is documented rather than branch-compensated;
    the DuckDB twin applies FLOOR before the BIGINT cast because
    DuckDB ``epoch()`` returns DOUBLE and a bare cast rounds half-up
    (sub-second timestamps within 0.5 s of midnight would otherwise
    land on the next day, where Spark's ``unix_timestamp`` floors).
    Session timezone is pinned UTC (oracle
    parity). ``max_value`` rather than a float sum: double addition is
    order-dependent across engines; MAX is order-free, so every output
    column hashes bit-identically.

    Output: (tile, dow, hour, gid, n_events, n_users, max_value) where
    gid ∈ {0 (tile,dow,hour), 1 (tile,dow), 3 (tile)} disambiguates the
    NULLed-out grain columns exactly like SQL GROUPING_ID."""
    keyed = _with_keys(events, zoom, bounds, geotag_col, ts_col)
    d = keyed.select(
        "tile",
        F.expr(
            f"((CAST(unix_timestamp({ts_col}) AS BIGINT) div 86400) + 4) % 7"
        ).alias("dow"),
        F.hour(F.col(ts_col)).cast("int").alias("hour"),
        F.col(user_col),
        F.col(value_col),
    )
    return (
        d.rollup("tile", "dow", "hour")
        .agg(
            F.grouping_id().cast("int").alias("gid"),
            F.count(F.lit(1)).alias("n_events"),
            F.countDistinct(user_col).alias("n_users"),
            F.max(value_col).alias("max_value"),
        )
        .filter(F.col("gid") < 7)
        .select("tile", "dow", "hour", "gid", "n_events", "n_users", "max_value")
    )


def tile_time_cube_sql_duck(
    src: str = "events",
    zoom: int = 4,
    bounds: Bounds = DEFAULT_BOUNDS,
    geotag_col: str = "event_id",
    ts_col: str = "ts",
    user_col: str = "user_id",
    value_col: str = "value",
) -> str:
    """DuckDB twin — identical keying, the same epoch day-of-week
    formula, GROUP BY ROLLUP with GROUPING() as the grain id."""
    from linear_quadtree_spark.functions.geocell import geocell_sql_duck
    from linear_quadtree_spark.functions.geotag import geotag_x_sql, geotag_y_sql

    cell = geocell_sql_duck(
        geotag_x_sql(geotag_col), geotag_y_sql(geotag_col), bounds, zoom
    )
    return f"""
WITH ck AS (SELECT {cell} AS tile,
                   ((CAST(FLOOR(epoch({ts_col})) AS BIGINT) // 86400) + 4) % 7 AS dow,
                   CAST(hour({ts_col}) AS INT) AS hour,
                   {user_col}, {value_col}
            FROM {src})
SELECT tile, dow, hour,
       CAST(GROUPING(tile, dow, hour) AS INT) AS gid,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(COUNT(DISTINCT {user_col}) AS BIGINT) AS n_users,
       MAX({value_col}) AS max_value
FROM ck
GROUP BY ROLLUP(tile, dow, hour)
HAVING GROUPING(tile, dow, hour) < 7
"""
