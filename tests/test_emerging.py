"""emerging_hotspots: full Python brute-force equivalence on real data
(z pipeline, MK layer, classification), plus directed per-class
fixtures — a dominant spike is the only way a cell-day goes hot under
the permutation null, so each pattern class gets its own engineered
spike schedule over a 10-day cube."""

import datetime as dt
import math
from collections import Counter, defaultdict

import pytest
from pyspark.sql import functions as F

from linear_quadtree_spark.config import DEFAULT_BOUNDS
from linear_quadtree_spark.functions.geocell import cell_axis_expr, geocell_col
from linear_quadtree_spark.functions.geotag import geotag_x, geotag_y
from linear_quadtree_spark.functions.textexpr import SPARK
from linear_quadtree_spark.operators.spacetime import emerging_hotspots

pytestmark = pytest.mark.filterwarnings("error::DeprecationWarning")

T0 = dt.datetime(2026, 1, 1, 0, 30, 0)
Z3 = 3
M3 = (1 << Z3) - 1


def _brute(rows, zoom, z_hot=1.96):
    """rows: (tile, tx, ty, day_epoch) per event. Mirrors the engine's
    shared expressions op-for-op so doubles are bit-identical."""
    counts = defaultdict(int)
    txy = {}
    for tile, tx, ty, d in rows:
        counts[(tile, d)] += 1
        txy[tile] = (tx, ty)
    days = sorted({d for (_, d) in counts})
    n = float(1 << (2 * zoom))
    m = (1 << zoom) - 1
    mom = {
        d: (
            sum(c for (t, dd), c in counts.items() if dd == d),
            sum(c * c for (t, dd), c in counts.items() if dd == d),
        )
        for d in days
    }
    out = {}
    for tile, (tx, ty) in txy.items():
        w = (min(tx + 1, m) - max(tx - 1, 0) + 1) * (
            min(ty + 1, m) - max(ty - 1, 0) + 1
        )
        zs = []
        for d in days:
            fs = sum(
                counts.get((ot, d), 0)
                for ot, (ox, oy) in txy.items()
                if abs(ox - tx) <= 1 and abs(oy - ty) <= 1
            )
            s1, s2 = mom[d]
            if n * s2 == s1 * s1:
                zs.append(None)
                continue
            xb = s1 / n
            zs.append(
                (fs - xb * w)
                / (
                    math.sqrt(s2 / n - xb * xb)
                    * math.sqrt((w * (n - w)) / (n - 1.0))
                )
            )
        nb = len(zs)
        s = sum(
            (zs[j] > zs[i]) - (zs[j] < zs[i])
            for i in range(nb)
            for j in range(i + 1, nb)
        )
        ties = Counter(zs)
        varnum = nb * (nb - 1) * (2 * nb + 5) - sum(
            t * (t - 1) * (2 * t + 5) for t in ties.values()
        )
        if varnum <= 0:
            mkz, trend = None, "flat"
        else:
            sd = math.sqrt(varnum / 18.0)
            mkz = 0.0 if s == 0 else (s - 1) / sd if s > 0 else (s + 1) / sd
            trend = "up" if mkz >= 1.96 else "down" if mkz <= -1.96 else "none"
        hot = [1 if (z is not None and z >= z_hot) else 0 for z in zs]
        hot_bins, last_hot = sum(hot), hot[-1]
        if hot_bins == 0:
            pattern = "never-hot"
        elif last_hot == 0:
            pattern = "former"
        elif hot_bins == 1:
            pattern = "new"
        elif 10 * hot_bins >= 9 * nb:
            pattern = {"up": "intensifying", "down": "diminishing"}.get(
                trend, "persistent"
            )
        else:
            pattern = "sporadic"
        out[tile] = (nb, hot_bins, last_hot, mkz, trend, pattern)
    return out


def _check(spark, events, zoom):
    got = {r.tile: r for r in emerging_hotspots(events, zoom=zoom).collect()}
    rows = (
        events.withColumn("_x", geotag_x("event_id"))
        .withColumn("_y", geotag_y("event_id"))
        .withColumn("tile", geocell_col("_x", "_y", DEFAULT_BOUNDS, zoom))
        .selectExpr(
            "tile",
            cell_axis_expr(SPARK, "tile", zoom, 0) + " AS tx",
            cell_axis_expr(SPARK, "tile", zoom, 1) + " AS ty",
            "CAST(unix_timestamp(date_trunc('day', ts)) AS BIGINT) AS d",
        )
        .collect()
    )
    exp = _brute([(r.tile, r.tx, r.ty, r.d) for r in rows], zoom)
    assert set(got) == set(exp)
    for tile, (nb, hb, lh, mkz, trend, pattern) in exp.items():
        r = got[tile]
        assert (r.n_bins, r.hot_bins, r.last_hot) == (nb, hb, lh), tile
        if mkz is None:
            assert r.mk_z is None
        else:
            assert abs(r.mk_z - mkz) <= 1e-12 * max(1.0, abs(mkz))
        assert r.trend == trend, tile
        assert r.pattern == pattern, tile
    return {t: got[t].pattern for t in got}


def test_bruteforce_real_data(spark, sf_dir):
    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    pats = set(_check(spark, events, Z3).values())
    assert "never-hot" in pats  # uniform data: flat everywhere


def _tile_map(spark):
    """id -> (tile, tx, ty) at zoom 3 for ids 0..20000 (geotag hash)."""
    rows = (
        spark.range(20000).selectExpr("id AS event_id")
        .withColumn("_x", geotag_x("event_id"))
        .withColumn("_y", geotag_y("event_id"))
        .withColumn("tile", geocell_col("_x", "_y", DEFAULT_BOUNDS, Z3))
        .selectExpr(
            "event_id", "tile",
            cell_axis_expr(SPARK, "tile", Z3, 0) + " AS tx",
            cell_axis_expr(SPARK, "tile", Z3, 1) + " AS ty",
        )
        .collect()
    )
    by_tile = defaultdict(list)
    txy = {}
    for r in rows:
        by_tile[r.tile].append(r.event_id)
        txy[r.tile] = (r.tx, r.ty)
    return by_tile, txy


def _mk_events(spark, evs):
    rows = [(e, 1, T0 + dt.timedelta(days=day)) for e, day in evs]
    return spark.createDataFrame(
        rows, "event_id: long, user_id: long, ts: timestamp"
    )


class _Fix:
    """Shared fixture geometry: an interior 3x3 block for the spike
    schedules, plus two far-apart background tiles (1 event/day each —
    two equal singletons are never hot, keeping quiet days quiet)."""

    def __init__(self, spark):
        self.by_tile, txy = _tile_map(spark)
        inv = {v: k for k, v in txy.items()}
        # an interior center whose full 3x3 block has ids available
        self.center = None
        for tile, (tx, ty) in txy.items():
            if not (1 <= tx <= M3 - 1 and 1 <= ty <= M3 - 1):
                continue
            block = [
                inv.get((tx + dx, ty + dy))
                for dx in (-1, 0, 1) for dy in (-1, 0, 1)
            ]
            if all(b is not None and self.by_tile[b] for b in block):
                self.center, self.block = tile, block
                self.ctx, self.cty = tx, ty
                break
        assert self.center is not None
        far = [
            t for t, (tx, ty) in txy.items()
            if abs(tx - self.ctx) > 2 and abs(ty - self.cty) > 2
            and self.by_tile[t]
        ]
        assert len(far) >= 2
        self.bg = far[:2]

    def events(self, spark, spikes):
        """spikes: list of (tile, day, k) -> k duplicate events of one
        of the tile's ids on that day; background added automatically."""
        evs = []
        for t in self.bg:
            evs += [(self.by_tile[t][0], day) for day in range(10)]
        for tile, day, k in spikes:
            evs += [(self.by_tile[tile][0], day)] * k
        return _mk_events(spark, evs)


def _pattern_of(spark, fix, spikes, tile):
    events = fix.events(spark, spikes)
    pats = _check(spark, events, Z3)  # full brute-force equivalence
    return pats[tile], set(pats.values())


def test_pattern_classes(spark):
    fix = _Fix(spark)
    c = fix.center

    p, _ = _pattern_of(spark, fix, [(c, 9, 60)], c)
    assert p == "new"

    p, _ = _pattern_of(spark, fix, [(c, 0, 60), (c, 1, 60)], c)
    assert p == "former"

    p, _ = _pattern_of(spark, fix, [(c, d, 60) for d in range(10)], c)
    assert p == "persistent"

    p, _ = _pattern_of(spark, fix, [(c, d, 60) for d in (0, 1, 9)], c)
    assert p == "sporadic"

    grow = [
        (t, d, 60)
        for d in range(10)
        for t in fix.block[: min(d + 1, 9)]
    ]
    p, pats = _pattern_of(spark, fix, grow, c)
    assert p == "intensifying"
    assert "never-hot" in pats

    shrink = [
        (t, d, 60)
        for d in range(10)
        for t in fix.block[: min(10 - d, 9)]
    ]
    p, _ = _pattern_of(spark, fix, shrink, c)
    assert p == "diminishing"


# ---------------------------------------------------------- transitions
def test_tile_transitions_bruteforce(spark, sf_dir):
    """Transition matrix equals the Python recomputation: tile keying,
    integer-midpoint epoch split, fixed class ladder; total tiles
    conserve."""
    import collections
    import datetime as dt

    from pyspark.sql import functions as F

    from linear_quadtree_spark.functions.geocell import geocell_col
    from linear_quadtree_spark.functions.geotag import geotag_x_sql, geotag_y_sql
    from linear_quadtree_spark.operators.spacetime import tile_transitions

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    rows = ev.select(
        "event_id", "ts",
        geocell_col(
            geotag_x_sql("event_id"), geotag_y_sql("event_id"), level=4
        ).alias("tile"),
    ).collect()
    eps = [
        int(r.ts.replace(tzinfo=dt.timezone.utc).timestamp()) for r in rows
    ]
    mn, mx = min(eps), max(eps)
    ca = collections.Counter()
    cb = collections.Counter()
    for r, ep in zip(rows, eps):
        (cb if 2 * ep >= mn + mx else ca)[r.tile] += 1

    def cls(c):
        return 0 if c == 0 else 1 if c == 1 else 2 if c <= 3 else 3 if c <= 7 else 4

    exp = collections.Counter(
        (cls(ca[t]), cls(cb[t])) for t in set(ca) | set(cb)
    )
    got = {
        (r.class_from, r.class_to): r.n_tiles
        for r in tile_transitions(ev, zoom=4).collect()
    }
    assert got == dict(exp)
    assert sum(got.values()) == len(set(ca) | set(cb))
    # both halves are populated: some tile classes 0 on exactly one side
    assert any(a == 0 or b == 0 for a, b in got) or len(got) > 1


def test_tile_retention_bruteforce(spark, sf_dir):
    """Retention equals the Python recomputation over distinct
    (tile, user, half) visits; laws: retained <= min(nA, nB) and
    ppm = 10^6*retained div nA."""
    import collections
    import datetime as dt

    from pyspark.sql import functions as F

    from linear_quadtree_spark.functions.geocell import geocell_col
    from linear_quadtree_spark.functions.geotag import geotag_x_sql, geotag_y_sql
    from linear_quadtree_spark.operators.spacetime import tile_retention

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    rows = ev.select(
        "user_id", "ts",
        geocell_col(
            geotag_x_sql("event_id"), geotag_y_sql("event_id"), level=4
        ).alias("tile"),
    ).collect()
    eps = [int(r.ts.replace(tzinfo=dt.timezone.utc).timestamp()) for r in rows]
    mn, mx = min(eps), max(eps)
    a = collections.defaultdict(set)
    b = collections.defaultdict(set)
    for r, ep in zip(rows, eps):
        (b if 2 * ep >= mn + mx else a)[r.tile].add(r.user_id)
    exp = {}
    for t in set(a) | set(b):
        na, nb = len(a[t]), len(b[t])
        ret = len(a[t] & b[t])
        ppm = (1_000_000 * ret) // na if na else None
        exp[t] = (na, nb, ret, ppm)
    got = {
        r.tile: (r.n_users_a, r.n_users_b, r.n_retained, r.retention_ppm)
        for r in tile_retention(ev, zoom=4).collect()
    }
    assert got == exp
    assert len(got) > 50
    for na, nb, ret, _ in got.values():
        assert ret <= min(na, nb)


def test_tile_type_mix_bruteforce(spark, sf_dir):
    """Mix profile equals the Python recomputation: per-tile totals,
    distinct types, (count desc, type asc) dominant, integer HHI ppm;
    laws: single-type tile -> 10^6 exactly, HHI >= ceil(10^6/n_types)
    region lower bound via top_n <= n_events."""
    import collections

    from linear_quadtree_spark.functions.geocell import geocell_col
    from linear_quadtree_spark.functions.geotag import geotag_x_sql, geotag_y_sql
    from linear_quadtree_spark.operators.spacetime import tile_type_mix

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    rows = ev.select(
        "event_type",
        geocell_col(
            geotag_x_sql("event_id"), geotag_y_sql("event_id"), level=4
        ).alias("tile"),
    ).collect()
    tc = collections.Counter((r.tile, r.event_type) for r in rows)
    per = collections.defaultdict(dict)
    for (t, ty), c in tc.items():
        per[t][ty] = c
    exp = {}
    for t, m in per.items():
        n = sum(m.values())
        top_ty, top_n = min(m.items(), key=lambda kv: (-kv[1], kv[0]))
        hhi = (1_000_000 * sum(c * c for c in m.values())) // (n * n)
        exp[t] = (n, len(m), top_ty, top_n, hhi)
    got = {
        r.tile: (r.n_events, r.n_types, r.top_type, r.top_n, r.mix_hhi_ppm)
        for r in tile_type_mix(ev, zoom=4).collect()
    }
    assert got == exp
    assert len(got) > 50
    for n, k, _, top_n, hhi in got.values():
        assert top_n <= n
        if k == 1:
            assert hhi == 1_000_000
        else:
            assert hhi < 1_000_000


def test_tile_diurnal_bruteforce(spark, sf_dir):
    """Diurnal profile equals the Python recomputation: per-tile hour
    histogram, (count desc, hour asc) peak, integer ppm shares; laws:
    peak_ppm >= floor(10^6/n_hours) (the pigeonhole floor) and
    hour_hhi_ppm <= peak_ppm is NOT required but peak_n <= n_events is."""
    import collections

    from linear_quadtree_spark.functions.geocell import geocell_col
    from linear_quadtree_spark.functions.geotag import geotag_x_sql, geotag_y_sql
    from linear_quadtree_spark.operators.spacetime import tile_diurnal

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    rows = ev.select(
        "ts",
        geocell_col(
            geotag_x_sql("event_id"), geotag_y_sql("event_id"), level=4
        ).alias("tile"),
    ).collect()
    hc = collections.Counter((r.tile, r.ts.hour) for r in rows)
    per = collections.defaultdict(dict)
    for (t, h), c in hc.items():
        per[t][h] = c
    exp = {}
    for t, m in per.items():
        n = sum(m.values())
        peak_h, peak_n = min(m.items(), key=lambda kv: (-kv[1], kv[0]))
        night = sum(c for h, c in m.items() if h < 6)
        exp[t] = (
            n, len(m), peak_h, peak_n,
            (1_000_000 * peak_n) // n,
            (1_000_000 * sum(c * c for c in m.values())) // (n * n),
            (1_000_000 * night) // n,
        )
    got = {
        r.tile: (r.n_events, r.n_hours, r.peak_hour, r.peak_n,
                 r.peak_ppm, r.hour_hhi_ppm, r.night_ppm)
        for r in tile_diurnal(ev, zoom=4).collect()
    }
    assert got == exp
    assert len(got) > 50
    for n, k, _, peak_n, peak_ppm, _, night_ppm in got.values():
        assert peak_n <= n and k <= 24
        assert peak_ppm >= 1_000_000 // k  # the modal hour holds >= 1/k
        assert 0 <= night_ppm <= 1_000_000


def test_tile_diurnal_validation(spark, sf_dir):
    import pytest

    from linear_quadtree_spark.operators.spacetime import tile_diurnal

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    with pytest.raises(ValueError):
        tile_diurnal(ev, night_end_hour=0)
    with pytest.raises(ValueError):
        tile_diurnal(ev, night_end_hour=24)


def test_hhi_ppm_survives_int64_overflow(spark):
    """ADVICE r3: 1000000 * ss exceeds int64 once a tile holds ~3.04M
    events (ss can reach n^2). The ppm arithmetic must run in
    DECIMAL(38,0) (Spark) / HUGEINT (DuckDB) and agree bit-for-bit past
    the wrap point: ss just under int64 max, so 1000000 * ss wrapped
    under the old BIGINT expression."""
    import duckdb

    hhi = (
        "CAST((CAST(1000000 AS DECIMAL(38,0)) * CAST(ss AS DECIMAL(38,0)))"
        " div (CAST(n AS DECIMAL(38,0)) * CAST(n AS DECIMAL(38,0)))"
        " AS BIGINT)"
    )
    rows = [(9223372036854775000, 3100000000), (50, 10), (1, 1)]
    got = [
        r[0]
        for r in spark.createDataFrame(rows, "ss: long, n: long")
        .selectExpr(f"{hhi} AS hhi")
        .orderBy("hhi")
        .collect()
    ]
    exp = [
        r[0]
        for r in duckdb.sql(
            "SELECT CAST((1000000 * CAST(ss AS HUGEINT)) //"
            " (CAST(n AS HUGEINT) * n) AS BIGINT) AS hhi FROM (VALUES"
            + ", ".join(f"({ss}, {n})" for ss, n in rows)
            + ") t(ss, n) ORDER BY hhi"
        ).fetchall()
    ]
    assert got == exp
    assert all(0 < v <= 1_000_000 for v in got)  # a ppm, not a wrap
