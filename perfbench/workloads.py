"""Seeded inputs, the operations each workload times, and their answers.

Every input derives from the run's seed. The engine sees only the Spark
DataFrames built here; the answers are computed independently with numpy
from the same seeded values, once per run and outside every clock.

Point coordinates are the engine's geotag SQL (``functions/geotag.py``):
exact float64 arithmetic followed by one float32 cast, so numpy reproduces
them bit for bit and every answer below is exact, not approximate.
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field
from typing import Any, Callable

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, DoubleType, IntegerType, StructField, StructType

from linear_quadtree_spark import DEFAULT_BOUNDS
from linear_quadtree_spark.functions.encode import zorder_encode_np
from linear_quadtree_spark.functions.geotag import _AX, _AY, _CY, geotag_x, geotag_y
from linear_quadtree_spark.operators.build import STORE_SPLIT_LEVEL, LQTTable
from linear_quadtree_spark.operators.spatial import (
    bbox_query,
    distance_join,
    knn_join,
    point_in_polygon_join,
    tile_stats,
)
from linear_quadtree_spark.sources.synth import POLY_OFFSETS, poly_params

#: Size of the table each set-up builds and caches. The queries' latencies
#: are mostly fixed per-query cost at this size (planning, Py4J, job
#: scheduling), and so is the build's: a larger table would lengthen the
#: three set-ups of a run without changing what they measure.
TABLE_ROWS = 100_000
#: Input partitions per core: several splits per core so the encode stage
#: runs in parallel (a single-split input runs it as one task).
SPLITS_PER_CORE = 2
#: Queries, polygons or points whose answers the bulk operations check
#: exactly, beyond the full row count.
SAMPLE = 100
#: The three fixed rects of the historical ``bbox_x3`` query.
BBOX_X3 = (
    (1020.0, 1045.0, 1030.0, 1070.0),
    (1005.5, 1006.5, 1095.0, 1099.0),
    (1049.0, 1051.0, 1049.0, 1051.0),
)
#: Side of the seeded selective rects: 0.04% of the 100x100 domain.
RECT_SIDE = 2.0
KNN_K = 10
#: Selective point-in-polygon and kNN inputs: this many seeded sets of 16
#: polygons or 16 query points, used in turn.
SELECTIVE_SETS = 4
DJ_RADIUS = 0.1
TILE_ZOOM = 8
BULK_POLY_SCALE = 0.05

POLY_SCHEMA = StructType(
    [
        StructField("poly_id", IntegerType(), False),
        StructField("xs", ArrayType(DoubleType()), False),
        StructField("ys", ArrayType(DoubleType()), False),
    ]
)


@dataclass
class Op:
    """One timed operation: ``plan`` is the public call that returns the
    DataFrame, ``act`` the action, ``check`` compares the action's result
    with the precomputed answer. ``stats`` receives operator diagnostics
    (kNN rounds); ``rect`` is set for bbox queries."""

    name: str
    plan: Callable[[], DataFrame]
    act: Callable[[DataFrame], Any]
    check: Callable[[Any], bool]
    stats: dict = field(default_factory=dict)
    rect: tuple | None = None


# --------------------------------------------------------------------- inputs
class Points:
    """numpy twin of ``points_df``: the geotag SQL, step for step. ``x``
    and ``y`` are the float32 columns, ``px`` and ``py`` the float64 values
    the engine's refine steps compute with."""

    def __init__(self, offset: int, n: int):
        self.pid = np.arange(n, dtype=np.int64) + offset
        two32 = 4294967296
        hx = (self.pid * _AX) % two32
        hy = (self.pid * _AY + _CY) % two32
        self.x = (1000.0 + 100.0 * (hx.astype(np.float64) / float(two32))).astype(np.float32)
        self.y = (1000.0 + 100.0 * (hy.astype(np.float64) / float(two32))).astype(np.float32)
        self.px = self.x.astype(np.float64)
        self.py = self.y.astype(np.float64)


def points_df(spark, offset: int, n: int, cores: int) -> DataFrame:
    return (
        spark.range(n, numPartitions=SPLITS_PER_CORE * cores)
        .select((F.col("id") + F.lit(offset)).alias("pid"))
        .withColumn("x", geotag_x("pid"))
        .withColumn("y", geotag_y("pid"))
    )


def polygon(poly_id: int, scale: float = 1.0) -> tuple[list[float], list[float]]:
    """Vertices of the engine's synthetic hexagon ``poly_id``, radius scaled
    as ``sources.synth.polygons_df_distributed`` scales it."""
    cx, cy, r = poly_params(poly_id)
    r = r * scale
    return [cx + r * ax for ax, _ in POLY_OFFSETS], [cy + r * ay for _, ay in POLY_OFFSETS]


def polygons_df(spark, ids, scale: float = 1.0) -> DataFrame:
    verts = [polygon(int(p), scale) for p in ids]
    pdf = pd.DataFrame({
        "poly_id": np.asarray(ids, dtype=np.int32),
        "xs": [v[0] for v in verts],
        "ys": [v[1] for v in verts],
    })
    return spark.createDataFrame(pdf, POLY_SCHEMA)


def queries_df(spark, qx: np.ndarray, qy: np.ndarray) -> DataFrame:
    pdf = pd.DataFrame({"qid": np.arange(len(qx), dtype=np.int32), "qx": qx, "qy": qy})
    return spark.createDataFrame(pdf)


# -------------------------------------------------------------------- answers
def inside_polygon(px, py, xs, ys) -> np.ndarray:
    """Even-odd rule with the engine's exact crossing arithmetic."""
    n = len(xs)
    crossings = np.zeros(px.shape[0], dtype=np.int64)
    with np.errstate(divide="ignore", invalid="ignore"):
        for i in range(n):
            x1, y1, x2, y2 = xs[i], ys[i], xs[(i + 1) % n], ys[(i + 1) % n]
            straddle = (y1 > py) != (y2 > py)
            crossings += straddle & (px < (x2 - x1) * (py - y1) / (y2 - y1) + x1)
    return crossings % 2 == 1


def knn_answer(pts: Points, qx: float, qy: float, k: int) -> set[int]:
    dx, dy = pts.px - qx, pts.py - qy
    d2 = dx * dx + dy * dy
    kth = np.partition(d2, k - 1)[k - 1]
    cand = np.nonzero(d2 <= kth)[0]
    order = np.lexsort((pts.pid[cand], d2[cand]))[:k]
    return set(pts.pid[cand[order]].tolist())


def distance_pairs(pts: Points, r: float) -> tuple[np.ndarray, np.ndarray]:
    """All unordered pairs within distance ``r`` as (id_a < id_b) arrays.
    Grid cells of width 2r, so float rounding in the cell index can never
    push a true pair two cells apart."""
    px, py = pts.px, pts.py
    w = 2.0 * r
    ix = np.floor((px - 1000.0) / w).astype(np.int64)
    iy = np.floor((py - 1000.0) / w).astype(np.int64)
    m = 1 << 21
    key = ix * m + iy
    order = np.argsort(key, kind="stable")
    skey = key[order]
    out_a, out_b = [], []
    for ox in (-1, 0, 1):
        for oy in (-1, 0, 1):
            # sorted targets keep the binary searches cache-friendly
            target = skey + (ox * m + oy)
            lo = np.searchsorted(skey, target, "left")
            cnt = np.searchsorted(skey, target, "right") - lo
            i = order[np.repeat(np.arange(px.shape[0]), cnt)]
            starts = np.repeat(lo - (np.cumsum(cnt) - cnt), cnt)
            j = order[np.arange(cnt.sum()) + starts]
            keep = pts.pid[i] < pts.pid[j]
            i, j = i[keep], j[keep]
            dx, dy = px[i] - px[j], py[i] - py[j]
            near = dx * dx + dy * dy <= float(r) * float(r)
            out_a.append(pts.pid[i[near]])
            out_b.append(pts.pid[j[near]])
    return np.concatenate(out_a), np.concatenate(out_b)


def polygon_members(pts: Points, polys: list) -> list[np.ndarray]:
    """Point ids inside each polygon: an x-sorted band scan per polygon
    bbox, then the exact even-odd test."""
    order = np.argsort(pts.px, kind="stable")
    sx, spy = pts.px[order], pts.py[order]
    lo = np.searchsorted(sx, [min(xs) for xs, _ in polys], "left")
    hi = np.searchsorted(sx, [max(xs) for xs, _ in polys], "right")
    out = []
    for (xs, ys), a, b in zip(polys, lo, hi):
        band = np.arange(a, b)
        band = band[(spy[a:b] >= min(ys)) & (spy[a:b] <= max(ys))]
        hit = inside_polygon(sx[band], spy[band], xs, ys)
        out.append(pts.pid[order[band[hit]]])
    return out


# ------------------------------------------------------------------ workloads
def _agg_sample(df: DataFrame, cond, *cols) -> tuple[int, list]:
    row = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.collect_list(F.when(cond, F.struct(*cols))).alias("s"),
    ).collect()[0]
    return row["n"], [tuple(r) for r in row["s"]]


def order_summary(batches):
    """mapInArrow body: per partition, row count, whether (zs, pid) never
    decreases, and the first and last zs."""
    import pyarrow as pa

    part, n, ok, lo, hi, prev = None, 0, True, None, None, None
    for b in batches:
        if b.num_rows == 0:
            continue
        zs = b.column("zs").to_numpy()
        pid = b.column("pid").to_numpy()
        part = int(b.column("part")[0].as_py())
        if prev is not None and (zs[0], pid[0]) < prev:
            ok = False
        step_ok = (zs[1:] > zs[:-1]) | ((zs[1:] == zs[:-1]) & (pid[1:] >= pid[:-1]))
        ok = ok and bool(step_ok.all())
        lo = int(zs[0]) if lo is None else lo
        hi, prev = int(zs[-1]), (zs[-1], pid[-1])
        n += b.num_rows
    if n:
        yield pa.RecordBatch.from_pydict(
            {"part": [part], "n": [n], "ok": [ok], "lo": [lo], "hi": [hi]}
        )


class TableWorkload:
    """A read path over one table. ``setup`` runs on a fresh session: it
    builds the table with ``LQTTable.build`` (the paper's construction
    kernel: vectorized encode, range partitioning, per-partition sort) from
    seeded points in several splits per core, and caches it.
    ``verify_setup`` runs after the last set-up, untimed. ``round(i)``
    returns the i-th round of timed operations; ``teardown`` lets go of the
    set-up's Spark handles before its session stops."""

    rows = TABLE_ROWS
    tbl: LQTTable | None = None

    def __init__(self, seed: int, cores: int):
        self.rng = np.random.default_rng(seed)
        self.cores = cores
        self.offset = int(self.rng.integers(0, 1 << 30))
        self.pts = Points(self.offset, self.rows)
        _, zlvl = zorder_encode_np(self.pts.x, self.pts.y, DEFAULT_BOUNDS)
        side = zlvl < STORE_SPLIT_LEVEL
        self.build_answer = (
            int((~side).sum()), int(self.pts.pid[~side].sum()),
            int(side.sum()), int(self.pts.pid[side].sum()),
        )

    def setup(self, spark) -> tuple[float, float]:
        """Build and cache the table; returns the wall time of the
        ``LQTTable.build`` call and of the counts that materialize it."""
        from linear_quadtree_spark.cache import untrack

        self.spark = spark
        t0 = time.perf_counter()
        self.tbl = LQTTable.build(
            points_df(spark, self.offset, self.rows, self.cores), tiebreaker="pid"
        )
        t1 = time.perf_counter()
        self.counts = (self.tbl.main.count(), self.tbl.side.count())
        t2 = time.perf_counter()
        # the table outlives every operation: release_caches() between
        # operations must leave it cached
        untrack(self.tbl.main, self.tbl.side, self.tbl.enc_cache)
        self.inputs(spark)
        return t1 - t0, t2 - t1

    def verify_setup(self) -> list[str]:
        """Row conservation (main + side rows and pid sums against the
        input's) and zs order within and across the partitions of main."""
        aggs = (F.count(F.lit(1)), F.sum("pid"))
        m, s = (tuple(rel.agg(*aggs).collect()[0]) for rel in (self.tbl.main, self.tbl.side))
        failures = []
        if (m[0], m[1] or 0, s[0], s[1] or 0) != self.build_answer:
            failures.append("build: main/side rows differ from the input")
        if self.counts != (m[0], s[0]):
            failures.append("build: set-up counts differ from the cached relations")
        parts = (
            self.tbl.main.select(F.spark_partition_id().alias("part"), "zs", "pid")
            .mapInArrow(order_summary, "part LONG, n LONG, ok BOOLEAN, lo LONG, hi LONG")
            .collect()
        )
        parts = sorted((p for p in parts if p["n"]), key=lambda p: p["part"])
        if not all(p["ok"] for p in parts):
            failures.append("build: zs order broken within a partition")
        if any(a["hi"] > b["lo"] for a, b in zip(parts, parts[1:])):
            failures.append("build: zs order broken across partitions")
        return failures

    def teardown(self) -> None:
        from linear_quadtree_spark.cache import disown

        disown(self.tbl.main, self.tbl.side, self.tbl.enc_cache)


class SelectiveWorkload(TableWorkload):
    """Interactive reads: small rects (mostly well under 1% of rows) plus
    the three ``bbox_x3`` rects, point-in-polygon on 16 polygons and kNN
    for 16 points. Fixed per-query cost dominates: driver cover math, the
    Py4J ``Column`` chain, job scheduling. A round runs 2 seeded rects,
    the 3 fixed ones, one PIP and one kNN query. The seeded rects share one
    size, so that the cover, and with it the planning cost, does not vary
    with the seed more than with the position."""

    rects_per_round = 2

    def __init__(self, seed: int, cores: int):
        super().__init__(seed, cores)
        rng, pts = self.rng, self.pts
        px, py = pts.px, pts.py
        c0 = rng.uniform(1000.0, 1100.0 - RECT_SIDE, size=(64, 2))
        self.rects = [
            (float(x0), float(x0 + RECT_SIDE), float(y0), float(y0 + RECT_SIDE))
            for x0, y0 in c0
        ]
        self.bbox_answer = {}
        for r in self.rects + list(BBOX_X3):
            hit = pts.pid[(px >= r[0]) & (px <= r[1]) & (py >= r[2]) & (py <= r[3])]
            self.bbox_answer[r] = (len(hit), int(hit.sum()))
        self.poly_sets, self.pip_answer = [], []
        for _ in range(SELECTIVE_SETS):
            ids = [int(p) for p in rng.integers(0, 1 << 20) + np.arange(16)]
            hits = polygon_members(pts, [polygon(p) for p in ids])
            self.poly_sets.append(ids)
            self.pip_answer.append((
                sum(len(h) for h in hits),
                sum(int(h.sum()) for h in hits),
                sum((k + 1) * int(h.sum()) for k, h in enumerate(hits)),
            ))
        self.query_sets = [rng.uniform(1000.0, 1100.0, (2, 16)) for _ in range(SELECTIVE_SETS)]
        self.knn_answer = [
            {(q, pid) for q in range(16) for pid in knn_answer(pts, qx[q], qy[q], KNN_K)}
            for qx, qy in self.query_sets
        ]

    def inputs(self, spark) -> None:
        self.polys = [polygons_df(spark, ids) for ids in self.poly_sets]
        self.queries = [queries_df(spark, qx, qy) for qx, qy in self.query_sets]

    def round(self, i: int) -> list[Op]:
        k = self.rects_per_round
        rects = [self.rects[(i * k + j) % len(self.rects)] for j in range(k)]
        ops = [self._bbox(r) for r in rects + list(BBOX_X3)]
        return ops + [self._pip(i % SELECTIVE_SETS), self._knn(i % SELECTIVE_SETS)]

    def _bbox(self, r) -> Op:
        return Op(
            "bbox",
            lambda: bbox_query(self.tbl, *r),
            lambda df: tuple(df.agg(F.count(F.lit(1)), F.sum("pid")).collect()[0]),
            lambda got: (got[0], got[1] or 0) == self.bbox_answer[r],
            rect=r,
        )

    def _pip(self, s: int) -> Op:
        rank = F.col("poly_id") - F.lit(self.poly_sets[s][0] - 1)
        return Op(
            "pip",
            lambda: point_in_polygon_join(self.tbl, self.polys[s]),
            lambda df: tuple(df.agg(
                F.count(F.lit(1)), F.sum("pid"), F.sum(F.col("pid") * rank)
            ).collect()[0]),
            lambda got: tuple(v or 0 for v in got) == self.pip_answer[s],
        )

    def _knn(self, s: int) -> Op:
        op = Op("knn", None, lambda df: {tuple(r) for r in df.select("qid", "pid").collect()},
                lambda got: got == self.knn_answer[s])
        op.plan = lambda: knn_join(self.tbl, self.queries[s], k=KNN_K, stats_out=op.stats)
        return op


class BulkJoinWorkload(TableWorkload):
    """Batch analytics: kNN for 10k points, the r=0.1 distance self-join,
    point-in-polygon against 10k small polygons and the zoom-8 tile
    aggregate. Shuffle, sort, hash aggregation, broadcast joins, window
    top-k and per-round driver collects dominate; encode does nothing."""

    def __init__(self, seed: int, cores: int):
        super().__init__(seed, cores)
        rng, pts = self.rng, self.pts
        # kNN: 10k queries, answers checked exactly for a sample
        self.bqx, self.bqy = rng.uniform(1000.0, 1100.0, (2, 10_000))
        self.bknn_sample = sorted(int(q) for q in rng.choice(10_000, SAMPLE, replace=False))
        self.bknn_answer = {
            (q, pid) for q in self.bknn_sample
            for pid in knn_answer(pts, self.bqx[q], self.bqy[q], KNN_K)
        }
        # distance self-join: full pair count, pairs of sampled points
        a, b = distance_pairs(pts, DJ_RADIUS)
        self.dj_count = len(a)
        self.dj_sample = sorted(int(p) for p in rng.choice(pts.pid, SAMPLE, replace=False))
        sel = np.isin(a, self.dj_sample) | np.isin(b, self.dj_sample)
        self.dj_answer = set(zip(a[sel].tolist(), b[sel].tolist()))
        # 10k small polygons: full match count, members of sampled polygons
        base = int(rng.integers(0, 1 << 20))
        self.bpoly_ids = list(range(base, base + 10_000))
        self.bpip_sample = sorted(int(p) for p in rng.choice(self.bpoly_ids, SAMPLE, replace=False))
        hits = polygon_members(pts, [polygon(p, BULK_POLY_SCALE) for p in self.bpoly_ids])
        self.bpip_count = sum(len(h) for h in hits)
        self.bpip_answer = {
            (p, int(h)) for p in self.bpip_sample for h in hits[p - base]
        }
        # zoom-8 tile aggregate: occupied tile count, sampled tiles exactly
        zkey, _ = zorder_encode_np(pts.x, pts.y, DEFAULT_BOUNDS)
        tile = (zkey >> np.uint64(64 - 2 * TILE_ZOOM)).astype(np.int64)
        tiles, inv, cnt = np.unique(tile, return_inverse=True, return_counts=True)
        self.tile_count = len(tiles)
        pick = np.sort(rng.choice(len(tiles), SAMPLE, replace=False))
        self.tile_sample = [int(t) for t in tiles[pick]]
        sx, sy = np.bincount(inv, weights=pts.px), np.bincount(inv, weights=pts.py)
        self.tile_answer = {
            int(tiles[j]): (int(cnt[j]), sx[j] / cnt[j], sy[j] / cnt[j]) for j in pick
        }

    def inputs(self, spark) -> None:
        self.bqueries = queries_df(spark, self.bqx, self.bqy)
        self.bpolys = polygons_df(spark, self.bpoly_ids, BULK_POLY_SCALE)

    def round(self, i: int) -> list[Op]:
        return [self._knn_bulk(), self._dj(), self._pip_bulk(), self._tiles()]

    def _knn_bulk(self) -> Op:
        op = Op(
            "knn_bulk", None,
            lambda df: _agg_sample(df, F.col("qid").isin(self.bknn_sample), "qid", "pid"),
            lambda got: got[0] == 10_000 * KNN_K and set(got[1]) == self.bknn_answer,
        )
        op.plan = lambda: knn_join(self.tbl, self.bqueries, k=KNN_K, stats_out=op.stats)
        return op

    def _dj(self) -> Op:
        in_dj = F.col("id_a").isin(self.dj_sample) | F.col("id_b").isin(self.dj_sample)
        return Op(
            "dj",
            lambda: distance_join(self.tbl, DJ_RADIUS),
            lambda df: _agg_sample(df, in_dj, "id_a", "id_b"),
            lambda got: got[0] == self.dj_count and set(got[1]) == self.dj_answer,
        )

    def _pip_bulk(self) -> Op:
        return Op(
            "pip_bulk",
            lambda: point_in_polygon_join(self.tbl, self.bpolys),
            lambda df: _agg_sample(df, F.col("poly_id").isin(self.bpip_sample),
                                   "poly_id", "pid"),
            lambda got: got[0] == self.bpip_count and set(got[1]) == self.bpip_answer,
        )

    def _tiles(self) -> Op:
        return Op(
            "tiles",
            lambda: tile_stats(self.tbl, TILE_ZOOM),
            lambda df: _agg_sample(df, F.col("tile_id").isin(self.tile_sample),
                                   "tile_id", "n_points", "avg_x", "avg_y"),
            self._check_tiles,
        )

    def _check_tiles(self, got) -> bool:
        n, rows = got
        if n != self.tile_count or len(rows) != SAMPLE:
            return False
        for t, c, ax, ay in rows:
            want = self.tile_answer.get(t)
            if want is None or c != want[0]:
                return False
            if abs(ax - want[1]) > 1e-9 * want[1] or abs(ay - want[2]) > 1e-9 * want[2]:
                return False
        return True


WORKLOADS = {
    "selective": SelectiveWorkload,
    "bulk_join": BulkJoinWorkload,
}
