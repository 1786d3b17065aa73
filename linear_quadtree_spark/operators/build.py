"""Linear-quadtree construction — the reference's signature pattern,
Spark-first.

Reference pipelines (`lqt_create*`, SURVEY §2.5) are all
``nodify → sortify [→ merge]``. The distributed shape is `lqt_create_cuda`
(lqt.cu:122-156): slice input into memory-sized blocks, encode+sort each,
k-way merge. In Spark:

* block planning (lqt.cu:127-139)   → ``repartitionByRange(N, zs, tiebreaker)``
  (RangePartitioner IS the reference's own samplesort, samplesort.hh:53-120:
  sample → splitters → scatter → per-bin sort);
* per-block encode+sort             → pandas-UDF encode stage +
  ``sortWithinPartitions``;
* k-way merge (lqt.cu:65-91)        → free: range partitions are disjoint,
  so partition-ordered reads are globally ordered.

Tie semantics: the reference orders by location only, ties impl-defined
across its six sorters (SURVEY §2.3a); we always sort ``(zs, tiebreaker)``
for reproducibility.

Skew: the range key is the sort key, ``(zs, tiebreaker)``, as in the
reference's samplesort, whose splitters sample the whole key. A hot cell's
run of equal zs then splits wherever the sampled bounds fall inside it,
and partition order stays global ``(zs, tiebreaker)`` order. Midline-
collapsed rows (SURVEY §1.3) never reach it: they go to the side relation.
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from linear_quadtree_spark.cache import track
from linear_quadtree_spark.config import Bounds, DEFAULT_BOUNDS, MAX_COVER_RANGES
from linear_quadtree_spark.functions.encode import encode_struct_udf, tile_id_col
from linear_quadtree_spark.intervals import merge_spans, spans_sql
from linear_quadtree_spark.plans.cover import ZRange, cover_rect, ranges_to_predicate

__all__ = ["encode_points", "LQTTable", "STORE_SPLIT_LEVEL"]

#: Rows with zlvl < this go to the side relation at build time. Queries may
#: then plan covers at any level ≤ this and stay exact: main-table rows are
#: prefix-faithful through it, side-table rows are always fully scanned
#: (they are ~1% of uniform data; see encode.py).
STORE_SPLIT_LEVEL = 12


def encode_points(
    df: DataFrame,
    bounds: Bounds = DEFAULT_BOUNDS,
    x_col: str = "x",
    y_col: str = "y",
) -> DataFrame:
    """Add (zkey, zs, zlvl) columns — one Arrow round trip (SURVEY §4:
    compose fused outputs in a single UDF, the analog of the reference's
    on-device encode+sort fusion, lqt.cu:277-334)."""
    enc = encode_struct_udf(bounds)
    return (
        df.withColumn("_enc", enc(F.col(x_col).cast("float"), F.col(y_col).cast("float")))
        .withColumn("zkey", F.col("_enc.zkey"))
        .withColumn("zs", F.col("_enc.zs"))
        .withColumn("zlvl", F.col("_enc.zlvl"))
        .drop("_enc")
    )


@dataclass
class LQTTable:
    """A built linear quadtree over an arbitrary payload DataFrame.

    ``main``: (zs, tiebreaker)-range-partitioned and -sorted rows with
    zlvl >= STORE_SPLIT_LEVEL — the reference's sorted key/point array
    (lqt.h:21-25), distributed.
    ``side``: the prefix-unfaithful residue (midline collapse, out-of-
    bounds, float32 snap divergence below the split level). Tiny by
    construction; queries scan it exactly, so answers are exact.
    """

    main: DataFrame
    side: DataFrame
    bounds: Bounds
    x_col: str = "x"
    y_col: str = "y"
    tiebreaker: str | None = None
    build_metrics: dict = field(default_factory=dict)
    enc_cache: DataFrame | None = None
    #: set by load_partitioned: the stored main relation is
    #: Hive-partitioned by the level-N quadrant directory, and
    #: candidates() adds a quad IN (...) predicate so scans prune whole
    #: DIRECTORIES before row-group stats are even consulted (the
    #: parquet stand-in for Iceberg partition pruning). `main` itself
    #: is exposed WITHOUT the quad column (schema-identical to an
    #: unpartitioned table — every other consumer is unaffected);
    #: `main_quad` is the quad-bearing scan candidates() filters.
    quad_level: int | None = None
    main_quad: DataFrame | None = None
    #: memoized per-zoom occupied-tile aggregates — see tile_counts()
    tile_counts_cache: dict = field(default_factory=dict)

    def unpersist(self) -> None:
        """Release the encoded staging cache and any persisted relations."""
        from linear_quadtree_spark.cache import disown

        tiles = list(self.tile_counts_cache.values())
        self.tile_counts_cache.clear()
        if tiles:
            disown(*tiles)
        for df in (self.enc_cache, self.main, self.side, *tiles):
            if df is not None:
                try:
                    df.unpersist()
                except Exception:
                    pass

    # ------------------------------------------------------------------ build
    @classmethod
    def build(
        cls,
        df: DataFrame,
        bounds: Bounds = DEFAULT_BOUNDS,
        x_col: str = "x",
        y_col: str = "y",
        tiebreaker: str | None = None,
        num_partitions: int | None = None,
        persist: bool = True,
        eager_count: bool = True,
    ) -> "LQTTable":
        """Encode + range-partition + sort — `lqt_create_cuda` re-expressed.

        ``eager_count=False`` skips the up-front count() action: the
        RangePartitioner's sampling pass then doubles as the cache
        materializer (it reads every row anyway), removing one job
        barrier + one full cached-read pass from the build — the
        fixed-cost path used by the benchmarks. ``build_metrics["rows"]``
        is None in that mode.

        ``build_metrics["plan_secs"]`` is the driver time spent inside
        this call: building the lazy plan, plus the count() job (which
        runs the encode) when ``eager_count=True``. The range shuffle
        and sort run in the first action on the table and are not in it.
        """
        t0 = time.time()
        # Materialize the encode exactly ONCE. Without this, (a) Catalyst
        # pushes the zlvl filter beneath the projection so ArrowEvalPython
        # appears twice in one stage (UDF runs 2x/row), and (b) the
        # RangePartitioner's sampling pass plus the side-relation scan each
        # re-run the whole encode. Measured 5-7 full UDF passes per build;
        # with the cache it is one. At cluster scale this cache is the
        # encoded staging table (MEMORY_AND_DISK serialized ≈ its size on
        # disk); writing it to storage instead is the same plan shape.
        # Registered with cache.track so long-lived drivers can release
        # leaked tables via release_caches(); LQTTable.unpersist() remains
        # the owning handle.
        enc = track(
            encode_points(df, bounds, x_col, y_col),
            StorageLevel.MEMORY_AND_DISK,
        )
        n_rows = enc.count() if eager_count else None
        main = enc.filter(F.col("zlvl") >= STORE_SPLIT_LEVEL)
        side = enc.filter(F.col("zlvl") < STORE_SPLIT_LEVEL)

        key = ["zs"] + ([tiebreaker] if tiebreaker else [])
        if num_partitions is None:
            # 2 partitions per core: one-task-per-slot waves convoy on
            # Python-worker startup and leave no room for stragglers; at
            # cluster scale partition count is sized by bytes instead
            # (~input_bytes / 256 MB), which the caller passes explicitly.
            num_partitions = max(2 * df.sparkSession.sparkContext.defaultParallelism, 2)
        if num_partitions == 1:
            # one block needs no range bounds: no sampling job (lqt.cu:159-164)
            main = main.coalesce(1)
        else:
            main = main.repartitionByRange(num_partitions, *key)
        main = main.sortWithinPartitions(*key)

        if persist:
            main = track(main)
            side = track(side)
        tbl = cls(
            main=main,
            side=side,
            bounds=bounds,
            x_col=x_col,
            y_col=y_col,
            tiebreaker=tiebreaker,
            build_metrics={"build_started": t0, "rows": n_rows,
                           "plan_secs": time.time() - t0},
            enc_cache=enc,
        )
        return tbl

    # ------------------------------------------------------------ persistence
    def save(self, path: str, mode: str = "overwrite", format: str = "parquet") -> None:
        """Write as two relations through one format seam. ``format`` is
        any DataFrameWriter format name; ``"iceberg"`` is the cluster
        target (sorted files give min/max zs stats per file → file-level
        pruning for range predicates) and parquet the sandbox default
        with identical pruning semantics via row-group stats — flipping
        between them is this one argument."""
        self.main.write.format(format).mode(mode).save(f"{path}/main")
        self.side.write.format(format).mode(mode).save(f"{path}/side")

    @classmethod
    def load(
        cls,
        spark,
        path: str,
        bounds: Bounds = DEFAULT_BOUNDS,
        x_col: str = "x",
        y_col: str = "y",
        tiebreaker: str | None = None,
        format: str = "parquet",
    ) -> "LQTTable":
        return cls(
            main=spark.read.format(format).load(f"{path}/main"),
            side=spark.read.format(format).load(f"{path}/side"),
            bounds=bounds,
            x_col=x_col,
            y_col=y_col,
            tiebreaker=tiebreaker,
        )

    def save_partitioned(
        self, path: str, level: int = 1, mode: str = "overwrite",
        format: str = "parquet",
    ) -> None:
        """Directory-partitioned export: main is written Hive-partitioned
        by the level-``level`` quadrant (``quad=K/`` directories — 4^level
        of them), side unpartitioned (it is tiny). A range query over the
        loaded table then prunes whole directories via a partition-column
        predicate BEFORE any footer is read — the parquet stand-in for
        Iceberg's partition pruning, one level above the row-group
        min/max pruning the unpartitioned path already proves."""
        q = tile_id_col(F.col("zkey"), level)
        (
            self.main.withColumn("quad", q)
            .write.partitionBy("quad")
            .format(format).mode(mode).save(f"{path}/main")
        )
        self.side.write.format(format).mode(mode).save(f"{path}/side")

    @classmethod
    def load_partitioned(
        cls,
        spark,
        path: str,
        level: int = 1,
        bounds: Bounds = DEFAULT_BOUNDS,
        x_col: str = "x",
        y_col: str = "y",
        tiebreaker: str | None = None,
        format: str = "parquet",
    ) -> "LQTTable":
        raw = spark.read.format(format).load(f"{path}/main")
        return cls(
            main=raw.drop("quad"),
            side=spark.read.format(format).load(f"{path}/side"),
            bounds=bounds,
            x_col=x_col,
            y_col=y_col,
            tiebreaker=tiebreaker,
            quad_level=level,
            main_quad=raw,
        )

    @staticmethod
    def quad_runs_for_ranges(ranges: list[ZRange], level: int) -> list[tuple[int, int]]:
        """Quadrant directories a zs range set can touch, as MERGED
        contiguous [q0, q1] runs: the quadrant id (top 2·level zkey
        bits) is monotone in zs, so each closed range contributes the
        run [quad(lo), quad(hi)]. Runs (not enumerated members): a
        near-root range at a deep partition level would otherwise
        materialize millions of ids on the driver and an equally wide
        isin() literal in the plan."""
        shift = 64 - 2 * level
        spans = [
            ((r.lo + (1 << 63)) >> shift, (r.hi + (1 << 63)) >> shift)
            for r in ranges
        ]
        return merge_spans(spans)

    # ------------------------------------------------------------- candidates
    def candidates(self, ranges: list[ZRange]) -> DataFrame:
        """Conservative candidate rows for a predicate whose cover is
        ``ranges``: range-pruned main scan ∪ full side scan. The range
        predicate is plain comparisons on the sorted zs column → parquet
        row-group pruning / Iceberg file pruning at scale. On a
        partitioned table (load_partitioned) a quad IN (...) predicate
        is added so whole directories prune first."""
        pred = ranges_to_predicate(ranges)
        if self.quad_level is not None and self.main_quad is not None:
            runs = self.quad_runs_for_ranges(ranges, self.quad_level)
            qpred = F.expr(spans_sql("quad", runs))
            pruned = self.main_quad.filter(qpred & pred).drop("quad")
        else:
            pruned = self.main.filter(pred)
        return pruned.unionByName(self.side)

    def cover(self, x0: float, x1: float, y0: float, y1: float, max_level: int = 10,
              max_ranges: int = MAX_COVER_RANGES) -> list[ZRange]:
        if max_level > STORE_SPLIT_LEVEL:
            raise ValueError(
                f"cover level {max_level} exceeds store split level "
                f"{STORE_SPLIT_LEVEL}; side relation would be incomplete"
            )
        return cover_rect(x0, x1, y0, y1, self.bounds, max_level, max_ranges)

    # ------------------------------------------------------------------ stats
    def partition_metrics(self) -> DataFrame:
        """Per-partition lineage/metrics relation (north rule): partition id,
        row count, zs min/max — the distributed analog of the reference's
        per-block bookkeeping in lqt_create_cuda (lqt.cu:139-148)."""
        return (
            self.main.withColumn("partition_id", F.spark_partition_id())
            .groupBy("partition_id")
            .agg(
                F.count(F.lit(1)).alias("rows"),
                F.min("zs").alias("zs_min"),
                F.max("zs").alias("zs_max"),
                F.countDistinct("zkey").alias("distinct_zkeys"),
            )
        )

    def log_metrics(self, path: str, build_id: str) -> DataFrame:
        """Append this build's per-partition lineage/metrics rows to a
        metrics table (north rule: per-partition lineage + metrics logged
        durably; parquet append here, an Iceberg append at cluster scale).
        Returns what was written."""
        m = self.partition_metrics().withColumn("build_id", F.lit(build_id))
        for k in ("rows", "plan_secs"):
            if self.build_metrics.get(k) is not None:
                m = m.withColumn(f"build_{k}", F.lit(self.build_metrics[k]))
        m.write.mode("append").parquet(path)
        return m

    def tiles(self, zoom: int) -> DataFrame:
        """Rows with raster tile id at ``zoom`` — pure column expression
        (SURVEY §2.9): tile = zkey >>> (64-2z)."""
        full = self.main.unionByName(self.side)
        return full.withColumn("tile_id", tile_id_col(F.col("zkey"), zoom))

    def tile_counts(self, zoom: int) -> DataFrame:
        """Memoized occupied-tile aggregate at ``zoom``:
        ``(tile_id, tx, ty, n_points)`` — the shared substrate of the
        whole raster-statistics suite (focal smoothing, Moran's I,
        Gi*, Geary's C, General G, quadrat, gini, join counts, ...).

        Computed and persisted ONCE per (table, zoom) and OWNED by the
        table: the relation is adopted via ``cache.untrack`` so
        per-query ``release_caches()`` boundaries skip it (the
        enc_cache discipline), and ``unpersist()`` releases it. Every
        statistic then starts from a tile-sized cached scan instead of
        re-aggregating the corpus — at cluster scale this is the
        materialized zoom-level rollup a tile-serving layer keeps
        anyway, one data shuffle amortized across the suite. Before
        this, each statistic re-ran the corpus aggregate (or, worse,
        silently shared a neighbor's track()-cache through
        CacheManager plan-matching and regressed when that neighbor
        changed — the round-3 focal_smooth story)."""
        from linear_quadtree_spark.cache import untrack

        df = self.tile_counts_cache.get(zoom)
        if df is not None and not df.is_cached:
            # healed memo: the CacheManager entry is PLAN-keyed and can be
            # shared with another table built over the same lineage — if
            # that table's unpersist() dropped the shared entry, this
            # handle is still memoized but no longer cached; re-persist
            # (and re-adopt — untrack is idempotent) instead of silently
            # re-running the corpus aggregate on every downstream action
            df = df.persist()
            untrack(df)
        if df is None:
            from linear_quadtree_spark.functions.geocell import cell_axis_expr
            from linear_quadtree_spark.functions.textexpr import SPARK

            df = (
                self.tiles(zoom)
                .groupBy("tile_id")
                .agg(F.count(F.lit(1)).alias("n_points"))
                .withColumn(
                    "tx", F.expr(cell_axis_expr(SPARK, "tile_id", zoom, 0))
                )
                .withColumn(
                    "ty", F.expr(cell_axis_expr(SPARK, "tile_id", zoom, 1))
                )
                .persist()
            )
            untrack(df)
            self.tile_counts_cache[zoom] = df
        return df
