"""Cold-from-disk query bench (round-5 directive #2).

Every headline query bench runs against the warm in-memory substrate, so
the row-group / directory pruning story was plan-proven (tests/test_plans.py)
but never TIMED from parquet. This job converts those plan proofs into
measured wall-clock:

  phase=build  — build the LQT from $SPARK_GRAFT_SF_DIR points and
                 `save_partitioned` it (Hive quad=K directories, sorted
                 files ⇒ tight per-file zs min/max) under .cold_substrate/.
  phase=query  — a SEPARATE, FRESH python+JVM process (no Spark cache, no
                 codegen cache, no memoized tile substrate) loads the
                 table with `load_partitioned` and times the four headline
                 queries reading parquet directly: bbox_x3, pip_join,
                 knn_bulk_10k, tile_stats_z8 — plus the full-scan
                 baseline those prunes are measured against.

The orchestrator (no --phase) runs build-if-missing then the query phase
as a subprocess and relays its one JSON line. Honest-measurement notes:
the OS page cache is NOT dropped (doing so would touch system state
outside the repo), so "cold" means cold Spark state — JVM, block
manager, substrate memoization — over a possibly OS-warm file system;
the pre-section host probes are included per query like bench.py.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

REPO = Path(__file__).resolve().parent.parent
SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count())
SUBSTRATE = str(
    REPO / ".cold_substrate" / Path(SF_DIR).name
)
PARTITION_LEVEL = 2  # 16 quad directories


def _spark():
    from linear_quadtree_spark.session import get_spark

    return get_spark(
        app_name="lqt-cold-bench",
        master=f"local[{CPUS}]",
        shuffle_partitions=max(CPUS, 32),
        extra_conf={"spark.ui.enabled": "false"},
    )


def phase_build() -> None:
    from bench import bench_points
    from linear_quadtree_spark import DEFAULT_BOUNDS
    from linear_quadtree_spark.operators.build import LQTTable

    spark = _spark()
    pts = bench_points(spark, SF_DIR)
    tbl = LQTTable.build(pts, DEFAULT_BOUNDS, tiebreaker="pid", persist=False)
    tbl.save_partitioned(SUBSTRATE, level=PARTITION_LEVEL)
    n = spark.read.parquet(f"{SUBSTRATE}/main").count()
    print(f"BUILT substrate {SUBSTRATE}: {n} main rows", file=sys.stderr)

    # round-5 continuation: REAL-S2-sorted corpus for the cap tier —
    # sortkey-range-partitioned + sorted files give per-file/row-group
    # sk min/max, the spherical twin of the zs layout above
    from pyspark.sql import functions as F

    from linear_quadtree_spark.functions.mercator import lonlat_from_id_exprs
    from linear_quadtree_spark.functions.s2real import (
        s2real_sortkey_expr,
        with_s2real,
    )
    from linear_quadtree_spark.functions.textexpr import SPARK as _SENG

    lon, lat = lonlat_from_id_exprs(_SENG, "doc_id")
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
        "doc_id", F.expr(lon).alias("lon"), F.expr(lat).alias("lat")
    )
    s2 = with_s2real(docs, "lon", "lat").withColumn(
        "sk", F.expr(s2real_sortkey_expr(_SENG, "s2id"))
    )
    (
        s2.repartitionByRange(8, "sk")
        .sortWithinPartitions("sk")
        .write.mode("overwrite")
        .parquet(f"{SUBSTRATE}/s2real")
    )
    n2 = spark.read.parquet(f"{SUBSTRATE}/s2real").count()
    print(f"BUILT s2real substrate: {n2} rows", file=sys.stderr)
    spark.stop()


def phase_query() -> None:
    from pyspark.sql import functions as F

    from bench import PROBES, _probe_mark
    from linear_quadtree_spark import DEFAULT_BOUNDS
    from linear_quadtree_spark.operators.build import LQTTable
    from linear_quadtree_spark.operators.spatial import (
        bbox_query,
        knn_join,
        point_in_polygon_join,
        tile_stats,
    )
    from linear_quadtree_spark.sources.synth import polygons_df

    spark = _spark()
    tbl = LQTTable.load_partitioned(
        spark, SUBSTRATE, level=PARTITION_LEVEL,
        bounds=DEFAULT_BOUNDS, tiebreaker="pid",
    )
    timings: dict[str, float] = {}
    rows: dict[str, int] = {}

    # full-scan baseline: what every pruned query is measured against
    t0 = _probe_mark("cold_full_scan")
    rows["cold_full_scan"] = tbl.main.count() + tbl.side.count()
    timings["cold_full_scan"] = round(time.time() - t0, 3)

    t0 = _probe_mark("bbox_x3")
    c = 0
    for rect in [
        (1020.0, 1045.0, 1030.0, 1070.0),
        (1005.5, 1006.5, 1095.0, 1099.0),
        (1049.0, 1051.0, 1049.0, 1051.0),
    ]:
        c += bbox_query(tbl, *rect).count()
    rows["bbox_x3"] = c
    timings["bbox_x3"] = round(time.time() - t0, 3)

    t0 = _probe_mark("pip_join")
    rows["pip_join"] = point_in_polygon_join(tbl, polygons_df(spark, 16)).count()
    timings["pip_join"] = round(time.time() - t0, 3)

    t0 = _probe_mark("knn_bulk_10k")
    qbulk = spark.range(10_000).select(
        F.col("id").cast("int").alias("qid"),
        (1000.0 + 100.0 * (((F.col("id") * 48271 + 11) % 1000) / 1000.0)).alias("qx"),
        (1000.0 + 100.0 * (((F.col("id") * 69621 + 73) % 1000) / 1000.0)).alias("qy"),
    )
    rows["knn_bulk_10k"] = knn_join(tbl, qbulk, k=10).count()
    timings["knn_bulk_10k"] = round(time.time() - t0, 3)

    t0 = _probe_mark("tile_stats_z8")
    rows["tile_stats_z8"] = tile_stats(tbl, zoom=8).count()
    timings["tile_stats_z8"] = round(time.time() - t0, 3)

    # REAL-S2 tier: cap-cover spans BETWEEN-pruned on the STORED
    # sortkey column (PushedFilters -> row-group stats; the saved-
    # layout plan test's claim, timed) vs the same table's full scan
    from linear_quadtree_spark.functions.s2real import s2real_region_cover

    s2tbl = spark.read.parquet(f"{SUBSTRATE}/s2real")

    t0 = _probe_mark("s2real_full_scan")
    rows["s2real_full_scan"] = s2tbl.count()
    timings["s2real_full_scan"] = round(time.time() - t0, 3)

    # planning (driver-side cover + predicate construction) is a FIXED
    # per-query cost, timed separately from the pruned scan so the tiny
    # corpus table doesn't make planning read as scan cost
    t0 = _probe_mark("s2real_cap_plan")
    spans: list = []
    for slon, slat in ((139.69, 35.69), (-0.13, 51.51), (-74.01, 40.71)):
        spans.extend(
            s2real_region_cover(slon, slat, 1200.0, max_level=8, max_cells=48)
        )
    from linear_quadtree_spark.intervals import merge_spans

    merged = merge_spans(spans)
    # ONE SQL text expression, not a chain of Column ops: building the
    # OR-tree via pyspark operators costs ~3 py4j round-trips per span
    # (measured ~1 s for 141 spans); one expr() call costs one
    cond = F.expr(
        " OR ".join(f"(sk BETWEEN {lo} AND {hi})" for lo, hi in merged)
    )
    rows["s2real_cap_plan"] = len(merged)
    timings["s2real_cap_plan"] = round(time.time() - t0, 3)

    t0 = _probe_mark("s2real_cap_scan")
    rows["s2real_cap_scan"] = s2tbl.filter(cond).count()
    timings["s2real_cap_scan"] = round(time.time() - t0, 3)

    spark.stop()

    print(json.dumps({
        "metric": "cold_query_total_sec",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": timings,
        "result_rows": rows,
        "probes": PROBES,
        "sf": SF_DIR,
        "cpus": CPUS,
        "partition_level": PARTITION_LEVEL,
        "os_page_cache": "not dropped (cold = fresh JVM / no Spark cache)",
    }))


def main() -> int:
    phase = next(
        (a.split("=", 1)[1] for a in sys.argv[1:] if a.startswith("--phase=")),
        None,
    )
    if phase == "build":
        phase_build()
        return 0
    if phase == "query":
        phase_query()
        return 0
    # orchestrate: build once, then query in a genuinely fresh JVM
    if not Path(SUBSTRATE, "main").exists():
        r = subprocess.run(
            [sys.executable, __file__, "--phase=build"], cwd=REPO
        )
        if r.returncode != 0:
            return r.returncode
    r = subprocess.run([sys.executable, __file__, "--phase=query"], cwd=REPO)
    return r.returncode


if __name__ == "__main__":
    raise SystemExit(main())
