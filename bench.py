"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR (default
sf0.1) on local[$SPARK_GRAFT_CPUS]. Prints ONE JSON line:
{"metric": ..., "value": N, "unit": ..., "queries": {...}, "sf": ...}.

Headline metric = LQT construction throughput (rows/sec), per
BASELINE.json (build = encode + range-partition + sort, materialized via
the noop sink so the full plan executes without write-format overhead).
Query timings cover the SURVEY §2.9 operator layer.

Scaling-efficiency evidence (north rule, local[8] vs local[32] proxy)
lives in jobs/scaling_bench.py → BENCH/BASELINE.md; set
SPARK_GRAFT_BENCH_SCALING=1 to include it here too.
"""

from __future__ import annotations

import json
import os
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

from pyspark.sql import functions as F

from linear_quadtree_spark import DEFAULT_BOUNDS
from linear_quadtree_spark.functions.geotag import geotag_x, geotag_y
from linear_quadtree_spark.operators.build import LQTTable
from linear_quadtree_spark.operators.spatial import (
    bbox_query,
    knn_join,
    point_in_polygon_join,
    tile_stats,
)
from linear_quadtree_spark.session import get_spark
from linear_quadtree_spark.sources.synth import knn_queries_df, polygons_df

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def bench_points(spark, sf_dir):
    """Point set for the build bench: one point per lineitem row (largest
    driver table), id-derived geotags — same derivation family as the
    correctness queries."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    pts = li.select(
        (F.col("l_orderkey") * 8 + F.col("l_linenumber")).alias("pid")
    )
    return pts.withColumn("x", geotag_x("pid")).withColumn("y", geotag_y("pid"))


def materialize(df) -> int:
    df.write.format("noop").mode("overwrite").save()
    return 0


def wait_host_quiet(max_wait_s: float = 120.0) -> list[float]:
    """Bounded wait for a nominal-speed host window before the headline
    timing. This sandbox host intermittently oversubscribes vCPUs and
    collapses memory bandwidth ~100-300x with near-zero reported steal
    (see BENCH.md); a throughput sample taken inside such a window
    measures the neighbor, not the engine. Returns the last probe triple
    (single-thread sort s, 8-thread sort wall s, 256MB stream s) so the
    reported JSON discloses the conditions the clock ran under."""
    try:
        from jobs.scaling_bench import _quiet, probe
    except Exception:
        return []
    t0 = time.time()
    while True:
        p = probe()
        if _quiet(p) or time.time() - t0 > max_wait_s:
            return [round(x, 2) for x in p]
        time.sleep(15)


#: probe triple taken immediately before each timed section — per-query
#: disclosure of the host conditions every number was measured under
#: (VERDICT r2: the r2 bench was taken in a contaminated window and the
#: contamination was only visible on the one pre-build probe)
PROBES: dict[str, list] = {}


def _probe_mark(name: str) -> float:
    """Record the pre-section host probe triple and start the clock."""
    try:
        from jobs.scaling_bench import probe

        PROBES[name] = [round(x, 2) for x in probe()]
    except Exception:
        PROBES[name] = []
    return time.time()


def family_bench(families: set[str]) -> None:
    """Registry-driven per-family bench: time `queries()[k].count()` for
    every registry key tagged with a requested family and print ONE JSON
    line. This is the fast certification loop for a CHANGED family — the
    full hand-tuned `main()` path (shared substrate, warm-up discipline,
    probe gates) stays the headline record; this mode exists so a round
    that touched only e.g. `dedup` can re-time 11 queries, not 118."""
    import __spark_entry__ as entrymod

    fam_map = entrymod.query_families()
    unknown = families - set(fam_map.values())
    assert not unknown, f"unknown --family values: {sorted(unknown)}"
    keys = [k for k, f in fam_map.items() if f in families]
    spark = get_spark(
        app_name="lqt-bench-family",
        master=f"local[{CPUS}]",
        shuffle_partitions=max(CPUS, 32),
        extra_conf={"spark.ui.enabled": "false"},
    )
    qs = entrymod.queries()
    timings: dict[str, float] = {}
    rows: dict[str, int] = {}
    for k in keys:
        t0 = _probe_mark(k)
        rows[k] = qs[k](spark, SF_DIR).count()
        timings[k] = round(time.time() - t0, 3)
    spark.stop()
    detail = {
        "metric": "family_bench_total_sec",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "families": sorted(families),
        "queries": timings,
        "result_rows": rows,
        "probes": PROBES,
        "sf": SF_DIR,
        "cpus": CPUS,
    }
    detail_path = Path(__file__).resolve().parent / "BENCH_FAMILY.json"
    detail_path.write_text(json.dumps(detail, indent=1))
    compact = {k: v for k, v in detail.items() if k not in ("result_rows", "probes")}
    compact["detail_file"] = detail_path.name
    line = json.dumps(compact)
    if len(line) >= 1500:
        compact.pop("queries", None)
        line = json.dumps(compact)
    print(line)


def main() -> None:
    families = {
        a.split("=", 1)[1] for a in sys.argv[1:] if a.startswith("--family=")
    }
    if families:
        family_bench(families)
        return
    spark = get_spark(
        app_name="lqt-bench",
        master=f"local[{CPUS}]",
        shuffle_partitions=max(CPUS, 32),
        extra_conf={"spark.ui.enabled": "false"},
    )
    timings: dict[str, float] = {}

    pts = bench_points(spark, SF_DIR)
    n_rows = pts.count()

    # warm JVM codegen + every Python worker slot outside the clock
    warm = LQTTable.build(
        pts.repartition(4 * CPUS), DEFAULT_BOUNDS, tiebreaker="pid",
        persist=False, eager_count=False
    )
    materialize(warm.main.unionByName(warm.side))
    warm.unpersist()

    # --- build (headline): encode + repartitionByRange + sortWithinPartitions
    # fixed-cost-minimal shape (see jobs/scaling_bench.py): sampling pass
    # materializes the encode cache; one union action covers main + side.
    # The headline runs under the FULL scaling-bench certification
    # protocol (VERDICT r2 #1): three-way probe gate before the clock,
    # in-flight bandwidth + 8-thread monitors during the measured region,
    # endpoint re-probe after — `build_clean` in the JSON is true only
    # when all of them were nominal.
    probe_at_build = wait_host_quiet(
        max_wait_s=float(os.environ.get("SPARK_GRAFT_BENCH_GATE_S", "300"))
    )
    import threading

    import numpy as np

    mid_bw = [0.0]
    mid_par8 = [0.0]
    stop_flag = [False]

    def _monitor() -> None:
        from concurrent.futures import ThreadPoolExecutor

        big = np.zeros(32_000_000)
        big *= 1.000001  # fault the pages in — the first touch of a fresh
        # 256MB allocation costs ~2s of page faults and would read as a
        # bandwidth collapse inside the measured region
        small = np.random.default_rng(0).random(2_000_000)
        tick = 0
        while not stop_flag[0]:
            t = time.time()
            big *= 1.000001
            mid_bw[0] = max(mid_bw[0], time.time() - t)
            if tick % 3 == 2:
                t = time.time()
                with ThreadPoolExecutor(8) as ex:
                    list(ex.map(lambda _: np.sort(small), range(8)))
                mid_par8[0] = max(mid_par8[0], time.time() - t)
            tick += 1
            time.sleep(5)

    t0 = _probe_mark("build")  # before the monitor starts streaming
    mon = threading.Thread(target=_monitor, daemon=True)
    mon.start()
    t0 = time.time()
    tbl = LQTTable.build(pts, DEFAULT_BOUNDS, tiebreaker="pid",
                         persist=False, eager_count=False)
    materialize(tbl.main.unionByName(tbl.side))
    timings["build"] = time.time() - t0
    stop_flag[0] = True
    mon.join(timeout=30)
    tbl.unpersist()
    build_rows_per_sec = n_rows / timings["build"]
    try:
        from jobs.scaling_bench import (
            MID_BW_LIMIT_S,
            MID_PAR8_LIMIT_S,
            _quiet,
            probe,
        )

        probe_post_build = [round(x, 2) for x in probe()]
        build_clean = (
            _quiet(tuple(probe_at_build))
            and _quiet(tuple(probe_post_build))
            and mid_bw[0] <= MID_BW_LIMIT_S
            and mid_par8[0] <= MID_PAR8_LIMIT_S
        )
    except Exception:
        probe_post_build, build_clean = [], False

    # cached table for the query benches (queries assume a built tree)
    tbl = LQTTable.build(pts, DEFAULT_BOUNDS, tiebreaker="pid", persist=True)
    tbl.main.count()
    tbl.side.count()

    t0 = _probe_mark("bbox_x3")
    c = 0
    for rect in [
        (1020.0, 1045.0, 1030.0, 1070.0),
        (1005.5, 1006.5, 1095.0, 1099.0),
        (1049.0, 1051.0, 1049.0, 1051.0),
    ]:
        c += bbox_query(tbl, *rect).count()
    timings["bbox_x3"] = time.time() - t0

    t0 = _probe_mark("pip_join")
    polys = polygons_df(spark, 16)
    pip_rows = point_in_polygon_join(tbl, polys).count()
    timings["pip_join"] = time.time() - t0

    # 10^4-polygon dimension, fully distributed (round-3): the polygon
    # side never touches the driver — spark.range generator, column-expr
    # bbox cover, broadcast cell join, JVM edge-fold refine. Radii are
    # scaled down so the OUTPUT pair count (a workload property) stays
    # comparable to the 16-polygon entry.
    t0 = _probe_mark("pip_join_10kpoly")
    from linear_quadtree_spark.sources.synth import polygons_df_distributed
    pip10k_rows = point_in_polygon_join(
        tbl, polygons_df_distributed(spark, 10_000, r_scale=0.05)
    ).count()
    timings["pip_join_10kpoly"] = time.time() - t0

    t0 = _probe_mark("knn16_k10")
    q = knn_queries_df(spark, 16)
    knn_rows = knn_join(tbl, q, k=10).count()
    timings["knn16_k10"] = time.time() - t0

    # bulk kNN: 10k queries as a distributed DataFrame (never collected)
    t0 = _probe_mark("knn_bulk_10k")
    qbulk = spark.range(10_000).select(
        F.col("id").cast("int").alias("qid"),
        (1000.0 + 100.0 * (((F.col("id") * 48271 + 11) % 1000) / 1000.0)).alias("qx"),
        (1000.0 + 100.0 * (((F.col("id") * 69621 + 73) % 1000) / 1000.0)).alias("qy"),
    )
    knn_bulk_rows = knn_join(tbl, qbulk, k=10).count()
    timings["knn_bulk_10k"] = time.time() - t0

    t0 = _probe_mark("tile_stats_z8")
    tile_rows = tile_stats(tbl, zoom=8).count()
    timings["tile_stats_z8"] = time.time() - t0

    # the z8 per-tile substrate the whole tile/statistics suite shares
    # (LQTTable.tile_counts memoization): its ONE corpus shuffle is timed
    # HERE, explicitly, BEFORE the first consumer (tile_polygons_z8), so
    # every downstream query reports its true marginal cost instead of
    # whichever runs first silently absorbing the suite's shared aggregate
    t0 = _probe_mark("tile_substrate_z8")
    substrate_rows = tbl.tile_counts(8).count()
    timings["tile_substrate_z8"] = time.time() - t0

    t0 = _probe_mark("tile_polygons_z8")
    from linear_quadtree_spark.operators.spatial import tile_polygons
    tpoly_rows = tile_polygons(tbl, zoom=8).count()
    timings["tile_polygons_z8"] = time.time() - t0

    t0 = _probe_mark("tile_pyramid_z2468")
    from linear_quadtree_spark.operators.spatial import tile_pyramid
    tpyr_rows = tile_pyramid(tbl, [2, 4, 6, 8]).count()
    timings["tile_pyramid_z2468"] = time.time() - t0

    t0 = _probe_mark("distance_join_r01")
    from linear_quadtree_spark.operators.spatial import distance_join
    dj_rows = distance_join(tbl, r=0.1).count()
    timings["distance_join_r01"] = time.time() - t0

    t0 = _probe_mark("latest_capture")
    from linear_quadtree_spark.operators.crawl import captures_table, latest_capture
    lc_rows = latest_capture(captures_table(spark, SF_DIR)).count()
    timings["latest_capture"] = time.time() - t0

    t0 = _probe_mark("host_pagerank")
    from linear_quadtree_spark.operators.graph import host_link_edges, pagerank
    pr_rows = pagerank(host_link_edges(spark, SF_DIR)).count()
    timings["host_pagerank"] = time.time() - t0

    t0 = _probe_mark("ranked_curation")
    import __spark_entry__ as _entry_mod
    rc_rows = _entry_mod.queries()["ranked_curation"](spark, SF_DIR).count()
    timings["ranked_curation"] = time.time() - t0

    t0 = _probe_mark("anchor_terms")
    from linear_quadtree_spark.operators.graph import anchor_terms, host_link_anchors
    at_rows = anchor_terms(host_link_anchors(spark, SF_DIR)).count()
    timings["anchor_terms"] = time.time() - t0

    t0 = _probe_mark("snapshot_diff")
    from linear_quadtree_spark.operators.crawl import snapshot_diff, snapshot_pair
    _sd_old, _sd_new = snapshot_pair(spark, SF_DIR)
    sd_rows = snapshot_diff(_sd_old, _sd_new).count()
    timings["snapshot_diff"] = time.time() - t0

    # incremental maintenance: ingest a 1/32 delta as a sorted run and
    # query the merged view — cost must track the DELTA, not the base
    t0 = _probe_mark("incremental_append")
    from linear_quadtree_spark.operators.maintain import merge_runs
    delta = pts.filter(F.col("pid") % 32 == 0)
    # the run is PERSISTED like a written delta file would be: querying
    # an unmaterialized run re-executes its encode + range sampling per
    # action (the round-1 UDF re-execution trap), ~6x slower here
    run = LQTTable.build(delta, DEFAULT_BOUNDS, tiebreaker="pid",
                         num_partitions=4, persist=True)
    merged = merge_runs(tbl, run)
    incr_rows = bbox_query(merged, 1020.0, 1045.0, 1030.0, 1070.0).count()
    timings["incremental_append"] = time.time() - t0
    run.unpersist()

    t0 = _probe_mark("rasterize_z8")
    from linear_quadtree_spark.operators.spatial import rasterize_polygons
    rast_rows = rasterize_polygons(polygons_df(spark, 16), zoom=8).count()
    timings["rasterize_z8"] = time.time() - t0

    # geofence near-dup: pairwise tile-IoU over a 2k-polygon dimension —
    # candidate pairs from ONE cell-id equi-self-join (the LSH shape on
    # geometry), never all-pairs over the dimension
    t0 = _probe_mark("polygon_tile_iou_2k")
    from linear_quadtree_spark.operators.spatial import polygon_tile_iou
    from linear_quadtree_spark.sources.synth import polygons_df_distributed
    iou_rows = polygon_tile_iou(
        polygons_df_distributed(spark, 2000, r_scale=0.25), zoom=8
    ).count()
    timings["polygon_tile_iou_2k"] = time.time() - t0

    # supercover rasterization of 600k GPS-trace-like hops (±3 units,
    # ~4 cells each at zoom 6) — map-only cell enumeration, one
    # aggregate shuffle. Full-domain hops are the same plan at ~10x the
    # cells-per-segment (a workload property, not a plan one).
    t0 = _probe_mark("segment_tiles_z6")
    from linear_quadtree_spark.operators.trajectory import segment_tiles
    segsrc = pts.select(
        F.col("pid").alias("sid"),
        F.col("x").cast("double").alias("x1"),
        F.col("y").cast("double").alias("y1"),
        F.expr(
            "least(greatest(CAST(x AS DOUBLE)"
            " + (CAST((pid * 48271 + 7) % 601 AS DOUBLE) - 300.0) / 100.0,"
            " 1000.0), 1100.0)"
        ).alias("x2"),
        F.expr(
            "least(greatest(CAST(y AS DOUBLE)"
            " + (CAST((pid * 69621 + 73) % 601 AS DOUBLE) - 300.0) / 100.0,"
            " 1000.0), 1100.0)"
        ).alias("y2"),
    )
    seg_rows = (
        segment_tiles(segsrc, zoom=6).groupBy("tile_id").count().count()
    )
    timings["segment_tiles_z6"] = time.time() - t0

    t0 = _probe_mark("tile_activity")
    from linear_quadtree_spark.operators.spacetime import tile_activity
    ta_rows = tile_activity(
        spark.read.parquet(f"{SF_DIR}/events.parquet"), zoom=4
    ).count()
    timings["tile_activity"] = time.time() - t0

    t0 = _probe_mark("focal_smooth_z8")
    from linear_quadtree_spark.operators.spatial import focal_smooth
    focal_rows = focal_smooth(tbl, zoom=8).count()
    timings["focal_smooth_z8"] = time.time() - t0

    t0 = _probe_mark("morans_i_z8")
    from linear_quadtree_spark.operators.hotspot import gi_star_hotspots, morans_i
    moran_row = morans_i(tbl, zoom=8).collect()[0]
    timings["morans_i_z8"] = time.time() - t0

    t0 = _probe_mark("gi_star_z8")
    gi_hot = (
        gi_star_hotspots(tbl, zoom=8)
        .filter(F.abs(F.col("gi_z")) >= 1.96).count()
    )
    timings["gi_star_z8"] = time.time() - t0

    t0 = _probe_mark("local_moran_z8")
    from linear_quadtree_spark.operators.hotspot import local_moran
    lisa_quads = {
        r["quadrant"]: r["count"]
        for r in local_moran(tbl, zoom=8).groupBy("quadrant").count().collect()
    }
    timings["local_moran_z8"] = time.time() - t0

    t0 = _probe_mark("ripley_k")
    from linear_quadtree_spark.operators.hotspot import ripley_k
    ripley_rows = ripley_k(tbl, [0.05, 0.1, 0.2, 0.4]).collect()
    timings["ripley_k"] = time.time() - t0

    # G-function on the registry's docs table (distinct ids; the
    # lineitem-derived bench pids are NOT unique — 143,139 duplicate
    # (orderkey, linenumber) rows at sf0.1, which the G-function
    # surfaces as censored mass because duplicate ids merge in the
    # per-point min — a data-integrity artifact worth knowing, wrong
    # table for timing the operator)
    t0 = _probe_mark("nn_dist_hist")
    import __spark_entry__ as _nn_entry
    nn_hist_rows = _nn_entry.queries()["nn_dist_hist"](spark, SF_DIR).collect()
    timings["nn_dist_hist"] = time.time() - t0

    t0 = _probe_mark("cross_k")
    import __spark_entry__ as _entry
    xk_rows = _entry.queries()["cross_k"](spark, SF_DIR).collect()
    timings["cross_k"] = time.time() - t0

    t0 = _probe_mark("join_counts")
    from linear_quadtree_spark.operators.hotspot import join_counts
    # 600k points / 65k zoom-8 cells ≈ 9.2 mean: thresh 12 marks the
    # above-mean tail, a nontrivial B/W mask
    jc_row = join_counts(tbl, zoom=8, thresh=12).collect()[0]
    timings["join_counts"] = time.time() - t0

    t0 = _probe_mark("mk_trend")
    from linear_quadtree_spark.operators.spacetime import mk_trend
    mk_up = (
        mk_trend(spark.read.parquet(f"{SF_DIR}/events.parquet"), zoom=6)
        .groupBy("trend").count().collect()
    )
    timings["mk_trend"] = time.time() - t0

    t0 = _probe_mark("knox_test")
    from linear_quadtree_spark.operators.spacetime import knox_test
    knox_row = knox_test(
        spark.read.parquet(f"{SF_DIR}/events.parquet"), r=3.0, dt_s=3600
    ).collect()[0]
    timings["knox_test"] = time.time() - t0

    t0 = _probe_mark("theil_sen")
    from linear_quadtree_spark.operators.spacetime import theil_sen
    sen_rows = (
        theil_sen(spark.read.parquet(f"{SF_DIR}/events.parquet"), zoom=6)
        .filter("sen_slope IS NOT NULL").count()
    )
    timings["theil_sen"] = time.time() - t0

    t0 = _probe_mark("emerging_hotspots")
    from linear_quadtree_spark.operators.spacetime import emerging_hotspots
    emerge = (
        emerging_hotspots(spark.read.parquet(f"{SF_DIR}/events.parquet"), zoom=5)
        .groupBy("pattern").count().collect()
    )
    timings["emerging_hotspots"] = time.time() - t0

    t0 = _probe_mark("general_g_z8")
    from linear_quadtree_spark.operators.hotspot import general_g, quadrat_test
    gg_row = general_g(tbl, zoom=8).collect()[0]
    timings["general_g_z8"] = time.time() - t0

    t0 = _probe_mark("geary_c_z8")
    from linear_quadtree_spark.operators.hotspot import geary_c
    gc_row = geary_c(tbl, zoom=8).collect()[0]
    timings["geary_c_z8"] = time.time() - t0

    t0 = _probe_mark("quadrat_test_z8")
    quad_row = quadrat_test(tbl, zoom=8).collect()[0]
    timings["quadrat_test_z8"] = time.time() - t0

    t0 = _probe_mark("tile_gini_z8")
    from linear_quadtree_spark.operators.hotspot import tile_gini
    gini_row = tile_gini(tbl, zoom=8).collect()[0]
    timings["tile_gini_z8"] = time.time() - t0

    t0 = _probe_mark("segment_crossings")
    from linear_quadtree_spark.operators.trajectory import (
        segment_crossings,
        user_segments,
    )
    cross_rows = segment_crossings(
        user_segments(
            spark.read.parquet(f"{SF_DIR}/events.parquet").filter(
                "user_id % 100 = 0"
            )
        ),
        zoom=6,
    ).count()
    timings["segment_crossings"] = time.time() - t0

    t0 = _probe_mark("spacetime_scan")
    from linear_quadtree_spark.operators.spacetime import spacetime_scan
    scan_top = spacetime_scan(
        spark.read.parquet(f"{SF_DIR}/events.parquet"), zoom=6
    ).collect()
    timings["spacetime_scan"] = time.time() - t0

    t0 = _probe_mark("radius_of_gyration")
    from linear_quadtree_spark.operators.trajectory import radius_of_gyration
    rog_rows = radius_of_gyration(
        spark.read.parquet(f"{SF_DIR}/events.parquet"), zoom=10
    ).count()
    timings["radius_of_gyration"] = time.time() - t0

    t0 = _probe_mark("speed_flags")
    from linear_quadtree_spark.operators.trajectory import speed_flags
    speed_rows = speed_flags(
        spark.read.parquet(f"{SF_DIR}/events.parquet"), vmax=0.05
    ).count()
    timings["speed_flags"] = time.time() - t0

    t0 = _probe_mark("trip_length_hist")
    from linear_quadtree_spark.operators.trajectory import trip_length_hist
    tlh_rows = trip_length_hist(
        spark.read.parquet(f"{SF_DIR}/events.parquet")
    ).count()
    timings["trip_length_hist"] = time.time() - t0

    t0 = _probe_mark("anchor_tiles")
    from linear_quadtree_spark.operators.trajectory import anchor_tiles
    anchor_rows = anchor_tiles(
        spark.read.parquet(f"{SF_DIR}/events.parquet"), zoom=6
    ).count()
    timings["anchor_tiles"] = time.time() - t0

    t0 = _probe_mark("tile_retention")
    from linear_quadtree_spark.operators.spacetime import tile_retention
    retention_rows = tile_retention(
        spark.read.parquet(f"{SF_DIR}/events.parquet"), zoom=6
    ).count()
    timings["tile_retention"] = time.time() - t0

    t0 = _probe_mark("tile_type_mix")
    from linear_quadtree_spark.operators.spacetime import tile_type_mix
    mix_rows = tile_type_mix(
        spark.read.parquet(f"{SF_DIR}/events.parquet"), zoom=6
    ).count()
    timings["tile_type_mix"] = time.time() - t0

    t0 = _probe_mark("commute_matrix")
    from linear_quadtree_spark.operators.trajectory import commute_matrix
    commute_rows = commute_matrix(
        spark.read.parquet(f"{SF_DIR}/events.parquet"), zoom=6
    ).count()
    timings["commute_matrix"] = time.time() - t0

    t0 = _probe_mark("tile_diurnal")
    from linear_quadtree_spark.operators.spacetime import tile_diurnal
    diurnal_rows = tile_diurnal(
        spark.read.parquet(f"{SF_DIR}/events.parquet"), zoom=6
    ).count()
    timings["tile_diurnal"] = time.time() - t0

    # three-grain ROLLUP in one Expand + one hash aggregate
    t0 = _probe_mark("tile_time_cube")
    from linear_quadtree_spark.operators.spacetime import tile_time_cube
    cube_rows = tile_time_cube(
        spark.read.parquet(f"{SF_DIR}/events.parquet"), zoom=6
    ).count()
    timings["tile_time_cube"] = time.time() - t0

    t0 = _probe_mark("distance_decay")
    from linear_quadtree_spark.operators.trajectory import distance_decay
    decay_rows = distance_decay(
        spark.read.parquet(f"{SF_DIR}/events.parquet"), zoom=6
    ).count()
    timings["distance_decay"] = time.time() - t0

    t0 = _probe_mark("user_jaccard_pairs")
    from linear_quadtree_spark.operators.trajectory import user_jaccard_pairs
    # zoom 5 at sf0.1 (1500 users x ~400 events): tile sets wide enough
    # to overlap, postings join ~ users x visited tiles
    ujp_rows = user_jaccard_pairs(
        spark.read.parquet(f"{SF_DIR}/events.parquet"), zoom=5, tau_pct=15
    ).count()
    timings["user_jaccard_pairs"] = time.time() - t0

    t0 = _probe_mark("tile_transitions")
    from linear_quadtree_spark.operators.spacetime import tile_transitions
    # zoom 8: ~4.5 events per tile-half at sf0.1 — classes actually
    # spread (zoom 6 put every tile in the same (4,4) cell)
    tt_trans_rows = tile_transitions(
        spark.read.parquet(f"{SF_DIR}/events.parquet"), zoom=8
    ).count()
    timings["tile_transitions"] = time.time() - t0

    t0 = _probe_mark("idw_surface_z6")
    from linear_quadtree_spark.operators.interpolate import idw_surface
    idw_pts = bench_points(spark, SF_DIR).selectExpr(
        "x", "y", "pmod(pid, 1000) AS v"
    )
    idw_rows = idw_surface(idw_pts, "v", DEFAULT_BOUNDS, 6, 2.0).count()
    timings["idw_surface_z6"] = time.time() - t0

    t0 = _probe_mark("zonal_stats")
    zonal_rows = _entry.queries()["zonal_stats"](spark, SF_DIR).count()
    timings["zonal_stats"] = time.time() - t0

    t0 = _probe_mark("asof_join")
    from linear_quadtree_spark.operators.asof import asof_join
    from linear_quadtree_spark.operators.crawl import captures_table
    caps = captures_table(spark, SF_DIR)
    probes = caps.groupBy("url").agg(
        (F.min("capture_ts") + 43200).alias("probe_ts")
    )
    asof_rows = asof_join(
        probes, caps, key_cols=["url"], probe_ts_col="probe_ts",
        version_ts_col="capture_ts", payload_cols=["capture"],
    ).count()
    timings["asof_join"] = time.time() - t0

    # range lookup at point-table scale: 600k facts x 256 IP blocks at
    # sf0.1 — one bucket shuffle, no join operator
    t0 = _probe_mark("ip_range_lookup")
    import __spark_entry__ as _iprl_entry
    from linear_quadtree_spark.operators.lookup import range_lookup
    iprl_facts = pts.select(
        "pid", F.expr("(pid * 2654435761) % 4294967296").alias("ip")
    )
    iprl_rows = range_lookup(
        iprl_facts, _iprl_entry._ip_blocks_df(spark),
        "ip", "block_start", "block_end", ["asn", "country"],
    ).count()
    timings["ip_range_lookup"] = time.time() - t0

    t0 = _probe_mark("zorder_cluster")
    from linear_quadtree_spark.functions.zorder import cluster_by_zorder
    zli = cluster_by_zorder(
        spark.read.parquet(f"{SF_DIR}/lineitem.parquet"),
        [("l_partkey", 0.0, 200001.0), ("l_suppkey", 0.0, 10001.0)],
    )
    materialize(zli)
    timings["zorder_cluster"] = time.time() - t0

    # --- geodetic / hex / web-index layer (round 3)
    from linear_quadtree_spark.functions.hexcell import (
        hex_focal_smooth,
        with_hexcell,
    )
    from linear_quadtree_spark.functions.mercator import (
        haversine_km_expr,
        lonlat_from_id_exprs,
        quadkey_expr,
        slippy_tile_exprs,
    )
    from linear_quadtree_spark.functions.textexpr import SPARK as _SENG
    from linear_quadtree_spark.operators.crawl import cdx_captures, cdx_range_scan

    t0 = _probe_mark("hexcell_stats_r8")
    hex_rows = (
        with_hexcell(pts, "x", "y", res=8).groupBy("hexcell").count().count()
    )
    timings["hexcell_stats_r8"] = time.time() - t0

    t0 = _probe_mark("hilbert_stats")
    from linear_quadtree_spark.functions.hilbert import with_hilbert_key
    hilb_rows = (
        with_hilbert_key(pts, "x", "y", DEFAULT_BOUNDS)
        .groupBy("hkey").count().count()
    )
    timings["hilbert_stats"] = time.time() - t0

    _s2lon, _s2lat = lonlat_from_id_exprs(_SENG, "pid")
    s2pts = pts.select(
        "pid", F.expr(_s2lon).alias("lon"), F.expr(_s2lat).alias("lat")
    )

    t0 = _probe_mark("s2real_stats")
    from linear_quadtree_spark.functions.s2real import (
        s2real_parent_expr,
        with_s2real,
    )

    s2real_rows = (
        with_s2real(s2pts, "lon", "lat")
        .selectExpr(f"{s2real_parent_expr(_SENG, 's2id', 8)} AS p8")
        .groupBy("p8")
        .count()
        .count()
    )
    timings["s2real_stats"] = time.time() - t0

    t0 = _probe_mark("bpe_pair_stats")
    from linear_quadtree_spark.operators.tokenizer import (
        bpe_pair_stats,
        bpe_segment_stats,
        lm_bigram_coverage,
    )

    _bdocs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    bpe_rows = bpe_pair_stats(_bdocs, k=64).count()
    timings["bpe_pair_stats"] = time.time() - t0

    t0 = _probe_mark("bpe_segment_stats")
    bseg_rows = bpe_segment_stats(_bdocs).count()
    timings["bpe_segment_stats"] = time.time() - t0

    t0 = _probe_mark("lm_bigram_coverage")
    lmcov_rows = lm_bigram_coverage(_bdocs, min_count=5).count()
    timings["lm_bigram_coverage"] = time.time() - t0

    t0 = _probe_mark("canonical_urls")
    from linear_quadtree_spark.operators.crawl import (
        canonical_urls as _curls,
        url_param_variants_expr as _upve,
    )

    _udocs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    curl_rows = _curls(
        _udocs.select("doc_id", F.expr(_upve(_SENG, "doc_id")).alias("url"))
    ).count()
    timings["canonical_urls"] = time.time() - t0

    t0 = _probe_mark("tile_kmv_visitors")
    import __spark_entry__ as _entry_kmv

    kmv_pyr_rows = _entry_kmv._q_tile_kmv_visitors(spark, SF_DIR).count()
    timings["tile_kmv_visitors"] = time.time() - t0

    t0 = _probe_mark("host_hits")
    from linear_quadtree_spark.operators.graph import hits_scores, host_link_edges

    hits_rows = hits_scores(host_link_edges(spark, SF_DIR)).count()
    timings["host_hits"] = time.time() - t0

    t0 = _probe_mark("simplify_traj")
    from linear_quadtree_spark.operators.trajectory import (
        geofence_transitions,
        simplify_dp,
        simplify_onepass,
    )

    _tev = spark.read.parquet(f"{SF_DIR}/events.parquet")
    simp_rows = simplify_onepass(_tev, min_area2=50.0).count()
    timings["simplify_traj"] = time.time() - t0

    t0 = _probe_mark("simplify_dp")
    dp_rows = simplify_dp(_tev, tol=5.0).count()
    timings["simplify_dp"] = time.time() - t0

    t0 = _probe_mark("geofence_transitions")
    gf_rows = geofence_transitions(_tev, [17, 18, 21, 22, 33], zoom=4).count()
    timings["geofence_transitions"] = time.time() - t0

    t0 = _probe_mark("grid_dbscan_l9")
    from linear_quadtree_spark.operators.cluster import grid_dbscan, quadtree_compact
    dbscan_rows = grid_dbscan(pts, level=9, minpts=5, id_col="pid").count()
    timings["grid_dbscan_l9"] = time.time() - t0

    t0 = _probe_mark("quadtree_compact_l8")
    compact_rows = quadtree_compact(pts, level=8).count()
    timings["quadtree_compact_l8"] = time.time() - t0

    t0 = _probe_mark("adaptive_tiling_l8")
    from linear_quadtree_spark.operators.cluster import adaptive_tiling

    adapt_rows = adaptive_tiling(pts, cap=64, max_level=8).count()
    timings["adaptive_tiling_l8"] = time.time() - t0

    t0 = _probe_mark("hex_focal_r8")
    hexf_rows = hex_focal_smooth(pts, "x", "y", res=8).count()
    timings["hex_focal_r8"] = time.time() - t0

    t0 = _probe_mark("slippy_quadkey_z8")
    _lon, _lat = lonlat_from_id_exprs(_SENG, "pid")
    _tx, _ty = slippy_tile_exprs(_SENG, _lon, _lat, 8)
    _qk = quadkey_expr(_SENG, "tx", "ty", 8)
    slippy_rows = (
        pts.select("pid", F.expr(_tx).alias("tx"), F.expr(_ty).alias("ty"))
        .withColumn("qk", F.expr(_qk))
        .groupBy("qk")
        .count()
        .count()
    )
    timings["slippy_quadkey_z8"] = time.time() - t0

    t0 = _probe_mark("geohash_p6")
    from linear_quadtree_spark.functions.geohash import (
        geohash_from_grid_expr,
        geohash_grid_exprs,
    )

    _ggx, _ggy = geohash_grid_exprs(_SENG, _lon, _lat, 6)
    geohash_rows = (
        pts.select("pid", F.expr(_ggx).alias("_ghx"), F.expr(_ggy).alias("_ghy"))
        .withColumn("gh", F.expr(geohash_from_grid_expr(_SENG, "_ghx", "_ghy", 6)))
        .groupBy("gh")
        .count()
        .count()
    )
    timings["geohash_p6"] = time.time() - t0

    t0 = _probe_mark("haversine_sites")
    _sites = spark.createDataFrame(
        [
            ("tokyo", 139.69, 35.69),
            ("london", -0.13, 51.51),
            ("nyc", -74.01, 40.71),
            ("sydney", 151.21, -33.87),
            ("saopaulo", -46.63, -23.55),
            ("nairobi", 36.82, -1.29),
        ],
        "site string, slon double, slat double",
    )
    _geo = pts.select("pid", F.expr(_lon).alias("lon"), F.expr(_lat).alias("lat"))
    _d = haversine_km_expr(_SENG, "lon", "lat", "slon", "slat")
    hav_rows = (
        _geo.crossJoin(F.broadcast(_sites))
        .filter(F.expr(_d) <= 2500.0)
        .groupBy("site")
        .count()
        .count()
    )
    timings["haversine_sites"] = time.time() - t0

    t0 = _probe_mark("cdx_range_scan")
    cdx_rows = cdx_range_scan(
        cdx_captures(spark, SF_DIR), "org,example)/src1"
    ).count()
    timings["cdx_range_scan"] = time.time() - t0

    # --- training-data pipeline layer (documents / embeddings tables)
    from linear_quadtree_spark.operators.dedup import minhash_lsh_pairs, simhash_pairs
    from linear_quadtree_spark.operators.similarity import (
        ann_topk_bruteforce,
        ann_topk_lsh,
        emb_neardup_pairs,
    )
    from linear_quadtree_spark.operators.text import exact_dedup, quality_score, token_stats
    from linear_quadtree_spark.sources.synth import corpus_docs, corpus_embs

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    corp = corpus_docs(spark, SF_DIR)

    t0 = _probe_mark("text_stats")
    ts_rows = token_stats(docs).count()
    qs_rows = quality_score(docs).count()
    timings["text_stats"] = time.time() - t0

    t0 = _probe_mark("exact_dedup")
    ded_rows = exact_dedup(corp).count()
    timings["exact_dedup"] = time.time() - t0

    t0 = _probe_mark("incremental_dedup")
    from linear_quadtree_spark.operators.text import dedup_against, fingerprint
    incr_ded_rows = dedup_against(
        corp.filter(F.col("doc_id") % 2 == 1),
        fingerprint(corp.filter(F.col("doc_id") % 2 == 0)),
    ).count()
    timings["incremental_dedup"] = time.time() - t0

    t0 = _probe_mark("vocab_stats")
    from linear_quadtree_spark.operators.text import vocab_stats
    vocab_rows = vocab_stats(docs, top_k=1000).count()
    timings["vocab_stats"] = time.time() - t0

    t0 = _probe_mark("kmv_vocab")
    from linear_quadtree_spark.functions.textexpr import tokens_expr
    from linear_quadtree_spark.operators.sketches import kmv_distinct
    kmv_rows = kmv_distinct(
        docs.select(
            "source", F.explode(F.expr(tokens_expr(_SENG, "text"))).alias("token")
        ),
        ["source"], "token", k=64,
    ).count()
    timings["kmv_vocab"] = time.time() - t0

    t0 = _probe_mark("tfidf_keywords")
    from linear_quadtree_spark.operators.text import tfidf_keywords
    tfidf_rows = tfidf_keywords(docs, top_k=5).count()
    timings["tfidf_keywords"] = time.time() - t0

    t0 = _probe_mark("bm25_topk")
    from linear_quadtree_spark.operators.text import bm25_topk
    bm25_rows = bm25_topk(
        docs, ["spark", "merge", "window", "customer"], top_k=10
    ).count()
    timings["bm25_topk"] = time.time() - t0

    t0 = _probe_mark("curate_corpus")
    from linear_quadtree_spark.operators.text import curate_corpus
    curated_rows = curate_corpus(corp).count()
    timings["curate_corpus"] = time.time() - t0

    t0 = _probe_mark("pack_sequences")
    from linear_quadtree_spark.operators.text import mixture_sample, pack_sequences
    pack_rows = pack_sequences(docs, budget=2048, n_buckets=32).count()
    timings["pack_sequences"] = time.time() - t0

    t0 = _probe_mark("mixture_sample")
    mix_rows = mixture_sample(docs).count()
    timings["mixture_sample"] = time.time() - t0

    t0 = _probe_mark("chunk_documents")
    from linear_quadtree_spark.operators.text import chunk_documents
    chunk_rows = chunk_documents(docs, window=64, overlap=16).count()
    timings["chunk_documents"] = time.time() - t0

    t0 = _probe_mark("tile_quality_rollup")
    import __spark_entry__ as _entry
    rollup_rows = _entry.queries()["tile_quality_rollup"](spark, SF_DIR).count()
    timings["tile_quality_rollup"] = time.time() - t0

    t0 = _probe_mark("tile_topk")
    topk_rows = _entry.queries()["tile_topk"](spark, SF_DIR).count()
    timings["tile_topk"] = time.time() - t0

    t0 = _probe_mark("radius_join_sample")
    rjs_rows = _entry.queries()["radius_join_sample"](spark, SF_DIR).count()
    timings["radius_join_sample"] = time.time() - t0

    t0 = _probe_mark("spatial_overlap")
    ov = _entry.queries()["spatial_overlap"](spark, SF_DIR).collect()[0]
    timings["spatial_overlap"] = time.time() - t0

    t0 = _probe_mark("tile_terms")
    tt_rows = _entry.queries()["tile_terms"](spark, SF_DIR).count()
    timings["tile_terms"] = time.time() - t0

    t0 = _probe_mark("tile_term_drift")
    drift_rows = _entry.queries()["tile_term_drift"](spark, SF_DIR).count()
    timings["tile_term_drift"] = time.time() - t0

    t0 = _probe_mark("colocation_lift")
    clq_rows = _entry.queries()["colocation_lift"](spark, SF_DIR).count()
    timings["colocation_lift"] = time.time() - t0

    t0 = _probe_mark("colocation_pairs")
    coloc_rows = _entry.queries()["colocation_pairs"](spark, SF_DIR).count()
    timings["colocation_pairs"] = time.time() - t0

    t0 = _probe_mark("od_flows")
    od_rows = _entry.queries()["od_flows"](spark, SF_DIR).count()
    timings["od_flows"] = time.time() - t0

    t0 = _probe_mark("tile_rank")
    tr_rows = _entry.queries()["tile_rank"](spark, SF_DIR).count()
    timings["tile_rank"] = time.time() - t0

    t0 = _probe_mark("covisit_pairs")
    cv_rows = _entry.queries()["covisit_pairs"](spark, SF_DIR).count()
    timings["covisit_pairs"] = time.time() - t0

    t0 = _probe_mark("dwells")
    dw_rows = _entry.queries()["dwells"](spark, SF_DIR).count()
    timings["dwells"] = time.time() - t0

    t0 = _probe_mark("tile_concentration")
    hhi_rows = _entry.queries()["tile_concentration"](spark, SF_DIR).count()
    timings["tile_concentration"] = time.time() - t0

    t0 = _probe_mark("host_spread")
    hs_rows = _entry.queries()["host_spread"](spark, SF_DIR).count()
    timings["host_spread"] = time.time() - t0

    t0 = _probe_mark("repetition_stats")
    from linear_quadtree_spark.operators.clean import (
        boilerplate_ngrams,
        decontaminate,
        pii_demo_text_expr,
        pii_scrub,
        repetition_stats,
    )
    from linear_quadtree_spark.functions.textexpr import SPARK as _SPARK_ENG
    rep_rows = repetition_stats(docs).count()
    timings["repetition_stats"] = time.time() - t0

    t0 = _probe_mark("pii_scrub")
    pii_rows = pii_scrub(
        docs.withColumn("text", F.expr(pii_demo_text_expr(_SPARK_ENG)))
    ).count()
    timings["pii_scrub"] = time.time() - t0

    t0 = _probe_mark("boilerplate_ngrams")
    boiler_rows = boilerplate_ngrams(docs).count()
    timings["boilerplate_ngrams"] = time.time() - t0

    t0 = _probe_mark("decontaminate")
    decon_rows = decontaminate(docs).count()
    timings["decontaminate"] = time.time() - t0

    t0 = _probe_mark("line_dedup")
    from linear_quadtree_spark.operators.clean import line_dedup
    line_dedup_rows = line_dedup(docs).count()
    timings["line_dedup"] = time.time() - t0

    t0 = _probe_mark("extract_text")
    from linear_quadtree_spark.operators.crawl import extract_text
    from linear_quadtree_spark.sources.pages import pages_table
    extract_rows = extract_text(pages_table(spark, SF_DIR)).filter(
        F.col("extracted_text") == F.col("text")
    ).count()
    timings["extract_text"] = time.time() - t0

    t0 = _probe_mark("minhash_lsh")
    mh_rows = minhash_lsh_pairs(corp).count()
    timings["minhash_lsh"] = time.time() - t0

    t0 = _probe_mark("dup_spans")
    from linear_quadtree_spark.operators.dedup import dup_spans
    span_rows = dup_spans(corp).count()
    timings["dup_spans"] = time.time() - t0

    t0 = _probe_mark("dedup_groups")
    from linear_quadtree_spark.operators.components import dedup_groups
    grp_rows = dedup_groups(corp, minhash_lsh_pairs(corp)).count()
    timings["dedup_groups"] = time.time() - t0

    t0 = _probe_mark("simhash_pairs")
    sh_rows = simhash_pairs(corp).count()
    timings["simhash_pairs"] = time.time() - t0

    embs = corpus_embs(spark, SF_DIR)
    t0 = _probe_mark("ann_topk")
    ann_rows = ann_topk_bruteforce(embs, [3, 17, 42, 99, 123, 256, 321, 444], k=10).count()
    timings["ann_topk"] = time.time() - t0

    t0 = _probe_mark("ann_topk_lsh")
    ann_lsh_rows = ann_topk_lsh(embs, [3, 17, 42, 99, 123, 256, 321, 444], k=10).count()
    timings["ann_topk_lsh"] = time.time() - t0

    t0 = _probe_mark("ann_topk_ivf")
    from linear_quadtree_spark.operators.similarity import ann_topk_ivf
    ann_ivf_rows = ann_topk_ivf(
        embs, [3, 17, 42, 99, 123, 256, 321, 444], k=10, stride=None
    ).count()
    timings["ann_topk_ivf"] = time.time() - t0

    t0 = _probe_mark("ann_topk_ivf_km")
    from linear_quadtree_spark.operators.similarity import ann_topk_ivf_kmeans
    ann_km_rows = ann_topk_ivf_kmeans(
        embs, [3, 17, 42, 99, 123, 256, 321, 444], k=10
    ).count()
    timings["ann_topk_ivf_km"] = time.time() - t0

    t0 = _probe_mark("ann_topk_pq")
    from linear_quadtree_spark.operators.similarity import ann_topk_pq
    ann_pq_rows = ann_topk_pq(
        embs, [3, 17, 42, 99, 123, 256, 321, 444], k=10
    ).count()
    timings["ann_topk_pq"] = time.time() - t0

    t0 = _probe_mark("emb_neardup")
    from linear_quadtree_spark.operators.similarity import _make_planes
    nd_rows = emb_neardup_pairs(embs, planes=_make_planes(32), bands=4).count()
    timings["emb_neardup"] = time.time() - t0

    t0 = _probe_mark("semantic_dedup")
    from linear_quadtree_spark.operators.similarity import semantic_dedup
    semded_rows = semantic_dedup(embs).count()
    timings["semantic_dedup"] = time.time() - t0

    # --- media family: header-parse metadata, frame sampling, and the
    # REAL decode path (P6 bytes → pure-Python decode → channel sums),
    # all Arrow-batched mapInPandas over the documents table
    from linear_quadtree_spark.operators.media import (
        decode_metadata,
        image_pixel_stats,
        sample_frames,
        synth_media,
        synth_ppm_media,
    )

    docs_sf = spark.read.parquet(f"{SF_DIR}/documents.parquet")

    t0 = _probe_mark("media_metadata")
    media_meta_rows = decode_metadata(synth_media(docs_sf)).count()
    timings["media_metadata"] = time.time() - t0

    t0 = _probe_mark("media_frames")
    media_frame_rows = sample_frames(synth_media(docs_sf)).count()
    timings["media_frames"] = time.time() - t0

    t0 = _probe_mark("image_pixel_stats")
    pixel_rows = image_pixel_stats(synth_ppm_media(docs_sf)).count()
    timings["image_pixel_stats"] = time.time() - t0

    result = {
        "metric": "lqt_build_throughput_rows_per_sec",
        "value": round(build_rows_per_sec, 1),
        "unit": "rows/sec",
        "queries": {k: round(v, 3) for k, v in timings.items()},
        "sf": SF_DIR,
        "rows": n_rows,
        "cpus": CPUS,
        "host_probe_at_build": probe_at_build,
        "host_probe_post_build": probe_post_build,
        "build_mid_max_bw": round(mid_bw[0], 2),
        "build_mid_max_par8": round(mid_par8[0], 2),
        "build_clean": build_clean,
        "host_probe_per_query": PROBES,
        "aux": {
            "media_meta_rows": media_meta_rows,
            "media_frame_rows": media_frame_rows,
            "pixel_rows": pixel_rows,
            "hexcell_rows": hex_rows,
            "hilbert_rows": hilb_rows,
            "bpe_pair_rows": bpe_rows,
            "bpe_segment_rows": bseg_rows,
            "lm_coverage_rows": lmcov_rows,
            "canonical_url_groups": curl_rows,
            "hits_hosts": hits_rows,
            "kmv_pyramid_rows": kmv_pyr_rows,
            "simplify_kept_rows": simp_rows,
            "simplify_dp_rows": dp_rows,
            "geofence_rows": gf_rows,
            "dbscan_clusters": dbscan_rows,
            "compact_quadrants": compact_rows,
            "adaptive_leaves": adapt_rows,
            "hex_focal_rows": hexf_rows,
            "slippy_quadkey_rows": slippy_rows,
            "geohash_rows": geohash_rows,
            "haversine_site_groups": hav_rows,
            "cdx_rows": cdx_rows,
            "pagerank_hosts": pr_rows,
            "snapshot_diff_rows": sd_rows,
            "ranked_curation_rows": rc_rows,
            "tile_topk_rows": topk_rows,
            "radius_join_sample_rows": rjs_rows,
            "footprint_jaccard_ppm": int(ov.jaccard_ppm),
            "morans_i_z8_ppm": int(moran_row.morans_i * 1_000_000),
            "gi_star_z8_significant": gi_hot,
            "lisa_quadrants": lisa_quads,
            "knox_z": knox_row.knox_z,
            "general_g": gg_row.general_g,
            "geary_c": gc_row.geary_c,
            "quadrat_z": quad_row.quadrat_z,
            "segment_crossing_pairs": cross_rows,
            "scan_top_rr": scan_top[0].rel_risk if scan_top else None,
            "ripley_pairs_rmax": int(ripley_rows[-1].n_pairs),
            "nn_hist_censored": int(
                next(r.n_points for r in nn_hist_rows if r.bin == -1)
            ),
            "cross_k_pairs_rmax": int(xk_rows[-1].n_pairs),
            "join_counts_z_bb": jc_row.z_bb,
            "rog_actors": rog_rows,
            "speed_flag_rows": speed_rows,
            "trip_hist_bins": tlh_rows,
            "tile_transition_cells": tt_trans_rows,
            "anchor_rows": anchor_rows,
            "retention_tiles": retention_rows,
            "tile_gini": gini_row.gini,
            "type_mix_tiles": mix_rows,
            "commute_pairs": commute_rows,
            "diurnal_tiles": diurnal_rows,
            "time_cube_rows": cube_rows,
            "decay_bins": decay_rows,
            "user_jaccard_pairs": ujp_rows,
            "idw_grid_cells": idw_rows,
            "zonal_rows": zonal_rows,
            "mk_trend_classes": {r["trend"]: r["count"] for r in mk_up},
            "theil_sen_tiles": sen_rows,
            "emerging_patterns": {r["pattern"]: r["count"] for r in emerge},
            "tile_terms_rows": tt_rows,
            "tile_term_drift_rows": drift_rows,
            "colocation_rows": coloc_rows,
            "colocation_lift_rows": clq_rows,
            "od_flow_rows": od_rows,
            "tile_rank_rows": tr_rows,
            "covisit_rows": cv_rows,
            "dwell_rows": dw_rows,
            "hhi_rows": hhi_rows,
            "host_spread_rows": hs_rows,
            "anchor_term_rows": at_rows,
            "pip_rows": pip_rows,
            "pip_10kpoly_rows": pip10k_rows,
            "knn_rows": knn_rows,
            "knn_bulk_rows": knn_bulk_rows,
            "tiles": tile_rows,
            "bbox_rows": c,
            "token_stats_rows": ts_rows,
            "quality_rows": qs_rows,
            "exact_dedup_rows": ded_rows,
            "minhash_pairs": mh_rows,
            "dup_span_rows": span_rows,
            "simhash_pairs": sh_rows,
            "ann_rows": ann_rows,
            "ann_lsh_rows": ann_lsh_rows,
            "ann_ivf_km_rows": ann_km_rows,
            "ann_pq_rows": ann_pq_rows,
            "emb_neardup_rows": nd_rows,
            "incremental_bbox_rows": incr_rows,
            "rasterize_rows": rast_rows,
            "polygon_iou_pairs": iou_rows,
            "tile_activity_rows": ta_rows,
            "incremental_dedup_rows": incr_ded_rows,
            "vocab_rows": vocab_rows,
            "tfidf_rows": tfidf_rows,
            "bm25_rows": bm25_rows,
            "curated_rows": curated_rows,
            "extract_identical_rows": extract_rows,
            "dedup_group_rows": grp_rows,
            "focal_rows": focal_rows,
            "substrate_tiles_z8": substrate_rows,
            "asof_rows": asof_rows,
            "repetition_rows": rep_rows,
            "pii_rows": pii_rows,
            "boilerplate_rows": boiler_rows,
            "decontaminate_rows": decon_rows,
            "tile_quality_rollup_rows": rollup_rows,
        },
    }
    spark.stop()

    # Full detail (per-query probes, aux row counts) goes to a file; the
    # FINAL stdout line is a compact headline guaranteed < 1,500 chars so
    # the driver's tail buffer (2,000 chars) can parse it (round-3 record
    # was lost to a 9.9 KB line).
    detail_path = Path(__file__).resolve().parent / "BENCH_FULL.json"
    detail_path.write_text(json.dumps(result, indent=1))

    headline_queries = [
        "bbox_x3",
        "pip_join",
        "knn_bulk_10k",
        "tile_stats_z8",
        "exact_dedup",
        "minhash_lsh",
        "simhash_pairs",
        "zorder_cluster",
        "distance_join_r01",
        "focal_smooth_z8",
    ]
    compact = {
        "metric": result["metric"],
        "value": result["value"],
        "unit": result["unit"],
        "queries": {
            k: result["queries"][k]
            for k in headline_queries
            if k in result["queries"]
        },
        "sf": result["sf"],
        "rows": result["rows"],
        "cpus": result["cpus"],
        "build_clean": result["build_clean"],
        "n_timed_queries": len(result["queries"]),
        "detail_file": detail_path.name,
    }
    line = json.dumps(compact)
    # the final stdout line MUST stay parseable inside the driver's 2,000
    # char tail buffer — if a future field pushes it over, DEGRADE (drop
    # the per-query timings, then truncate-proof minimal fields) rather
    # than raise: an exception here would lose the whole record, the
    # exact round-3 failure this line exists to fix
    if len(line) >= 1500:
        compact.pop("queries", None)
        line = json.dumps(compact)
    if len(line) >= 1500:
        line = json.dumps({
            "metric": compact["metric"], "value": compact["value"],
            "unit": compact["unit"], "sf": compact["sf"],
            "build_clean": compact["build_clean"],
        })
    print(line)


if __name__ == "__main__":
    main()
