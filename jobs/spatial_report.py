"""Production batch job: the daily SPATIAL situation report — the
geospatial twin of jobs/corpus_report.py, composing the engine's
spatial-statistics layer into one diffable JSON document.

Deployment shape (north rule): `spark-submit --py-files lqt.zip
jobs/spatial_report.py --sf-dir <dir> --out report.json`. One session,
registry operators throughout (each hash-verifiable against its DuckDB
oracle twin), caches released between sections:

* build health: per-quadrant row balance of the built tree,
* densest tiles (tile_stats top-k),
* statistically significant hot spots (Getis–Ord Gi* |z| >= 1.96),
* space-time dynamics: emerging-hot-spot pattern counts + the top
  space-time scan cylinder (exact relative risk),
* movement: top origin→destination flows,
* distinct-visitor pyramid (KMV sketch): per-zoom totals,
* geofence activity: enter/exit counts for the standing fence,
* spherical reach: pages within the cap of each site (S2 cover).
"""

from __future__ import annotations

import argparse
import json
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from pyspark.sql import functions as F  # noqa: E402

from linear_quadtree_spark.session import get_spark  # noqa: E402


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    ap.add_argument("--out", default="-")
    args = ap.parse_args()

    import __spark_entry__ as registry

    spark = get_spark(app_name="spatial-report")
    t0 = time.time()
    report: dict = {"sf_dir": args.sf_dir}
    q = registry.queries()

    quads = q["lqt_build_stats"](spark, args.sf_dir).collect()
    report["build_quadrants"] = {
        int(r.quad): int(r.n_points) for r in quads
    }

    top_tiles = (
        q["tile_stats"](spark, args.sf_dir)
        .orderBy(F.col("n_points").desc(), "tile_id")
        .limit(10)
        .collect()
    )
    report["densest_tiles"] = [
        {"tile": int(r.tile_id), "n": int(r.n_points)} for r in top_tiles
    ]

    gi = q["gi_star_hotspots"](spark, args.sf_dir).collect()
    hot = [r for r in gi if r.gi_z >= 1.96]
    cold = [r for r in gi if r.gi_z <= -1.96]
    report["gi_star"] = {
        "tiles": len(gi),
        "hot_spots": len(hot),
        "cold_spots": len(cold),
        "top_hot": [
            {"tile": int(r.tile_id), "z": round(float(r.gi_z), 3)}
            for r in sorted(hot, key=lambda r: -r.gi_z)[:5]
        ],
    }

    emer = q["emerging_hotspots"](spark, args.sf_dir).collect()
    pat: dict = {}
    for r in emer:
        pat[r.pattern] = pat.get(r.pattern, 0) + 1
    report["emerging_patterns"] = pat

    scan = (
        q["spacetime_scan"](spark, args.sf_dir)
        .orderBy(F.col("rel_risk").desc(), "tile")
        .limit(1)
        .collect()
    )
    if scan:
        r = scan[0]
        report["top_cylinder"] = {
            "tile": int(r.tile),
            "win_start": int(r.win_start),
            "win_len_days": int(r.win_len_days),
            "obs": int(r.obs),
            "rel_risk": round(float(r.rel_risk), 4),
        }

    flows = (
        q["od_flows"](spark, args.sf_dir)
        .orderBy(F.col("n_trips").desc(), "tile_from", "tile_to")
        .limit(5)
        .collect()
    )
    report["top_flows"] = [
        {"from": int(r.tile_from), "to": int(r.tile_to), "n": int(r.n_trips)}
        for r in flows
    ]

    pyr = q["tile_kmv_visitors"](spark, args.sf_dir).collect()
    by_level: dict = {}
    for r in pyr:
        d = by_level.setdefault(int(r.level), {"tiles": 0, "est_visitors_sum": 0})
        d["tiles"] += 1
        d["est_visitors_sum"] += int(r.est_distinct)
    report["visitor_pyramid"] = by_level

    gf = q["geofence_transitions"](spark, args.sf_dir).collect()
    report["geofence"] = {
        "enters": sum(1 for r in gf if r.kind == "enter"),
        "exits": sum(1 for r in gf if r.kind == "exit"),
        "users": len({r.user_id for r in gf}),
    }

    caps = q["s2real_cap_query"](spark, args.sf_dir).collect()
    report["site_reach"] = {
        r.site: int(r.n_pages) for r in sorted(caps, key=lambda r: r.site)
    }

    report["wall_s"] = round(time.time() - t0, 2)
    doc = json.dumps(report)
    if args.out == "-":
        print(doc)
    else:
        Path(args.out).write_text(doc)
        print(doc)
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
