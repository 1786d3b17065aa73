"""Benchmark harness at $SPARK_GRAFT_SF_DIR (default sf0.1) on
local[$SPARK_GRAFT_CPUS] (default: this host's core count).

Two measurements, one session:

* the headline LQT build (encode + range-partition + sort over one point
  per lineitem row, BASELINE.json), materialized via the noop sink so the
  full plan executes without write-format overhead, and measured under
  `jobs/scaling_bench.py`'s probe gate and in-flight monitors;
* one loop over the registry (`__spark_entry__.QUERIES`): each query is
  materialized via the same noop sink, so every output column is
  computed. `--family=NAME` (repeatable) narrows the loop.

The full record (per-query seconds, per-query host probes) goes to
BENCH_FULL.json, or BENCH_FAMILY.json with --family; stdout's last line
is a compact JSON headline. The gated, seeded, answer-checked benchmark
is `perfbench/run.py`.

Usage:
  python bench.py                  # build + all registry queries
  python bench.py --family=core    # build + the `core` family only
"""

from __future__ import annotations

import json
import os
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent
sys.path.insert(0, str(ROOT))

from pyspark.sql import functions as F

import __spark_entry__ as entrymod
from jobs.scaling_bench import gated_measure, probe
from linear_quadtree_spark import DEFAULT_BOUNDS
from linear_quadtree_spark.functions.geotag import geotag_x, geotag_y
from linear_quadtree_spark.operators.build import LQTTable
from linear_quadtree_spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count())
#: longest wait for a quiet host window before the headline build
GATE_S = 300.0
#: registry queries the compact stdout line carries
HEADLINE_QUERIES = (
    "bbox_query", "pip_join", "knn", "tile_stats", "exact_dedup",
    "minhash_lsh_pairs", "simhash_pairs", "zorder_key_stats",
    "distance_join", "focal_smooth",
)


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


#: probe triple taken immediately before each timed section — per-query
#: disclosure of the host conditions every number was measured under
#: (VERDICT r2: the r2 bench was taken in a contaminated window and the
#: contamination was only visible on the one pre-build probe)
PROBES: dict[str, list] = {}


def _probe_mark(name: str) -> float:
    """Record the pre-section host probe triple and start the clock."""
    PROBES[name] = [round(x, 2) for x in probe()]
    return time.time()


def _selected(families: set[str]) -> list[str]:
    """Registry names in table order, narrowed to `families` when given.
    An unknown family is a usage error, raised before Spark starts."""
    unknown = families - {q.family for q in entrymod.QUERIES}
    if unknown:
        raise SystemExit(f"unknown --family values: {sorted(unknown)}")
    return [q.name for q in entrymod.QUERIES
            if not families or q.family in families]


def _emit(detail: dict, path: Path) -> None:
    """Write the full record to `path`, then print ONE compact JSON line.

    The line must stay parseable inside a 2,000-char tail buffer (the
    round-3 record was lost to a 9.9 KB line), so past 1,500 chars it
    DEGRADES — dropping fields from the end of the priority order below,
    per-query timings first — rather than raise and lose the record."""
    path.write_text(json.dumps(detail, indent=1))
    q = detail["queries"]
    compact = {k: detail[k] for k in (
        "metric", "value", "unit", "build_clean", "rows", "cpus")}
    compact["n_timed_queries"] = len(q)
    compact["detail_file"] = path.name
    compact["sf"] = detail["sf"]
    compact["queries"] = {k: q[k] for k in HEADLINE_QUERIES if k in q}
    line = json.dumps(compact)
    while len(line) >= 1500 and len(compact) > 3:
        compact.popitem()
        line = json.dumps(compact)
    print(line)


def main() -> None:
    families = {
        a.split("=", 1)[1] for a in sys.argv[1:] if a.startswith("--family=")
    }
    names = _selected(families)
    spark = get_spark(
        app_name="lqt-bench",
        master=f"local[{CPUS}]",
        shuffle_partitions=max(CPUS, 32),
        extra_conf={"spark.ui.enabled": "false"},
    )
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
    def build() -> LQTTable:
        tbl = LQTTable.build(pts, DEFAULT_BOUNDS, tiebreaker="pid",
                             persist=False, eager_count=False)
        materialize(tbl.main.unionByName(tbl.side))
        return tbl

    tbl, gate = gated_measure(build, GATE_S)
    tbl.unpersist()
    PROBES["build"] = gate["probe_pre"]
    timings = {"build": round(gate["wall_s"], 3)}

    qs = entrymod.queries()
    for name in names:
        t0 = _probe_mark(name)
        materialize(qs[name](spark, SF_DIR))
        timings[name] = round(time.time() - t0, 3)
    spark.stop()

    _emit({
        "metric": "lqt_build_throughput_rows_per_sec",
        "value": round(n_rows / gate["wall_s"], 1),
        "unit": "rows/sec",
        "queries": timings,
        "families": sorted(families),
        "sf": SF_DIR,
        "rows": n_rows,
        "cpus": CPUS,
        "build_clean": gate["clean"],
        "build_gate": {k: v for k, v in gate.items() if k != "wall_s"},
        "host_probe_per_query": PROBES,
    }, ROOT / ("BENCH_FAMILY.json" if families else "BENCH_FULL.json"))


if __name__ == "__main__":
    main()
