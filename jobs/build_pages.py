"""End-to-end production job: build the linear quadtree over the page
table, persist it + per-partition lineage metrics, and answer a bbox
query off the saved layout.

Deployment shape (north rule): `spark-submit --py-files lqt.zip
jobs/build_pages.py --sf-dir /root/testdata/sf0.01 --out /tmp/lqt_pages`.
On a cluster the same file runs unchanged with `--master yarn/k8s` and
an Iceberg --out location; everything below is master-agnostic.

Checkpoint-resumability: each stage writes to its own idempotent
location and is skipped when its _SUCCESS marker already exists, so a
re-run after a failure resumes at the first incomplete stage (the batch
counterpart of the streaming checkpoint tested in tests/test_streaming.py).
"""

from __future__ import annotations

import argparse
import json
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from linear_quadtree_spark import DEFAULT_BOUNDS  # noqa: E402
from linear_quadtree_spark.operators.build import LQTTable  # noqa: E402
from linear_quadtree_spark.operators.spatial import bbox_query  # noqa: E402
from linear_quadtree_spark.session import get_spark  # noqa: E402
from linear_quadtree_spark.sources.pages import pages_table  # noqa: E402


def stage_done(path: str) -> bool:
    return (Path(path) / "main" / "_SUCCESS").exists()


def metrics_done(path: str) -> bool:
    """The metrics append is its own stage with its own completion marker:
    a crash between save() and log_metrics() must not leave a build that
    permanently skips metrics on re-run."""
    return (Path(path) / "metrics" / "_SUCCESS").exists()


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.001")
    ap.add_argument("--out", required=True)
    ap.add_argument("--partitions", type=int, default=None)
    ap.add_argument("--bbox", default="1020,1045,1030,1070")
    ap.add_argument(
        "--partition-level", type=int, default=None,
        help="Hive-partition main by the level-N quadrant directory "
        "(directory pruning for range queries; Iceberg-partition analog)",
    )
    args = ap.parse_args()

    spark = get_spark(app_name="lqt-build-pages")
    t0 = time.time()

    build_id = f"build-{Path(args.out).name}"
    def _load(path):
        if args.partition_level is not None:
            return LQTTable.load_partitioned(
                spark, path, level=args.partition_level,
                bounds=DEFAULT_BOUNDS, tiebreaker="doc_id",
            )
        return LQTTable.load(spark, path, DEFAULT_BOUNDS, tiebreaker="doc_id")

    if stage_done(args.out):
        print(f"stage build: SKIP (resume — {args.out} complete)", file=sys.stderr)
        tbl = _load(args.out)
        if not metrics_done(args.out):
            # resume at the first incomplete stage: the metrics append
            # (partition ids then describe the durable saved layout —
            # which is what downstream lineage consumers read anyway)
            tbl.log_metrics(f"{args.out}/metrics", build_id)
            print("stage metrics: DONE (resumed)", file=sys.stderr)
    else:
        pages = pages_table(spark, args.sf_dir)
        tbl = LQTTable.build(
            pages,
            DEFAULT_BOUNDS,
            tiebreaker="doc_id",
            num_partitions=args.partitions,
            persist=False,
        )
        if args.partition_level is not None:
            tbl.save_partitioned(args.out, level=args.partition_level)
        else:
            tbl.save(args.out)
        tbl.log_metrics(f"{args.out}/metrics", build_id)
        print(f"stage build: DONE in {time.time()-t0:.1f}s", file=sys.stderr)
        tbl = _load(args.out)

    x0, x1, y0, y1 = (float(v) for v in args.bbox.split(","))
    rows = bbox_query(tbl, x0, x1, y0, y1).count()
    print(
        json.dumps(
            {
                "build_id": build_id,
                "wall_s": round(time.time() - t0, 2),
                "bbox": [x0, x1, y0, y1],
                "bbox_rows": rows,
                "main_rows": tbl.main.count(),
                "side_rows": tbl.side.count(),
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
