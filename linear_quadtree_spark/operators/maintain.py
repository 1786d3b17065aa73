"""Incremental maintenance of a built linear-quadtree table: sorted
delta runs + compaction (the LSM / Iceberg merge-on-read shape).

The reference's merge step (`lqt_merge`, lqt.cu:36-91) k-way-merges
independently sorted blocks into one sorted array, and its pipelined
build (`lqt_create_pipelined`, lqt.cu:402-445) encodes+sorts input in
arriving batches. Generalized to *table maintenance* — the operation a
10^12-page crawl table actually needs (a new crawl snapshot lands every
day; re-sorting 100 TB per delta is not a plan):

* each ingested batch becomes its own **run**: a fully built LQT
  relation (encode → range shuffle → per-partition sort) sized to the
  batch, not to the base table — O(delta), never O(base);
* queries read **base ∪ runs**. Every run is individually
  range-partitioned and sorted, so the same zs interval-cover predicate
  prunes every run's files; the reference's eager k-way merge becomes a
  merge *at read time* that costs nothing because candidate unions are
  per-run pruned scans (operators/build.py `candidates`);
* **compaction** folds the runs back into a single base when the run
  count (i.e. per-query file fan-out) grows — the reference's merge,
  run lazily and amortized, exactly Iceberg's rewrite-data-files
  maintenance action.

At cluster scale base and runs are Iceberg snapshots (appends are new
manifests; compaction is a rewrite + atomic snapshot commit). The
sandbox seam is a directory layout::

    path/main, path/side          -- the base (LQTTable.save)
    path/runs/gen=N/{main,side}   -- one sorted run per ingested delta

and compaction swaps directories on the local filesystem; the commit
protocol is the storage layer's job (Iceberg), not the engine's.

Streaming ingest falls out for free: ``foreachBatch`` over any
Structured Streaming source writes each micro-batch as a run through
the identical code path, and the stream checkpoint makes batch→gen
idempotent (a replayed batch overwrites its own gen directory).
"""

from __future__ import annotations

import re
import shutil
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

from linear_quadtree_spark.config import Bounds, DEFAULT_BOUNDS
from linear_quadtree_spark.operators.build import LQTTable

__all__ = [
    "merge_runs",
    "append_run",
    "load_with_runs",
    "list_runs",
    "compact",
    "stream_ingest",
]


def merge_runs(base: LQTTable, *runs: LQTTable) -> LQTTable:
    """Query view over a base table plus delta runs: main = union of
    (individually sorted, range-partitioned) mains, side = union of
    sides. Union is a narrow op — child partitions pass through — so
    per-partition sortedness and per-run range disjointness survive,
    and `candidates()`'s zs predicate pushes into every child scan.
    Global cross-run disjointness does NOT hold (two runs may cover the
    same zs range); no query depends on it — they filter + refine."""
    for r in runs:
        if r.bounds != base.bounds:
            raise ValueError("delta run built with different bounds than base")
    main, side = base.main, base.side
    for r in runs:
        main = main.unionByName(r.main)
        side = side.unionByName(r.side)
    return LQTTable(
        main=main,
        side=side,
        bounds=base.bounds,
        x_col=base.x_col,
        y_col=base.y_col,
        tiebreaker=base.tiebreaker,
    )


def _runs_dir(path: str) -> Path:
    return Path(path) / "runs"


def list_runs(path: str) -> list[int]:
    """Sorted generation ids of the runs present under ``path``."""
    d = _runs_dir(path)
    if not d.is_dir():
        return []
    gens = []
    for p in d.iterdir():
        m = re.fullmatch(r"gen=(\d+)", p.name)
        if m:
            gens.append(int(m.group(1)))
    return sorted(gens)


def append_run(
    delta: DataFrame,
    path: str,
    bounds: Bounds = DEFAULT_BOUNDS,
    x_col: str = "x",
    y_col: str = "y",
    tiebreaker: str | None = None,
    num_partitions: int | None = None,
    gen: int | None = None,
    format: str = "parquet",
) -> int:
    """Ingest one delta batch as a new sorted run; returns its gen id.

    Cost is O(delta): the run's build (encode → range shuffle →
    per-partition sort) never touches the base. ``num_partitions``
    should be sized to the *delta* (bytes/256 MB at cluster scale);
    default is the builder's 2×parallelism. An explicit ``gen`` makes
    the write idempotent — rewriting the same gen replaces that run
    (the foreachBatch/exactly-once hook)."""
    if gen is None:
        existing = list_runs(path)
        gen = (existing[-1] + 1) if existing else 0
    run = LQTTable.build(
        delta, bounds, x_col, y_col, tiebreaker,
        num_partitions=num_partitions,
        persist=False, eager_count=False,
    )
    run.save(str(_runs_dir(path) / f"gen={gen}"), format=format)
    run.unpersist()
    return gen


def load_with_runs(
    spark: SparkSession,
    path: str,
    bounds: Bounds = DEFAULT_BOUNDS,
    x_col: str = "x",
    y_col: str = "y",
    tiebreaker: str | None = None,
    format: str = "parquet",
) -> LQTTable:
    """Load base + every run as one merged query view (see merge_runs)."""
    base = LQTTable.load(spark, path, bounds, x_col, y_col, tiebreaker, format)
    runs = [
        LQTTable.load(spark, str(_runs_dir(path) / f"gen={g}"),
                      bounds, x_col, y_col, tiebreaker, format)
        for g in list_runs(path)
    ]
    return merge_runs(base, *runs)


def compact(
    spark: SparkSession,
    path: str,
    bounds: Bounds = DEFAULT_BOUNDS,
    x_col: str = "x",
    y_col: str = "y",
    tiebreaker: str | None = None,
    num_partitions: int | None = None,
    format: str = "parquet",
) -> int:
    """Fold base + all runs into a fresh single-sorted base (the
    reference's k-way merge, amortized). Re-*sorts* rather than
    merge-reads: a global range shuffle re-balances partition bounds to
    the post-delta distribution, which pure run-merging cannot do —
    skew that arrived in deltas is re-leveled here. Returns the number
    of runs folded.

    Swap is staging-dir + rename on the local FS; on a cluster this is
    Iceberg's rewrite-files + atomic snapshot commit — the engine's
    job is only to produce the rewritten sorted relation."""
    gens = list_runs(path)
    if not gens:
        return 0
    merged = load_with_runs(spark, path, bounds, x_col, y_col, tiebreaker, format)
    full = merged.main.unionByName(merged.side)
    payload = [c for c in full.columns if c not in ("zkey", "zs", "zlvl")]
    rebuilt = LQTTable.build(
        full.select(*payload), bounds, x_col, y_col, tiebreaker,
        num_partitions=num_partitions,
        persist=False, eager_count=False,
    )
    staging = f"{path}/_compact_staging"
    rebuilt.save(staging, format=format)
    rebuilt.unpersist()
    root = Path(path)
    for rel in ("main", "side"):
        shutil.rmtree(root / rel)
        shutil.move(str(Path(staging) / rel), str(root / rel))
    shutil.rmtree(_runs_dir(path))
    shutil.rmtree(staging, ignore_errors=True)
    return len(gens)


def stream_ingest(
    stream: DataFrame,
    path: str,
    checkpoint_dir: str,
    bounds: Bounds = DEFAULT_BOUNDS,
    x_col: str = "x",
    y_col: str = "y",
    tiebreaker: str | None = None,
    num_partitions: int | None = None,
    timeout_sec: int = 300,
) -> None:
    """Continuous ingest: each micro-batch of a streaming point source
    becomes one sorted run via the exact batch code path (`append_run`
    with gen = batch id, so checkpoint replays overwrite their own run
    instead of duplicating it — exactly-once at run granularity).
    Runs to completion of the current backlog (Trigger.AvailableNow);
    the reference's pipelined build (lqt.cu:402-445) with durable
    bookkeeping."""

    def _ingest(batch: DataFrame, batch_id: int) -> None:
        append_run(
            batch, path, bounds, x_col, y_col, tiebreaker,
            num_partitions=num_partitions, gen=int(batch_id),
        )

    q = (
        stream.writeStream.foreachBatch(_ingest)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(timeout_sec)
    if q.isActive:
        q.stop()
        raise TimeoutError(f"stream ingest did not finish in {timeout_sec}s")
    if q.exception() is not None:
        raise q.exception()
