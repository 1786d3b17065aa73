"""Plan-shape audits: the scale contracts SCALE.md promises, asserted
on the EXECUTED physical plans so a regression that silently adds a
shuffle, drops a broadcast, or breaks scan-level filter pushdown fails
CI — not a 1000-executor cluster.

These parse `queryExecution.executedPlan` strings: coarse, but the
properties asserted (operator counts, pushed-filter presence) are
stable across Spark 3.5/4.x plan renderings.
"""

import pytest
from pyspark.sql import functions as F

from linear_quadtree_spark import DEFAULT_BOUNDS
from linear_quadtree_spark.functions.geotag import geotag_x, geotag_y
from linear_quadtree_spark.operators import LQTTable


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _pts(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return docs.select(
        "doc_id", geotag_x("doc_id").alias("x"), geotag_y("doc_id").alias("y")
    )


@pytest.fixture(scope="module")
def tbl(spark, sf_dir):
    t = LQTTable.build(_pts(spark, sf_dir), DEFAULT_BOUNDS, tiebreaker="doc_id")
    yield t
    t.unpersist()


def test_nearest_site_is_map_only(spark, sf_dir):
    from linear_quadtree_spark.operators.spatial import nearest_site

    plan = _plan(nearest_site(_pts(spark, sf_dir), [(0, 1010.0, 1010.0), (1, 1090.0, 1090.0)]))
    assert "Exchange" not in plan
    assert "BroadcastExchange" not in plan


def test_stratified_sample_filter_reaches_scan(spark, sf_dir):
    from linear_quadtree_spark.operators.text import stratified_sample

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = stratified_sample(docs, {"en": 5000}, default_pm=0).select("doc_id", "lang")
    plan = _plan(out)
    assert "Exchange" not in plan
    # column pruning: the text payload must not be read for an id/lang query
    assert "ReadSchema" in plan and "text" not in plan.split("ReadSchema")[1][:200]


def test_asof_join_single_exchange(spark):
    from linear_quadtree_spark.operators.asof import asof_join

    p = spark.createDataFrame([("a", 1, 10)], "k: string, pid: long, pts: long")
    v = spark.createDataFrame([("a", 5, "x")], "k: string, vts: long, payload: string")
    plan = _plan(asof_join(p, v, ["k"], "pts", "vts", ["payload"]))
    assert plan.count("Exchange") == 1
    assert plan.count("Window") == 1


def test_bbox_prunes_scan_with_pushed_filters(spark, tbl):
    from linear_quadtree_spark.operators.spatial import bbox_query

    plan = _plan(bbox_query(tbl, 1020.0, 1045.0, 1030.0, 1070.0))
    # zs-range predicates must exist as data filters (in-memory relation
    # here; on parquet/Iceberg the same predicates become PushedFilters)
    assert "zs#" in plan and "Filter" in plan


def test_saved_table_bbox_scan_prunes_row_groups(spark, tmp_path):
    """The Iceberg catalog can't run in this sandbox (SURVEY §7 fallback);
    this proves the parquet path delivers the equivalent file/row-group
    pruning ON REAL FOOTERS: save a built table, plan a small bbox query,
    and (1) the zs range predicates reach the parquet scan as
    PushedFilters, (2) the cover intersects only a small fraction of the
    stored rows by row-group min/max stats — the exact mechanism (sorted
    layout + footer stats) Iceberg file pruning uses, one level down."""
    import glob

    import pyarrow.parquet as pq

    from linear_quadtree_spark.operators.spatial import bbox_query

    pts = spark.range(60_000).select(
        F.col("id").alias("pid"),
        geotag_x("pid").alias("x"),
        geotag_y("pid").alias("y"),
    )
    t = LQTTable.build(pts, DEFAULT_BOUNDS, tiebreaker="pid", persist=False)
    path = str(tmp_path / "lqt")
    t.save(path)
    loaded = LQTTable.load(spark, path, DEFAULT_BOUNDS, tiebreaker="pid")
    rect = (1020.0, 1025.0, 1030.0, 1035.0)  # 0.25% of the domain area
    out = bbox_query(loaded, *rect)

    plan = _plan(out)
    assert "PushedFilters" in plan
    assert "zs" in plan.split("PushedFilters", 1)[1][:4000]

    ranges = loaded.cover(*rect)
    tot_groups = hit_groups = tot_rows = hit_rows = 0
    for f in glob.glob(f"{path}/main/*.parquet"):
        md = pq.ParquetFile(f).metadata
        idx = md.schema.names.index("zs")
        for g in range(md.num_row_groups):
            st = md.row_group(g).column(idx).statistics
            rows = md.row_group(g).num_rows
            tot_groups += 1
            tot_rows += rows
            if any(st.max >= r.lo and st.min <= r.hi for r in ranges):
                hit_groups += 1
                hit_rows += rows
    assert tot_groups >= 8, "fixture must produce a multi-row-group table"
    assert hit_rows <= 0.25 * tot_rows, (
        f"cover hit {hit_rows}/{tot_rows} rows in "
        f"{hit_groups}/{tot_groups} row groups — layout is not pruning"
    )

    # and the pruned scan still answers exactly
    exp = (
        spark.read.parquet(f"{path}/main")
        .unionByName(spark.read.parquet(f"{path}/side"))
        .filter(
            (F.col("x") >= rect[0]) & (F.col("x") <= rect[1])
            & (F.col("y") >= rect[2]) & (F.col("y") <= rect[3])
        )
        .count()
    )
    assert out.count() == exp


def test_text_ops_no_shuffle_no_python(spark, sf_dir):
    from linear_quadtree_spark.operators.text import quality_score, token_stats

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    for op in (token_stats, quality_score):
        plan = _plan(op(docs))
        assert "Exchange" not in plan, op.__name__
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, op.__name__


def test_tile_stats_partial_aggregation(spark, tbl):
    from linear_quadtree_spark.operators.spatial import tile_stats

    plan = _plan(tile_stats(tbl, zoom=4))
    # one shuffle stage; the main∪side union renders an Exchange node
    # per branch, so allow 2 nodes but never a second aggregate shuffle
    assert plan.count("Exchange") <= 2
    assert "partial" in plan.lower()


def test_pip_join_broadcasts_cover_cells(spark, sf_dir, tbl):
    from linear_quadtree_spark.operators.spatial import point_in_polygon_join
    from linear_quadtree_spark.sources.synth import polygons_df

    out = point_in_polygon_join(tbl, polygons_df(spark, 4))
    plan = _plan(out)
    assert "BroadcastExchange" in plan
    # round-3: the refine is pure JVM (edge-array fold) — the old pandas
    # refine UDF and its driver-collected closure dict are gone. The only
    # Python stage allowed anywhere in the plan is the build's encode,
    # which the cached tbl fixture already materialized.
    assert "EvalPython" not in plan or "InMemoryTableScan" in plan


def test_stored_media_scan_prunes_binary_payload(spark, sf_dir, tmp_path):
    from linear_quadtree_spark.operators.media import synth_media

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    path = str(tmp_path / "media")
    synth_media(docs).write.parquet(path)
    # metadata-only query over the STORED table: the binary payload
    # column must be pruned out of the parquet scan entirely
    plan = _plan(spark.read.parquet(path).select("doc_id", "media_type"))
    assert "ReadSchema" in plan
    assert "payload" not in plan.split("ReadSchema")[1]


def test_clean_map_ops_no_shuffle_no_python(spark, sf_dir):
    from linear_quadtree_spark.functions.textexpr import SPARK
    from linear_quadtree_spark.operators.clean import (
        pii_demo_text_expr,
        pii_scrub,
        repetition_stats,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    demo = docs.withColumn("text", F.expr(pii_demo_text_expr(SPARK)))
    for name, df in (
        ("repetition_stats", repetition_stats(docs)),
        ("pii_scrub", pii_scrub(demo)),
    ):
        plan = _plan(df)
        assert "Exchange" not in plan, name
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, name


def test_boilerplate_broadcasts_hot_gram_set(spark, sf_dir):
    from linear_quadtree_spark.operators.clean import boilerplate_ngrams

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    plan = _plan(boilerplate_ngrams(docs))
    # the >= min_docs gram set must come back as a broadcast, and the
    # posting relation must shuffle only for the doc-frequency aggregate
    # (+ the final per-doc aggregate and left join) — never a sort-merge
    # join of two exploded posting relations
    assert "BroadcastExchange" in plan


def test_decontaminate_broadcasts_benchmark(spark, sf_dir):
    from linear_quadtree_spark.operators.clean import decontaminate

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    plan = _plan(decontaminate(docs))
    assert "BroadcastExchange" in plan


def test_surt_sorted_scan_prunes_row_groups(spark, tmp_path):
    """SCALE.md's CDX claim, proven on real footers: a surt-sorted table
    answers a prefix range scan with (1) the string-range predicates
    pushed to the parquet scan and (2) only the row groups whose
    surt_key min/max intersect [prefix, prefix+1) touched — the same
    sorted-layout + footer-stats mechanism the zkey bbox test proves,
    in string space."""
    import glob

    import pyarrow.parquet as pq

    from linear_quadtree_spark.functions.textexpr import SPARK as SENG
    from linear_quadtree_spark.operators.crawl import (
        cdx_prefix_bounds,
        surt_key_expr,
        url_variants_expr,
    )

    docs = spark.range(40_000).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("src"), (F.col("id") % 100).cast("string")).alias("source"),
    )
    u = url_variants_expr(SENG, "doc_id", "source")
    caps = docs.withColumn("url", F.expr(u)).withColumn(
        "surt_key", F.expr(surt_key_expr(SENG, "url"))
    )
    path = str(tmp_path / "cdx")
    (
        caps.repartitionByRange(16, "surt_key")
        .sortWithinPartitions("surt_key")
        .write.parquet(path)
    )

    lo, hi = cdx_prefix_bounds("org,example)/src1")  # src1 + src10..19
    scan = spark.read.parquet(path).filter(
        (F.col("surt_key") >= lo) & (F.col("surt_key") < hi)
    )
    plan = _plan(scan)
    assert "PushedFilters" in plan
    assert "surt_key" in plan.split("PushedFilters", 1)[1][:2000]

    tot_rows = hit_rows = tot_groups = 0
    for f in glob.glob(f"{path}/*.parquet"):
        md = pq.ParquetFile(f).metadata
        idx = md.schema.names.index("surt_key")
        for g in range(md.num_row_groups):
            st = md.row_group(g).column(idx).statistics
            rows = md.row_group(g).num_rows
            tot_groups += 1
            tot_rows += rows
            if st.max >= lo and st.min < hi:
                hit_rows += rows
    assert tot_groups >= 8, "fixture must produce a multi-row-group table"
    # ~11% of sources match the prefix; sorted layout confines them to
    # a sliver of row groups (boundary groups included)
    assert hit_rows <= 0.35 * tot_rows, (
        f"prefix hit {hit_rows}/{tot_rows} rows — surt layout not pruning"
    )

    # and the pruned scan still answers exactly
    want = caps.filter(
        (F.col("surt_key") >= lo) & (F.col("surt_key") < hi)
    ).count()
    assert scan.count() == want and want > 0


def test_chunk_documents_is_map_only(spark, sf_dir):
    from linear_quadtree_spark.operators.text import chunk_documents

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    plan = _plan(chunk_documents(docs, window=64, overlap=16))
    assert "Exchange" not in plan          # zero shuffle at any corpus size
    assert "Generate" in plan              # explode stays JVM-side
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_pack_sequences_single_exchange(spark, sf_dir):
    from linear_quadtree_spark.operators.text import pack_sequences

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    plan = _plan(pack_sequences(docs, budget=256, n_buckets=8))
    # ONE hash exchange on the packing bucket feeds both the running-sum
    # window and the rollup (same partitioning → no second shuffle of
    # the doc relation; the final aggregate may add its own exchange on
    # (bucket, seq_id) but never re-shuffles raw docs)
    assert plan.count("Exchange hashpartitioning(bucket#") == 1
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    # column pruning: only doc_id + text leave the scan
    assert "ReadSchema" in plan and "lang" not in plan.split("ReadSchema")[1][:300]


def test_mixture_sample_broadcasts_rate_table(spark, sf_dir):
    from linear_quadtree_spark.operators.text import mixture_sample

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    plan = _plan(mixture_sample(docs))
    # the per-stratum rate table must ride a broadcast join — the doc
    # relation is never hash-exchanged on the join key
    assert "BroadcastHashJoin" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_semantic_dedup_shuffles_corpus_once_per_side(spark, sf_dir):
    from linear_quadtree_spark.operators.similarity import semantic_dedup
    from linear_quadtree_spark.sources.synth import corpus_embs
    from linear_quadtree_spark.cache import release_caches

    plan = _plan(semantic_dedup(corpus_embs(spark, sf_dir)))
    # centroids ride broadcasts; the big side is hash-exchanged on
    # list_id for the pair scan and the dropped-id set broadcasts back —
    # there must be no SortMergeJoin of the corpus against itself on id
    assert "BroadcastHashJoin" in plan
    assert plan.count("Exchange hashpartitioning(list_id#") <= 2  # x and y side
    release_caches()


def test_host_pagerank_static_jvm_plan(spark, sf_dir):
    """The unrolled PageRank must be one static JVM plan: no Python
    evaluation anywhere, the cached edges⋈degree relation reused from
    memory (InMemoryTableScan), and the thin rank side — never the
    edge relation — re-exchanged per round."""
    from linear_quadtree_spark.operators.graph import host_link_edges, pagerank

    out = pagerank(host_link_edges(spark, sf_dir))
    out.count()  # populate the tracked caches so the executed plan shows them
    plan = _plan(out)
    assert "PythonUDF" not in plan and "BatchEvalPython" not in plan
    assert "InMemoryTableScan" in plan


def test_ann_topk_pq_broadcasts_lut_and_stays_jvm(spark, sf_dir):
    """PQ/ADC: the codebook and LUT sides must broadcast (the corpus-
    sized code relation is never re-shuffled onto them) and the whole
    operator must stay JVM-side — quantization, encode, ADC, and
    rerank are Catalyst expressions, not Python."""
    from linear_quadtree_spark.operators.similarity import ann_topk_pq
    from linear_quadtree_spark.sources.synth import corpus_embs

    out = ann_topk_pq(corpus_embs(spark, sf_dir), [3, 17], k=5)
    out.count()
    plan = _plan(out)
    assert "PythonUDF" not in plan and "BatchEvalPython" not in plan
    assert "BroadcastHashJoin" in plan


def test_snapshot_diff_single_join_and_pruned_scans(spark, sf_dir):
    """Snapshot diff: exactly ONE join (the full-outer on the url key),
    and the parquet scans must read only the columns the slim
    fingerprint projection needs — never n_chars / lang."""
    from linear_quadtree_spark.operators.crawl import snapshot_diff, snapshot_pair

    old, new = snapshot_pair(spark, sf_dir)
    plan = _plan(snapshot_diff(old, new))
    assert plan.count("SortMergeJoin") + plan.count("ShuffledHashJoin") == 1
    assert "FullOuter" in plan
    for seg in plan.split("ReadSchema")[1:]:
        head = seg[:220]
        assert "n_chars" not in head and "lang" not in head


def test_hilbert_bbox_filters_cached_column_not_inlined_chain(spark, sf_dir):
    """Regression guard for the clustering-key contract: the registry's
    hilbert_bbox must filter the TRACKED/CACHED hkey column — if the
    25-range OR-of-BETWEEN ever inlines the 18-step key transform
    instead, the collapsed expression tree grows combinatorially and
    the optimizer stalls for minutes (observed before the fix)."""
    import importlib.util

    spec = importlib.util.spec_from_file_location(
        "entry_for_plan_test", "/root/repo/__spark_entry__.py"
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    out = mod.queries()["hilbert_bbox"](spark, sf_dir)
    plan = _plan(out)
    assert "InMemoryTableScan" in plan


def test_tile_topk_window_group_limit(spark, sf_dir):
    """The serving top-k per tile must compile to WindowGroupLimit (each
    map task forwards <= k rows per tile before the exchange) with no
    Python evaluation — the shuffle moves O(tiles*k), not the corpus."""
    import __spark_entry__ as entrymod

    out = entrymod.queries()["tile_topk"](spark, sf_dir)
    plan = _plan(out)
    assert "WindowGroupLimit" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert plan.count("Exchange hashpartitioning") == 1


def test_partitioned_table_prunes_directories(spark, tmp_path):
    """save_partitioned/load_partitioned: a quadrant-confined bbox query
    over the Hive-partitioned table (1) returns exactly the same rows as
    the unpartitioned path, (2) carries the quad predicate as a
    PartitionFilter — whole directories prune BEFORE any parquet footer
    is read (the Iceberg partition-pruning mechanism on the parquet
    fallback), and (3) the partition count on disk is the full 4^level."""
    import glob

    from linear_quadtree_spark.operators.spatial import bbox_query

    pts = spark.range(60_000).select(
        F.col("id").alias("pid"),
        geotag_x("pid").alias("x"),
        geotag_y("pid").alias("y"),
    )
    t = LQTTable.build(pts, DEFAULT_BOUNDS, tiebreaker="pid", persist=False)
    path = str(tmp_path / "lqt_part")
    t.save_partitioned(path, level=1)
    assert len(glob.glob(f"{path}/main/quad=*")) == 4
    loaded = LQTTable.load_partitioned(
        spark, path, level=1, bounds=DEFAULT_BOUNDS, tiebreaker="pid"
    )
    rect = (1020.0, 1025.0, 1030.0, 1035.0)  # wholly inside quadrant 0
    out = bbox_query(loaded, *rect)
    plan = _plan(out)
    seg = plan.split("PartitionFilters", 1)
    assert len(seg) == 2 and "quad" in seg[1][:300]
    # the quad set for this rect is a single directory
    assert loaded.quad_runs_for_ranges(loaded.cover(*rect), 1) == [(0, 0)]
    # result parity with the unpartitioned path
    exp = sorted(r.pid for r in bbox_query(t, *rect).collect())
    got = sorted(r.pid for r in out.collect())
    assert got == exp and len(got) > 0
    t.unpersist()


def test_partitioned_table_full_consumers_unaffected(spark, tmp_path):
    """Regression (review finding): the quad partition column must not
    leak into `main` — tiles(), occupancy_hist(), and knn over a
    load_partitioned table must work and match the unpartitioned path."""
    from linear_quadtree_spark.operators.spatial import knn_join, occupancy_hist

    pts = spark.range(20_000).select(
        F.col("id").alias("pid"),
        geotag_x("pid").alias("x"),
        geotag_y("pid").alias("y"),
    )
    t = LQTTable.build(pts, DEFAULT_BOUNDS, tiebreaker="pid", persist=False)
    path = str(tmp_path / "lqt_part2")
    t.save_partitioned(path, level=1)
    loaded = LQTTable.load_partitioned(
        spark, path, level=1, bounds=DEFAULT_BOUNDS, tiebreaker="pid"
    )
    assert "quad" not in loaded.main.columns
    exp_tiles = sorted(tuple(r) for r in t.tiles(3).groupBy("tile_id").count().collect())
    got_tiles = sorted(
        tuple(r) for r in loaded.tiles(3).groupBy("tile_id").count().collect()
    )
    assert got_tiles == exp_tiles
    exp_occ = sorted(tuple(r) for r in occupancy_hist(t, 3).collect())
    got_occ = sorted(tuple(r) for r in occupancy_hist(loaded, 3).collect())
    assert got_occ == exp_occ
    qs = [(0, 1010.0, 1010.0), (1, 1090.0, 1090.0)]
    qdf = spark.createDataFrame(qs, "qid: long, qx: double, qy: double")
    exp_knn = sorted(
        (r.qid, r.pid) for r in knn_join(t, qdf, k=3).collect()
    )
    got_knn = sorted(
        (r.qid, r.pid) for r in knn_join(loaded, qdf, k=3).collect()
    )
    assert got_knn == exp_knn and len(got_knn) == 6
    t.unpersist()


def test_spacetime_scan_topk_not_full_sort(spark, sf_dir):
    from linear_quadtree_spark.operators.spacetime import spacetime_scan

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    plan = _plan(spacetime_scan(ev, zoom=3, k=10))
    # ranking must compile to a top-k, never a global sort of all
    # cylinders
    assert "TakeOrderedAndProject" in plan
    assert plan.count("Sort ") == 0  # top-k never plans a full sort
    # margins are broadcast equi-joins; the single nested-loop allowed
    # is the broadcast of the 1-row n_total scalar onto the cylinders
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastNestedLoopJoin") <= 1


def test_knox_no_nested_loop_joins(spark, sf_dir):
    from linear_quadtree_spark.operators.spacetime import knox_test

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    plan = _plan(knox_test(ev, r=3.0, dt_s=3600))
    # the three pair counts are bucketed equi-joins; nested-loop
    # shapes may appear ONLY as 1-row scalar combiners (n_pairs /
    # n_close_* are single-row aggregates crossed together), never on
    # the event-pair side
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastNestedLoopJoin") <= 3
    assert (
        plan.count("SortMergeJoin")
        + plan.count("ShuffledHashJoin")
        + plan.count("BroadcastHashJoin")
        >= 2
    )


def test_emerging_hotspots_no_inequality_join(spark, sf_dir):
    from linear_quadtree_spark.operators.spacetime import emerging_hotspots

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    plan = _plan(emerging_hotspots(ev, zoom=3))
    # the dense cube is tiles x broadcast(days) and dmax is a 1-row
    # scalar — those are the only nested-loop shapes, and both must
    # build the broadcast (small) side; never a shuffled cartesian
    assert "CartesianProduct" not in plan
    import re

    for ln in plan.splitlines():
        if "BroadcastNestedLoopJoin" in ln:
            assert re.search(r"Build(Right|Left), Cross", ln), ln
    # the focal gather and MK pair join are true equi-joins
    assert (
        plan.count("SortMergeJoin")
        + plan.count("ShuffledHashJoin")
        + plan.count("BroadcastHashJoin")
        >= 2
    )


def test_focal_smooth_is_join_free(spark, tbl):
    """The 3x3 convolution gathers center attributes inside the scatter
    aggregate (max-of-case on the (0,0) offset row), so the plan must
    contain NO join of any kind and at most the two aggregation
    shuffles (tile agg + gather agg)."""
    from linear_quadtree_spark.operators.spatial import focal_smooth

    plan = _plan(focal_smooth(tbl, zoom=3))
    for join in (
        "SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin",
        "BroadcastNestedLoopJoin", "CartesianProduct",
    ):
        assert join not in plan, join
    # two aggregation shuffles + the substrate's range exchange, which
    # appears nested inside the InMemoryRelation's plan text
    assert plan.count("Exchange") <= 3


def test_gi_star_is_focal_smooth_plus_broadcast_moments(spark, tbl):
    """Gi* reuses focal_smooth's window sums and sizes: no equi-join
    gathers the window, and the one join left is the broadcast of the
    one-row (s1, s2) moments."""
    from linear_quadtree_spark.operators.hotspot import gi_star_hotspots

    plan = _plan(gi_star_hotspots(tbl, zoom=3))
    for join in ("SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin"):
        assert join not in plan, join
    assert plan.count("BroadcastNestedLoopJoin") == 1
    assert "CartesianProduct" not in plan


def test_local_moran_broadcasts_denominator(spark, tbl):
    from linear_quadtree_spark.operators.hotspot import local_moran

    plan = _plan(local_moran(tbl, zoom=3))
    assert "BroadcastExchange" in plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


def test_segment_crossings_equijoin_on_cell(spark):
    from linear_quadtree_spark.operators.trajectory import segment_crossings

    segs = spark.createDataFrame(
        [(1, 1001.0, 1001.0, 1099.0, 1099.0), (2, 1001.0, 1099.0, 1099.0, 1001.0)],
        "sid: long, x1: double, y1: double, x2: double, y2: double",
    )
    plan = _plan(segment_crossings(segs, zoom=4))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # dedup of multi-cell survivors is one aggregate, not a sort-distinct
    assert "HashAggregate" in plan


def test_mobility_profile_branches_hit_cache_not_source(spark, sf_dir):
    """tile_type_mix / tile_diurnal / anchor_tiles branch their small
    keyed aggregate into a rollup side and a rank side; the aggregate is
    tracked-persisted, so BOTH branches must read InMemoryTableScan —
    uncached, each branch re-scans the events source (2 scans measured
    before the fix). Also: no nested-loop join anywhere."""
    from linear_quadtree_spark.cache import release_caches
    from linear_quadtree_spark.operators.spacetime import (
        tile_diurnal,
        tile_type_mix,
    )
    from linear_quadtree_spark.operators.trajectory import anchor_tiles

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    try:
        for op in (tile_type_mix, tile_diurnal, anchor_tiles):
            df = op(ev, zoom=4)
            df.count()
            plan = _plan(df)
            assert plan.count("InMemoryTableScan") >= 2, op.__name__
            assert "BroadcastNestedLoopJoin" not in plan, op.__name__
            assert "CartesianProduct" not in plan, op.__name__
    finally:
        release_caches()


def test_user_jaccard_postings_cached_and_hot_side_broadcasts(spark, sf_dir):
    """user_jaccard_pairs' (user, tile) postings relation feeds the
    size relation, the hot-tile sketch, and both join sides — all four
    consumers must read the tracked cache (6 source scans measured
    uncached); the hot-tile anti-join must build on a broadcast (the
    above-cap set is the tiny side); no nested-loop join."""
    from linear_quadtree_spark.cache import release_caches
    from linear_quadtree_spark.operators.trajectory import user_jaccard_pairs

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    try:
        df = user_jaccard_pairs(ev, zoom=4, tau_pct=15)
        df.count()
        plan = _plan(df)
        assert plan.count("InMemoryTableScan") >= 4
        assert "BroadcastExchange" in plan
        assert "BroadcastNestedLoopJoin" not in plan
        assert "CartesianProduct" not in plan
    finally:
        release_caches()


def test_distance_decay_single_source_pass(spark, sf_dir):
    """distance_decay is a straight chain (window -> pair rollup -> bin
    rollup): exactly ONE source scan, no cache needed, no nested-loop
    join, and the d2 binning stays a whole-stage-codegen projection
    (no Python evaluation node)."""
    from linear_quadtree_spark.operators.trajectory import distance_decay

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    df = distance_decay(ev, zoom=4)
    df.count()
    plan = _plan(df)
    assert plan.count("Scan parquet") == 1
    assert "EvalPython" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_s2cell_stats_single_aggregate_no_udf(spark, sf_dir):
    """Real-S2 encode is a map-only expression chain: the per-cell
    rollup (s2real_stats) must show only the aggregate's shuffles and
    no Python evaluation anywhere."""
    import __spark_entry__ as entry

    plan = _plan(entry._q_s2real_stats(spark, sf_dir))
    assert plan.count("Exchange") <= 2  # distinct-agg rewrite: <= 2 stages
    assert "PythonUDF" not in plan and "ArrowEval" not in plan
    assert "BatchEvalPython" not in plan


def test_bpe_segment_stats_is_map_only(spark, sf_dir):
    from linear_quadtree_spark.operators.tokenizer import bpe_segment_stats

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    plan = _plan(bpe_segment_stats(docs))
    assert "Exchange" not in plan
    assert "PythonUDF" not in plan
    # column pruning: only doc_id + text are read
    assert "ReadSchema" in plan


def test_bpe_pair_stats_single_agg_take_ordered(spark, sf_dir):
    from linear_quadtree_spark.operators.tokenizer import bpe_pair_stats

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    plan = _plan(bpe_pair_stats(docs, k=64))
    # top-k must compile to TakeOrdered, never a global Sort
    assert "TakeOrderedAndProject" in plan
    assert plan.count("Exchange") <= 2


def test_simplify_onepass_single_window_exchange(spark, sf_dir):
    from linear_quadtree_spark.operators.trajectory import simplify_onepass

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    plan = _plan(simplify_onepass(ev))
    assert plan.count("Exchange") == 1
    assert plan.count("Window") == 1
    assert "PythonUDF" not in plan


def test_geofence_single_window_exchange_no_join(spark, sf_dir):
    from linear_quadtree_spark.operators.trajectory import geofence_transitions

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    plan = _plan(geofence_transitions(ev, [17, 18, 21, 22, 33], zoom=4))
    assert plan.count("Exchange") == 1
    assert plan.count("Window") == 1
    # fence membership is an IN expression, never a geometry join
    assert "Join" not in plan


def test_s2_cap_query_broadcasts_ranges_and_sites(spark, sf_dir):
    """The real-S2 cap query's range prefilter must be a broadcast semi
    join (NOT an OR-of-BETWEEN filter over the live chain — the
    documented plan-size blowup), and the site dimension must broadcast."""
    import __spark_entry__ as entry

    plan = _plan(entry._q_s2real_cap(spark, sf_dir))
    assert "BroadcastExchange" in plan
    assert "LeftSemi" in plan
