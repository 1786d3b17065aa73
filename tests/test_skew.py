"""Skew handling under the two adversarial key-collapse shapes
(FIXTURES.md `points_skew`, SURVEY §1.3):

* **midline collapse** — rows exactly on the root midpoint (1050, 1050)
  collapse to zkey 0 with zlvl 0 (lqt.cpp:55-65 boundary divergence).
  In this engine those rows are *prefix-unfaithful* and route to the
  side relation at build time, so they can never hot-spot a main
  partition — but queries must still answer exactly over them, and the
  main relation must stay balanced.
* **hot cell** — many rows at one repeated (faithful) coordinate, the
  real-world shape (pages geotagged to a city centroid). These share
  one zs value inside MAIN. The build range-partitions on its sort key,
  ``(zs, tiebreaker)``, so the run splits across partitions with no
  option, and physical ``(zs, key)`` order still holds across them.
"""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from linear_quadtree_spark.config import DEFAULT_BOUNDS
from linear_quadtree_spark.operators.build import LQTTable, STORE_SPLIT_LEVEL, encode_points
from linear_quadtree_spark.operators.spatial import bbox_query, knn_join

pytestmark = pytest.mark.filterwarnings("error::DeprecationWarning")

N = 8000
N_PARTS = 8
HOT_X, HOT_Y = np.float32(1037.123), np.float32(1072.456)


def _mixed_pdf(hot_x: float, hot_y: float) -> pd.DataFrame:
    rng = np.random.default_rng(7)
    half = N // 2
    pdf = pd.DataFrame(
        {
            "x": np.concatenate(
                [(1000 + 100 * rng.random(half)).astype(np.float32),
                 np.full(half, hot_x, np.float32)]
            ),
            "y": np.concatenate(
                [(1000 + 100 * rng.random(half)).astype(np.float32),
                 np.full(half, hot_y, np.float32)]
            ),
        }
    )
    pdf["key"] = np.arange(len(pdf), dtype=np.int64)
    return pdf


@pytest.fixture(scope="module")
def hot_pdf():
    return _mixed_pdf(HOT_X, HOT_Y)


@pytest.fixture(scope="module")
def hot_df(spark, hot_pdf):
    return spark.createDataFrame(hot_pdf)


def _partition_rows(tbl):
    return [r.rows for r in tbl.partition_metrics().select("rows").collect()]


# ------------------------------------------------------- midline collapse
def test_midline_skew_routes_to_side_and_stays_exact(spark):
    pdf = _mixed_pdf(1050.0, 1050.0)
    tbl = LQTTable.build(spark.createDataFrame(pdf), DEFAULT_BOUNDS,
                         tiebreaker="key", num_partitions=N_PARTS, persist=False)
    # collapsed rows: zkey 0, prefix-unfaithful -> side relation
    assert tbl.side.filter(F.col("zkey") == 0).count() >= N // 2
    # main stays balanced: no partition much above fair share
    assert max(_partition_rows(tbl)) <= 2.5 * (N / 2) / N_PARTS
    # queries over the collapsed point remain exact
    rect = (1049.0, 1051.0, 1049.0, 1051.0)
    got = sorted(r.key for r in bbox_query(tbl, *rect).select("key").collect())
    m = pdf
    exp = sorted(
        m[(m.x >= rect[0]) & (m.x <= rect[1]) & (m.y >= rect[2]) & (m.y <= rect[3])].key.tolist()
    )
    assert got == exp
    tbl.unpersist()


# ------------------------------------------------------------- hot cell
def test_hot_cell_lands_in_main_with_one_zs(spark, hot_df):
    enc = encode_points(hot_df, DEFAULT_BOUNDS)
    hot = enc.filter((F.col("x") == float(HOT_X)) & (F.col("y") == float(HOT_Y)))
    rows = hot.select("zs", "zlvl").distinct().collect()
    assert len(rows) == 1  # one shared key
    assert rows[0].zlvl >= STORE_SPLIT_LEVEL  # faithful -> main relation


@pytest.fixture(scope="module")
def hot_tbl(hot_df):
    t = LQTTable.build(hot_df, DEFAULT_BOUNDS, tiebreaker="key",
                       num_partitions=N_PARTS)
    yield t
    t.unpersist()


def test_default_build_splits_hot_cell(hot_tbl, order_violations):
    # the hot run is half the table; range bounds on (zs, key) fall
    # inside it, so no partition is far above its fair share
    assert max(_partition_rows(hot_tbl)) <= 2.5 * N / N_PARTS
    assert order_violations(hot_tbl.main, "zs", "key") == 0


def test_hot_cell_queries_exact(spark, hot_tbl, hot_pdf):
    rect = (float(HOT_X) - 1.0, float(HOT_X) + 1.0, float(HOT_Y) - 1.0, float(HOT_Y) + 1.0)
    got = sorted(r.key for r in bbox_query(hot_tbl, *rect).select("key").collect())
    m = hot_pdf
    exp = sorted(
        m[(m.x >= rect[0]) & (m.x <= rect[1]) & (m.y >= rect[2]) & (m.y <= rect[3])].key.tolist()
    )
    assert got == exp

    # kNN centred on the hot cell: k nearest are hot rows, tie-broken by key
    q = spark.createDataFrame([(0, float(HOT_X), float(HOT_Y))], ["qid", "qx", "qy"])
    k = 9
    out = knn_join(hot_tbl, q, k).select("key", "rn", "dist2").collect()
    assert len(out) == k
    assert all(r.dist2 == 0.0 for r in out)
    hot_keys = sorted(m[(m.x == HOT_X) & (m.y == HOT_Y)].key.tolist())
    assert sorted(r.key for r in out) == hot_keys[:k]
