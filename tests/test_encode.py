"""Encode kernel: golden vectors (FIXTURES.md F2, minted from the compiled
reference lqt.cpp:35-69) + properties."""

import numpy as np
import pytest

from linear_quadtree_spark.config import DEFAULT_BOUNDS, MAX_SAFE_LEVEL, SIGN_BIT
from linear_quadtree_spark.functions.encode import (
    zorder_encode_np,
    zs_from_zkey,
)

pytestmark = pytest.mark.filterwarnings("error::DeprecationWarning")

# FIXTURES.md F2 golden rows (empirically verified against the compiled
# reference: 0 mismatches on 108k points incl. exact grid-boundary values).
GOLDEN = [
    # (x, y, zkey, note)
    (299.999, 299.999, 4611686015000641536, "oob below"),
    (7.0, 14.0, 651885528770740224, "oob below (main.cpp:143-145)"),
    (1000.0, 1000.0, 0, "lower-left corner"),
    (1050.0, 1050.0, 0, "root midpoint collapse"),
    (1099.999, 1099.999, 18446744070219890688, "key > 2^63"),
    (1050.0, 1025.0, 0, "x-midline collapse"),
]


def test_golden_vectors():
    x = np.array([g[0] for g in GOLDEN], dtype=np.float32)
    y = np.array([g[1] for g in GOLDEN], dtype=np.float32)
    zkey, zlvl = zorder_encode_np(x, y, DEFAULT_BOUNDS)
    assert zkey.tolist() == [g[2] for g in GOLDEN]
    # oob + midline rows diverge at level 0; corner + interior rows are clean
    assert zlvl.tolist() == [0, 0, MAX_SAFE_LEVEL, 0, MAX_SAFE_LEVEL, 0]


def test_sign_flip_preserves_unsigned_order():
    rng = np.random.default_rng(1)
    x = (1000 + 100 * rng.random(5000)).astype(np.float32)
    y = (1000 + 100 * rng.random(5000)).astype(np.float32)
    zkey, _ = zorder_encode_np(x, y, DEFAULT_BOUNDS)
    zs = zs_from_zkey(zkey)
    assert np.array_equal(np.argsort(zkey, kind="stable"), np.argsort(zs, kind="stable"))


def test_prefix_containment():
    """A clean point's zkey prefix at level d equals the cell walked by the
    same float32 descent — checked implicitly by cover tests; here: keys of
    points in distinct root quadrants differ in the top two bits."""
    x = np.array([1010.0, 1090.0, 1010.0, 1090.0], dtype=np.float32)
    y = np.array([1010.0, 1010.0, 1090.0, 1090.0], dtype=np.float32)
    zkey, zlvl = zorder_encode_np(x, y, DEFAULT_BOUNDS)
    top = (zkey >> np.uint64(62)).tolist()
    assert top == [0, 1, 2, 3]
    assert (zlvl == MAX_SAFE_LEVEL).all()


def test_saturation_tail_is_zero_bits():
    """Float32 saturation (~level 21 at these bounds): trailing bit-pairs
    collapse to 00 — the reference's NaN-poisoning path (SURVEY §1.3)."""
    x = np.array([1037.123456], dtype=np.float32)
    y = np.array([1061.654321], dtype=np.float32)
    zkey, _ = zorder_encode_np(x, y, DEFAULT_BOUNDS)
    assert int(zkey[0]) & 0xFF == 0  # last 4 levels all zero


def test_spark_encode_matches_numpy(spark):
    import pandas as pd

    from linear_quadtree_spark.operators.build import encode_points

    rng = np.random.default_rng(3)
    n = 20000
    pdf = pd.DataFrame(
        {
            "x": (1000 + 100 * rng.random(n)).astype(np.float32),
            "y": (1000 + 100 * rng.random(n)).astype(np.float32),
            "key": np.arange(n, dtype=np.int64),
        }
    )
    df = spark.createDataFrame(pdf)
    got = encode_points(df, DEFAULT_BOUNDS).orderBy("key").toPandas()
    zkey, zlvl = zorder_encode_np(pdf.x.to_numpy(), pdf.y.to_numpy(), DEFAULT_BOUNDS)
    assert np.array_equal(got.zkey.to_numpy().view(np.uint64), zkey)
    assert np.array_equal(got.zlvl.to_numpy(), zlvl)
    assert np.array_equal(got.zs.to_numpy(), zs_from_zkey(zkey))
