"""The linear-quadtree key encode — the verified heart of the engine.

Reference semantics (``lqt_nodify``, lqt.cpp:35-69; identical CUDA kernels
lqt.cu:93-120, lqt.cu:340-368): per point, 32 iterations of quadrant
subdivision over a caller-supplied box, emitting 2 bits per level
(y high bit, strict ``>`` against the midpoint), while the box origin is
snapped to the child grid with ``floor((p-start)/halfWidth)*halfWidth+start``.

All reference arithmetic is IEEE binary32 (``ord_t = float``, lqt.h:11),
except: C's ``floor`` is ``double`` and the snap's multiply-add happens in
double with a single rounding back to float on assignment. We reproduce
that exactly: float32 subtraction/division, then float64 floor-mul-add,
rounded once to float32. Verified bit-for-bit against the compiled
reference on the FIXTURES.md golden vectors and 100k seeded random points
(see tests/test_encode.py).

Two deliberate reference quirks we must reproduce, not fix (SURVEY §1.3):

* **Midline collapse**: a point exactly on a cell midpoint emits bit 0
  ("lower") but the box snaps to the *upper* child; the point then sits on
  the new box's lower edge and emits 0 forever. Such keys are NOT
  prefix-faithful to the point's geometric cell.
* **Float32 saturation**: once halfWidth underflows below one ULP of the
  origin (~level 21 for origins near 1000) the snap divides by zero and
  the box goes NaN; all later bits are 0. Suppressed numpy RuntimeWarnings
  are expected behavior here.

Because collapsed/out-of-bounds keys break prefix pruning, the kernel also
returns ``zlvl``: the first level (< MAX_SAFE_LEVEL) at which the box snap
diverged from the emitted bit (exact float comparison of the new box origin
against the origin the bit implies), or MAX_SAFE_LEVEL if none. Bits
0..zlvl are always geometrically correct (each bit is computed directly
from the point against the current box midpoint; corruption starts only
*after* the first divergent snap), so a point's zkey prefix is faithful
through level ``zlvl + 1``. A range cover decomposed to max level L plus a
separate scan of the (tiny) ``zlvl < L`` set is therefore a *provably
conservative* candidate set for any spatial predicate — the query layer
relies on this invariant. On uniform random data the divergent fraction
grows ~2^l·ULP/width per level. Measured at L=12 with these bounds, 0.87%
of rows have ``zlvl < 12``: 874–882 of 100,000 geotag points for each of
perfbench seeds 0–5 and 603, and 5,240 of 600,000 at sf0.1.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql.types import ByteType, LongType, StructField, StructType

from linear_quadtree_spark.config import DEPTH, MAX_SAFE_LEVEL, SIGN_BIT, Bounds

__all__ = [
    "zorder_encode_np",
    "encode_struct_udf",
    "zs_from_zkey",
    "tile_id_col",
    "ENCODE_STRUCT_TYPE",
]

_F32_TWO = np.float32(2.0)


def zorder_encode_np(
    x: np.ndarray, y: np.ndarray, bounds: Bounds, depth: int = DEPTH
) -> tuple[np.ndarray, np.ndarray]:
    """Vectorized reference-exact encode.

    Parameters are float32 arrays (any float dtype is cast). Returns
    ``(zkey, zlvl)`` where ``zkey`` is uint64 and ``zlvl`` is int8: the
    first divergence level, or MAX_SAFE_LEVEL if faithful throughout
    (see module docstring).
    """
    x = np.ascontiguousarray(x, dtype=np.float32)
    y = np.ascontiguousarray(y, dtype=np.float32)
    n = x.shape[0]
    loc = np.zeros(n, dtype=np.uint64)
    zlvl = np.full(n, MAX_SAFE_LEVEL, dtype=np.int8)

    cxs = np.full(n, np.float32(bounds.xstart), dtype=np.float32)
    cxe = np.full(n, np.float32(bounds.xend), dtype=np.float32)
    cys = np.full(n, np.float32(bounds.ystart), dtype=np.float32)
    cye = np.full(n, np.float32(bounds.yend), dtype=np.float32)

    one = np.uint64(1)
    two = np.uint64(2)

    with np.errstate(invalid="ignore", divide="ignore", over="ignore"):
        for level in range(depth):
            # bit emission (lqt.cpp:55-58): strict >, y is the high bit
            midy = cys + (cye - cys) / _F32_TWO
            midx = cxs + (cxe - cxs) / _F32_TWO
            bit1 = (y > midy).astype(np.uint64)
            bit2 = (x > midx).astype(np.uint64)
            loc = (loc << two) | (bit1 << one) | bit2

            # box descent (lqt.cpp:60-65): float32 sub/div, float64
            # floor-mul-add, one rounding back to float32 (C assignment)
            nw = (cxe - cxs) / _F32_TWO
            qx = np.floor((x - cxs) / nw)
            new_cxs = (
                qx.astype(np.float64) * nw.astype(np.float64)
                + cxs.astype(np.float64)
            ).astype(np.float32)
            nh = (cye - cys) / _F32_TWO
            qy = np.floor((y - cys) / nh)
            new_cys = (
                qy.astype(np.float64) * nh.astype(np.float64)
                + cys.astype(np.float64)
            ).astype(np.float32)

            if level < MAX_SAFE_LEVEL:
                # prefix-faithfulness check: the box origin the emitted bit
                # implies. A legit upper-half point snaps to exactly
                # fl32(cs+nw), which is the same float as the midpoint used
                # in the bit test; a legit lower-half point keeps cs.
                # NaN != anything, so saturation/oob flag themselves.
                exp_x = np.where(bit2.astype(bool), midx, cxs)
                exp_y = np.where(bit1.astype(bool), midy, cys)
                with np.errstate(invalid="ignore"):
                    diverged = ~np.equal(new_cxs, exp_x) | ~np.equal(new_cys, exp_y)
                first = diverged & (zlvl == MAX_SAFE_LEVEL)
                if first.any():
                    zlvl[first] = level

            cxs = new_cxs
            cxe = cxs + nw
            cys = new_cys
            cye = cys + nh

    return loc, zlvl


def zs_from_zkey(zkey_u64: np.ndarray) -> np.ndarray:
    """uint64 zkey → signed-sortable int64 (flip sign bit; SURVEY §1.2)."""
    return (zkey_u64 ^ np.uint64(SIGN_BIT)).view(np.int64)


ENCODE_STRUCT_TYPE = StructType(
    [
        StructField("zkey", LongType(), False),  # raw key, uint64 bits in int64
        StructField("zs", LongType(), False),  # sign-flipped, sort/range column
        StructField("zlvl", ByteType(), False),  # first divergence level
    ]
)


def encode_struct_udf(bounds: Bounds):
    """Scalar pandas UDF computing (zkey, zs, zdeg) in ONE Arrow round trip.

    Composing all three outputs in one UDF is the Spark analog of the
    reference's fused device build (nodify+sortify without the host
    round-trip, lqt.cu:277-334): one JVM→Python transfer per batch.
    """

    @F.pandas_udf(ENCODE_STRUCT_TYPE)
    def _encode(x: pd.Series, y: pd.Series) -> pd.DataFrame:
        zkey, zlvl = zorder_encode_np(
            x.to_numpy(dtype=np.float32, copy=False),
            y.to_numpy(dtype=np.float32, copy=False),
            bounds,
        )
        return pd.DataFrame(
            {
                "zkey": zkey.view(np.int64),
                "zs": zs_from_zkey(zkey),
                "zlvl": zlvl,
            }
        )

    return _encode


def tile_id_col(zkey_col, zoom: int):
    """Raster-tile id at zoom z = top 2z bits of the raw zkey
    (pure JVM-side column expression; no UDF): ``zkey >>> (64-2z)``."""
    if not 0 < zoom <= 31:
        raise ValueError("zoom must be in 1..31")
    return F.shiftrightunsigned(zkey_col, 64 - 2 * zoom)
