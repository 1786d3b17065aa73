"""Alternate hierarchical cell index (H3/S2-style) — pure Catalyst /
DuckDB integer expressions, no UDF.

The north rule asks for an H3/S2 cell-id column alongside the
reference-exact zkey. The `h3` native library is not available in this
environment, so this is the documented public fallback: a uniform
hierarchical quad grid over the root bounds with Morton-interleaved cell
ids — the same multi-resolution algebra as H3/S2 (parent/child by bit
shifts, equi-joinable cells, prefix-range scans), minus the spherical
projection, which is a per-coordinate pre-transform slot when real
geodesy arrives.

Contrast with the zkey (functions/encode.py): the zkey reproduces the
reference's float32 boundary/saturation artifacts bit-for-bit and is the
engine's primary sorted index; the geocell is the ANALYTIC index —
exact double-precision uniform grid, midline points land in the upper
cell (`floor` convention), out-of-bounds clamps to edge cells. The two
agree on >99% of uniform points at matching levels (tested) and
deliberately differ on the degenerate boundary cases.

Bit layout: 2 bits per level, y is the high bit of each pair, level-1
pair in the most significant position — IDENTICAL layout to the zkey's
top 2L bits (lqt.cpp:54-58), so `geocell == zkey >>> (64-2L)` whenever
the float32 descent doesn't snap (that equivalence is the agreement
test). Construction uses bit interleave of the two axis indices rather
than a subdivision loop — O(L) integer ops, whole-stage-codegen'd.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from linear_quadtree_spark.config import Bounds, DEFAULT_BOUNDS
from linear_quadtree_spark.functions.textexpr import DUCK, SPARK, Eng

__all__ = [
    "axis_index_expr",
    "geocell_expr",
    "geocell_col",
    "geocell_sql_duck",
    "with_geocell",
    "cell_parent_col",
    "cell_children_range",
    "cell_neighbors",
    "cell_axis_expr",
    "cell_rect_sql",
    "cell_wkt_sql",
]


def axis_index_expr(e: Eng, col: str, lo: float, hi: float, level: int) -> str:
    """Integer grid index of a coordinate along one axis at `level`
    (2^level cells), clamped into range. All-double arithmetic with
    literal bounds — bit-identical across engines."""
    n = 1 << level
    scale = repr(float(n) / (hi - lo))
    raw = f"CAST(FLOOR((CAST({col} AS DOUBLE) - {lo!r}) * {scale}) AS BIGINT)"
    return f"greatest(CAST(0 AS BIGINT), least(CAST({n - 1} AS BIGINT), {raw}))"


def _interleave_expr(e: Eng, ix: str, iy: str, level: int) -> str:
    """Morton interleave: bit i of ix → bit 2i, bit i of iy → bit 2i+1
    (y high — the reference's quadrant order, lqt.cpp:55-58)."""
    bit_x = "(" + e.shiftr(ix, "i") + " % 2)"
    bit_y = "(" + e.shiftr(iy, "i") + " % 2)"
    body = e.shiftl(bit_x, "2 * i") + " + " + e.shiftl(bit_y, "2 * i + 1")
    pairs = e.transform(e.seq("0", str(level - 1)), "i", body)
    return e.fold(pairs, "CAST(0 AS BIGINT)", "a", "x", "a + x")


def geocell_expr(
    e: Eng,
    x_col: str,
    y_col: str,
    bounds: Bounds = DEFAULT_BOUNDS,
    level: int = 8,
) -> str:
    ix = axis_index_expr(e, x_col, bounds.xstart, bounds.xend, level)
    iy = axis_index_expr(e, y_col, bounds.ystart, bounds.yend, level)
    return _interleave_expr(e, f"({ix})", f"({iy})", level)


def geocell_col(
    x_col: str, y_col: str, bounds: Bounds = DEFAULT_BOUNDS, level: int = 8
) -> Column:
    return F.expr(geocell_expr(SPARK, x_col, y_col, bounds, level))


def geocell_sql_duck(
    x_col: str, y_col: str, bounds: Bounds = DEFAULT_BOUNDS, level: int = 8
) -> str:
    return geocell_expr(DUCK, x_col, y_col, bounds, level)


def with_geocell(
    df: DataFrame,
    level: int = 8,
    bounds: Bounds = DEFAULT_BOUNDS,
    x_col: str = "x",
    y_col: str = "y",
    out_col: str = "geocell",
) -> DataFrame:
    return df.withColumn(out_col, geocell_col(x_col, y_col, bounds, level))


# -------------------------------------------------------- cell algebra
def cell_parent_col(cell, level: int, parent_level: int) -> Column:
    """Coarsen a cell id — H3's cellToParent analog, a bit shift."""
    if parent_level > level:
        raise ValueError("parent_level must be <= level")
    c = F.col(cell) if isinstance(cell, str) else cell
    return F.shiftrightunsigned(c, 2 * (level - parent_level))


def cell_children_range(cell_id: int, level: int, child_level: int) -> tuple[int, int]:
    """[lo, hi) id range of a cell's descendants — prefix range scans,
    the geocell twin of plans/cover.py's ZRange."""
    if child_level < level:
        raise ValueError("child_level must be >= level")
    shift = 2 * (child_level - level)
    return cell_id << shift, (cell_id + 1) << shift


def cell_axis_expr(e: Eng, cell: str, level: int, axis: int) -> str:
    """De-interleave one axis index out of a Morton cell id — the SQL twin
    of the driver-side loop in :func:`cell_neighbors`. ``axis`` 0 extracts
    x (even bit positions), 1 extracts y (odd positions; y is the high bit
    of each pair, lqt.cpp:55-58). Pure integer HOF expression, identical
    text semantics in both engines."""
    if axis not in (0, 1):
        raise ValueError("axis must be 0 (x) or 1 (y)")
    bit = "(" + e.shiftr(cell, f"2 * i + {axis}") + " % 2)"
    pairs = e.transform(e.seq("0", str(level - 1)), "i", e.shiftl(bit, "i"))
    return e.fold(pairs, "CAST(0 AS BIGINT)", "a", "x", "a + x")


def cell_rect_sql(
    e: Eng,
    tx: str,
    ty: str,
    bounds: Bounds = DEFAULT_BOUNDS,
    level: int = 8,
) -> dict[str, str]:
    """Vector extent of the grid cell with axis indices (``tx``, ``ty``)
    at ``level``: SQL expressions for the corner columns x0/y0/x1/y1.

    All-double arithmetic with literal cell widths: for the reference
    bounds the width 100/2^L is an exact binary fraction, so both engines
    produce bit-identical corners (hash-comparable). This is the
    raster→vector direction of the tiling stack — the inverse of
    tile_id_col / geocell_expr."""
    n = 1 << level
    wx = repr((bounds.xend - bounds.xstart) / n)
    wy = repr((bounds.yend - bounds.ystart) / n)
    return {
        "x0": f"(CAST({tx} AS DOUBLE) * {wx} + {bounds.xstart!r})",
        "y0": f"(CAST({ty} AS DOUBLE) * {wy} + {bounds.ystart!r})",
        "x1": f"((CAST({tx} AS DOUBLE) + 1) * {wx} + {bounds.xstart!r})",
        "y1": f"((CAST({ty} AS DOUBLE) + 1) * {wy} + {bounds.ystart!r})",
    }


def cell_wkt_sql(
    e: Eng, x0: str, y0: str, x1: str, y1: str, level: int = 8
) -> str:
    """WKT POLYGON ring (counter-clockwise, closed) for a cell rectangle.

    Corners are rendered through a fixed-scale DECIMAL so both engines
    print the same digits: a cell width of 100/2^L has exactly L-2
    fractional decimal digits (100/2^L = 25/2^(L-2)), so scale L-2 is
    lossless for every corner of the default bounds."""
    s = max(1, level - 2)
    txt = "STRING" if e.name == "spark" else "VARCHAR"

    def fmt(v: str) -> str:
        return f"CAST(CAST({v} AS DECIMAL(18,{s})) AS {txt})"

    pts = [(x0, y0), (x1, y0), (x1, y1), (x0, y1), (x0, y0)]
    inner = ", ', ', ".join(f"{fmt(x)}, ' ', {fmt(y)}" for x, y in pts)
    return f"concat('POLYGON((', {inner}, '))')"


def _queen_scatter(
    rel: DataFrame, zoom: int, with_self: bool, centre: bool = False
) -> DataFrame:
    """Scatter each tile of ``rel`` (keys…, tx, ty, cols…) to the cells
    (ctx, cty) of its queen neighbourhood on the 2^zoom lattice: the 8
    adjacent cells, plus the tile's own cell when ``with_self``. Cells
    off the lattice ``[0, 2^zoom − 1]`` are dropped; every other column
    rides along, and ``centre`` adds a boolean column marking the
    own-cell row. The fan-out touches the tile relation only, and the
    gather is an equi-keyed groupBy or join on (ctx, cty) — never an
    inequality join."""
    m = (1 << zoom) - 1
    offs = ", ".join(
        f"named_struct('dx', {dx}, 'dy', {dy})"
        for dx in (-1, 0, 1) for dy in (-1, 0, 1)
        if with_self or (dx, dy) != (0, 0)
    )
    cell = [
        (F.col("tx") + F.col("o.dx")).alias("ctx"),
        (F.col("ty") + F.col("o.dy")).alias("cty"),
    ]
    if centre:
        cell.append(((F.col("o.dx") == 0) & (F.col("o.dy") == 0)).alias("centre"))
    return (
        rel.select("*", F.expr(f"explode(array({offs}))").alias("o"))
        .select(*[c for c in rel.columns if c not in ("tx", "ty")], *cell)
        .filter(F.col("ctx").between(0, m) & F.col("cty").between(0, m))
    )


def _queen_window(zoom: int) -> Column:
    """W_i: the cell count of tile (tx, ty)'s 3×3 window clipped to the
    2^zoom lattice (9 inside, 6 on an edge, 4 in a corner), as BIGINT."""
    m = (1 << zoom) - 1
    wx = F.least(F.col("tx") + 1, F.lit(m)) - F.greatest(F.col("tx") - 1, F.lit(0)) + 1
    wy = F.least(F.col("ty") + 1, F.lit(m)) - F.greatest(F.col("ty") - 1, F.lit(0)) + 1
    return (wx * wy).cast("bigint")


def cell_neighbors(cell_id: int, level: int) -> list[int]:
    """8-neighborhood at the same level (driver-side planning helper for
    ring expansion). De-interleaves, steps, re-interleaves."""
    n = 1 << level
    ix = iy = 0
    for i in range(level):
        ix |= ((cell_id >> (2 * i)) & 1) << i
        iy |= ((cell_id >> (2 * i + 1)) & 1) << i
    out = []
    for dx in (-1, 0, 1):
        for dy in (-1, 0, 1):
            if dx == dy == 0:
                continue
            jx, jy = ix + dx, iy + dy
            if 0 <= jx < n and 0 <= jy < n:
                c = 0
                for i in range(level):
                    c |= ((jx >> i) & 1) << (2 * i)
                    c |= ((jy >> i) & 1) << (2 * i + 1)
                out.append(c)
    return out
