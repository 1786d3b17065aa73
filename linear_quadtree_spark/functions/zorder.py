"""Generic multi-column Z-order (Morton) clustering keys — the
reference's 2-D interleaved-bit key (lqt.cpp:35-69) generalized to any
k numeric columns, for lakehouse data-skipping.

Why this belongs in a quadtree engine: the reference's entire build is
"compute an interleaved key, sort by it". That exact pattern is what
Delta/Iceberg `OPTIMIZE ZORDER BY` does for arbitrary tables — rows
close in every clustered dimension land in the same files, so per-file
(Iceberg) / per-row-group (parquet) min-max stats become tight for
EVERY clustered column at once, and multi-dimensional predicates prune
the scan. This module renders the key as engine-portable SQL (Spark +
DuckDB, same text shape) so clustered relations stay hash-oracle
checkable.

Semantics: each column is scaled to a ``bits``-bit integer grid over a
caller-declared [lo, hi) range (out-of-range clamps to the edge cell —
at cluster scale ranges come from table stats), then bit i of column j
lands at interleaved bit ``i*k + j``. All integer/double literal
arithmetic — no UDF, whole-stage codegen end to end.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from linear_quadtree_spark.functions.geocell import axis_index_expr
from linear_quadtree_spark.functions.textexpr import DUCK, SPARK, Eng

__all__ = [
    "zorder_interleave_expr",
    "zorder_col",
    "zorder_sql_duck",
    "cluster_by_zorder",
]


def zorder_interleave_expr(e: Eng, idx_cols: list[str], bits: int) -> str:
    """Interleave k pre-computed grid indices: bit i of idx_cols[j] →
    output bit i*k + j. k*bits must fit a BIGINT (≤ 62).

    Rendered as a FLAT sum of k·bits shift terms (bit positions are
    compile-time constants), not a transform/aggregate HOF: Spark
    evaluates higher-order functions on the interpreted expression path
    with a per-row array allocation, while the flat sum stays inside
    whole-stage codegen — measured 10× faster on a 600k-row clustered
    rewrite, bit-identical output."""
    k = len(idx_cols)
    if k * bits > 62:
        raise ValueError(f"{k} cols × {bits} bits exceeds 62-bit key budget")
    terms = " + ".join(
        e.shiftl(f"({e.shiftr(c, str(i))} % 2)", str(k * i + j))
        for i in range(bits)
        for j, c in enumerate(idx_cols)
    )
    return f"CAST({terms} AS BIGINT)"


def zorder_col(
    df: DataFrame,
    cols: list[tuple[str, float, float]],
    bits: int = 16,
    out_col: str = "zval",
) -> DataFrame:
    """Add the z-order key column. Grid indices are staged as real
    projection columns first so the interleave references each exactly
    once (Catalyst would otherwise inline the scale expression once per
    bit)."""
    staged = df
    idx_names = []
    for j, (c, lo, hi) in enumerate(cols):
        name = f"_zidx{j}"
        staged = staged.withColumn(
            name, F.expr(axis_index_expr(SPARK, c, lo, hi, bits))
        )
        idx_names.append(name)
    staged = staged.withColumn(
        out_col, F.expr(zorder_interleave_expr(SPARK, idx_names, bits))
    )
    return staged.drop(*idx_names)


def zorder_sql_duck(
    src: str,
    cols: list[tuple[str, float, float]],
    bits: int = 16,
    out_col: str = "zval",
    payload: str = "*",
) -> str:
    """DuckDB twin: SELECT ``payload``, zval FROM ``src`` with the
    identical staged-index computation (renders as a CTE chain)."""
    idx_sel = ", ".join(
        f"({axis_index_expr(DUCK, c, lo, hi, bits)}) AS _zidx{j}"
        for j, (c, lo, hi) in enumerate(cols)
    )
    idx_names = [f"_zidx{j}" for j in range(len(cols))]
    inter = zorder_interleave_expr(DUCK, idx_names, bits)
    return (
        f"SELECT {payload}, {inter} AS {out_col} "
        f"FROM (SELECT *, {idx_sel} FROM {src})"
    )


def cluster_by_zorder(
    df: DataFrame,
    cols: list[tuple[str, float, float]],
    bits: int = 16,
    num_partitions: int | None = None,
    out_col: str = "zval",
) -> DataFrame:
    """Cluster a relation by its multi-column z-order key: compute zval,
    range-partition on it, sort within partitions — the LQT build's
    key-compute-then-sort pattern applied to a generic table. Writing
    the result gives every clustered column tight per-file/row-group
    min-max stats (data skipping for multi-dimensional predicates);
    tests/test_zorder.py measures the pruning on parquet footers."""
    z = zorder_col(df, cols, bits, out_col)
    if num_partitions is None:
        num_partitions = max(
            2 * df.sparkSession.sparkContext.defaultParallelism, 2
        )
    return z.repartitionByRange(num_partitions, out_col).sortWithinPartitions(out_col)
