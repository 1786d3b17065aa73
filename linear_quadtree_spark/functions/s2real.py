"""REAL S2CellId construction — library-interchangeable id packing.

This module implements the `s2geometry` library's EXACT id
construction, so its ids are interchange-compatible with the library.
It is transcribed from the public S2 geometry specification and the
open-source `s2geometry` sources (s2coords.h `GetFace`,
`ValidFaceXYZtoUV`, `STtoUV`; s2cell_id.cc `FromFaceIJ`, `kPosToIJ`, `kPosToOrientation`, the
4-bit `lookup_pos`/`lookup_ij` table build, and the
`id = face<<61 | pos<<1 | 1` trailing-lsb packing):

1. (lon, lat) -> unit XYZ; face = largest-|component| axis with the
   library's STRICT `>` tie order (ties fall to the later axis),
   `+3` when that component is negative.
2. Per-face (u, v) via the exact `ValidFaceXYZtoUV` sign table —
   note face 4's `v = -x/y`.
3. Quadratic ST: `s = u >= 0 ? sqrt(1+3u)/2 : 1 - sqrt(1-3u)/2`.
4. `i = clamp(floor(2^30 * s), 0, 2^30-1)` (`STtoIJ` semantics — no
   dyadic +0.5 snap here; spec exactness wins, and the margin audit in
   tests/test_s2real.py plus parent-level oracle outputs carry the
   cross-engine determinism story instead).
5. The face-local Hilbert position via the library's 4-bit lookup
   chain: seed `bits = face & kSwapMask` (this per-face orientation
   seeding is what makes the six face curves join into one continuous
   sphere-filling curve), then 8 chunks of
   `idx = i4<<6 | j4<<2 | bits; val = lookup_pos[idx]` accumulating
   8 position bits per chunk.
6. `id = face<<61 | pos<<1 | 1` (leaf). Parent at level L keeps the
   top bits and sets the new lsb: `(id & -lsb) | lsb` with
   `lsb = 1 << 2*(30-L)` — pure two's-complement bit ops, identical
   in int64 signed space, so Spark/DuckDB BIGINT run it verbatim.
7. Token: lowercase %016x with trailing zeros stripped (`ToToken`).

Verification honesty: the C++ library cannot run in this sandbox (no
network egress; no s2/s2sphere wheel baked in — probed), so
interchangeability cannot be diffed against the library binary here.
The evidence instead: (a) TWO independent in-repo implementations —
the vectorized table-chain below and `s2real_leaf_slow_py`, a direct
per-level orientation-descent transcription that never touches the
chunk tables — agree exactly on 10k random points; (b) structural
invariants only the genuine construction satisfies, tested: the
lookup tables are mutual inverses, consecutive leaf positions are
lattice neighbors WITHIN a face (the Hilbert continuity property),
the curve stays continuous ACROSS face boundaries (the kSwapMask
seeding property), face-cell
ids equal `face<<61 | 1<<60`, and parent ranges nest. A wrong row in
`kPosToIJ`/`kPosToOrientation` or a wrong seed breaks (b).

Signedness: ids with face >= 4 set bit 63 and are negative as BIGINT.
All algebra here is bit-ops (sign-safe); ORDER comparisons (range
scans, BETWEEN pruning) go through `s2real_sortkey_expr` = id XOR
1<<63, the engine-wide unsigned-order discipline (SURVEY §1.2).

Scale: the forward key is map-only — scalar stages are
engine-templated text shared by both engines, and the Hilbert chain is
8 `element_at`s on ONE ArrayType literal (a single Catalyst Literal
node, evaluated inside whole-stage codegen; the DuckDB twin replays
the same 1024-int table as a list literal in one CTE). Zero Python in
the row path, zero shuffle, zero joins.
"""

from __future__ import annotations

import math
from functools import lru_cache

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from linear_quadtree_spark.functions.textexpr import DUCK, Eng

__all__ = [
    "S2_MAX_LEVEL",
    "lookup_tables",
    "s2real_leaf_np",
    "s2real_leaf_slow_py",
    "s2real_leaf_py",
    "with_s2real",
    "s2real_ctes_duck",
    "s2real_parent_expr",
    "s2real_sortkey_expr",
    "s2real_token_expr",
    "s2real_parent_py",
    "s2real_level_py",
    "s2real_range_py",
    "s2real_to_face_ij_py",
    "s2real_center_py",
    "from_face_ij_np",
    "s2real_cap_cover",
    "s2real_region_cover",
    "s2real_edge_neighbors_py",
]

S2_MAX_LEVEL = 30
#: `s2real_cap_cover` scans all 6 * 4^level cells in numpy: level 8
#: peaks at ~72 MB of driver memory, and each level costs 4x more, so
#: level 10 needs ~1.2 GB. Higher levels raise instead of exhausting
#: memory; use `s2real_region_cover` for fine covers.
S2_CAP_COVER_MAX_LEVEL = 10
_LOOKUP_BITS = 4
_SWAP = 0x01
_INVERT = 0x02

#: s2cell_id.cc kPosToIJ — per orientation, Hilbert position -> ij
#: (i*2 + j) within a 2x2 subdivision.
_POS_TO_IJ = (
    (0, 1, 3, 2),  # canonical order
    (0, 2, 3, 1),  # axes swapped
    (3, 2, 0, 1),  # bits inverted
    (3, 1, 0, 2),  # swapped & inverted
)
#: s2cell_id.cc kPosToOrientation — orientation XOR-delta per position.
_POS_TO_ORIENT = (_SWAP, 0, 0, _INVERT + _SWAP)

#: inverse of each _POS_TO_IJ row: ij -> position (derived, not
#: transcribed, so a transcription error cannot cancel itself).
_IJ_TO_POS = tuple(
    tuple(row.index(ij) for ij in range(4)) for row in _POS_TO_IJ
)


@lru_cache(maxsize=1)
def lookup_tables() -> tuple[tuple[int, ...], tuple[int, ...]]:
    """(lookup_pos, lookup_ij): the library's 1024-entry 4-bit-chunk
    tables, built by the public recursive construction
    (s2cell_id.cc `InitLookupCell`). Entry layout: index
    `ij<<2 | orientation_in`, value `pos<<2 | orientation_out` (and
    the mirror for lookup_ij)."""
    n = 1 << (2 * _LOOKUP_BITS + 2)
    lookup_pos = [0] * n
    lookup_ij = [0] * n

    def init(level: int, i: int, j: int, orig: int, pos: int, orient: int):
        if level == _LOOKUP_BITS:
            ij = (i << _LOOKUP_BITS) + j
            lookup_pos[(ij << 2) + orig] = (pos << 2) + orient
            lookup_ij[(pos << 2) + orig] = (ij << 2) + orient
            return
        level += 1
        i <<= 1
        j <<= 1
        pos <<= 2
        r = _POS_TO_IJ[orient]
        for sub in range(4):
            init(
                level,
                i + (r[sub] >> 1),
                j + (r[sub] & 1),
                orig,
                pos + sub,
                orient ^ _POS_TO_ORIENT[sub],
            )

    for o in range(4):
        init(0, 0, 0, o, 0, o)
    return tuple(lookup_pos), tuple(lookup_ij)


# --------------------------------------------------------------- numpy path
def _face_uv_np(x, y, z):
    ax, ay, az = np.abs(x), np.abs(y), np.abs(z)
    # GetFace: strict '>' with ties falling through to the later axis.
    axis = np.where(ax > ay, np.where(ax > az, 0, 2), np.where(ay > az, 1, 2))
    comp = np.choose(axis, [x, y, z])
    face = np.where(comp < 0, axis + 3, axis)
    # ValidFaceXYZtoUV (all six rows, including face 4's v = -x/y).
    u = np.select(
        [face == 0, face == 1, face == 2, face == 3, face == 4],
        [y / x, -x / y, -x / z, z / x, z / y],
        default=-y / z,
    )
    v = np.select(
        [face == 0, face == 1, face == 2, face == 3, face == 4],
        [z / x, z / y, -y / z, y / x, -x / y],
        default=-x / z,
    )
    return face.astype(np.int64), u, v


def _st_np(u):
    # maximum() only silences the unused np.where branch (u in [-1, 1])
    return np.where(
        u >= 0,
        0.5 * np.sqrt(np.maximum(0.0, 1.0 + 3.0 * u)),
        1.0 - 0.5 * np.sqrt(np.maximum(0.0, 1.0 - 3.0 * u)),
    )


def from_face_ij_np(face, i, j) -> np.ndarray:
    """Vectorized `CellId::FromFaceIJ` — leaf id (uint64) from int
    face and 30-bit i/j arrays."""
    face = np.asarray(face, dtype=np.uint64)
    i = np.asarray(i, dtype=np.uint64)
    j = np.asarray(j, dtype=np.uint64)
    lut = np.asarray(lookup_tables()[0], dtype=np.uint64)
    bits = face & np.uint64(_SWAP)
    n = np.zeros_like(i)
    for k in range(7, -1, -1):
        sh = np.uint64(k * _LOOKUP_BITS)
        idx = (
            (((i >> sh) & np.uint64(15)) << np.uint64(6))
            | (((j >> sh) & np.uint64(15)) << np.uint64(2))
            | bits
        )
        val = lut[idx]
        n |= (val >> np.uint64(2)) << np.uint64(k * 2 * _LOOKUP_BITS)
        bits = val & np.uint64(3)
    return (face << np.uint64(61)) | (n << np.uint64(1)) | np.uint64(1)


def s2real_leaf_np(lon, lat) -> np.ndarray:
    """Vectorized leaf (level-30) S2CellId for float64 degree arrays;
    returns uint64 (view .astype/.view int64 for the BIGINT column)."""
    lon = np.asarray(lon, dtype=np.float64)
    lat = np.asarray(lat, dtype=np.float64)
    phi = np.radians(lat)
    lam = np.radians(lon)
    cp = np.cos(phi)
    x, y, z = cp * np.cos(lam), cp * np.sin(lam), np.sin(phi)
    face, u, v = _face_uv_np(x, y, z)
    kmax = np.int64(1 << S2_MAX_LEVEL)
    i = np.clip(np.floor(_st_np(u) * kmax), 0, kmax - 1).astype(np.uint64)
    j = np.clip(np.floor(_st_np(v) * kmax), 0, kmax - 1).astype(np.uint64)
    return from_face_ij_np(face, i, j)


# ------------------------------------------------- independent slow witness
def s2real_leaf_slow_py(lon: float, lat: float) -> int:
    """Per-level orientation descent — deliberately table-free (only
    the 4-row base constants), used by tests as the independent witness
    against the chunked implementation above."""
    phi, lam = math.radians(lat), math.radians(lon)
    x = math.cos(phi) * math.cos(lam)
    y = math.cos(phi) * math.sin(lam)
    z = math.sin(phi)
    ax, ay, az = abs(x), abs(y), abs(z)
    if ax > ay:
        axis = 0 if ax > az else 2
    else:
        axis = 1 if ay > az else 2
    comp = (x, y, z)[axis]
    face = axis + 3 if comp < 0 else axis
    u, v = {
        0: lambda: (y / x, z / x),
        1: lambda: (-x / y, z / y),
        2: lambda: (-x / z, -y / z),
        3: lambda: (z / x, y / x),
        4: lambda: (z / y, -x / y),
        5: lambda: (-y / z, -x / z),
    }[face]()

    def st(w):
        return (
            0.5 * math.sqrt(1.0 + 3.0 * w)
            if w >= 0
            else 1.0 - 0.5 * math.sqrt(1.0 - 3.0 * w)
        )

    kmax = 1 << S2_MAX_LEVEL
    i = min(kmax - 1, max(0, int(math.floor(st(u) * kmax))))
    j = min(kmax - 1, max(0, int(math.floor(st(v) * kmax))))
    orient = face & _SWAP
    pos = 0
    for k in range(S2_MAX_LEVEL - 1, -1, -1):
        ij = (((i >> k) & 1) << 1) | ((j >> k) & 1)
        d = _IJ_TO_POS[orient][ij]
        pos = (pos << 2) | d
        orient ^= _POS_TO_ORIENT[d]
    return (face << 61) | (pos << 1) | 1


def s2real_leaf_py(lon: float, lat: float) -> int:
    """Scalar convenience wrapper over the vectorized path (unsigned)."""
    return int(s2real_leaf_np([lon], [lat])[0])


# ------------------------------------------------------------ cell algebra
def _lsb_for_level(level: int) -> int:
    if not 0 <= level <= S2_MAX_LEVEL:
        raise ValueError("level out of range")
    return 1 << (2 * (S2_MAX_LEVEL - level))


def s2real_parent_py(cell_id: int, level: int) -> int:
    """Parent id at ``level`` (unsigned in, unsigned out)."""
    lsb = _lsb_for_level(level)
    return (cell_id & (~(lsb - 1) & 0xFFFFFFFFFFFFFFFF)) | lsb


def s2real_level_py(cell_id: int) -> int:
    return S2_MAX_LEVEL - ((cell_id & -cell_id).bit_length() - 1) // 2


def s2real_range_py(cell_id: int, level: int | None = None) -> tuple[int, int]:
    """[range_min, range_max] of all descendants, unsigned."""
    lsb = (
        cell_id & -cell_id & 0xFFFFFFFFFFFFFFFF
        if level is None
        else _lsb_for_level(level)
    )
    return cell_id - (lsb - 1), cell_id + (lsb - 1)


def s2real_to_face_ij_py(cell_id: int) -> tuple[int, int, int]:
    """Leaf id -> (face, i, j) via lookup_ij (test/planner helper)."""
    _, lut_ij = lookup_tables()
    face = cell_id >> 61
    pos = (cell_id >> 1) & ((1 << 60) - 1)
    bits = face & _SWAP
    i = j = 0
    for k in range(7, -1, -1):
        chunk = (pos >> (k * 2 * _LOOKUP_BITS)) & ((1 << (2 * _LOOKUP_BITS)) - 1)
        val = lut_ij[(chunk << 2) + bits]
        ij = val >> 2
        i += (ij >> _LOOKUP_BITS) << (k * _LOOKUP_BITS)
        j += (ij & ((1 << _LOOKUP_BITS) - 1)) << (k * _LOOKUP_BITS)
        bits = val & 3
    return face, i, j


def _uv_from_st(s: float) -> float:
    # inverse quadratic: STtoUV
    if s >= 0.5:
        return (1.0 / 3.0) * (4.0 * s * s - 1.0)
    return (1.0 / 3.0) * (1.0 - 4.0 * (1.0 - s) * (1.0 - s))


def s2real_center_py(cell_id: int) -> tuple[float, float, float]:
    """Unit XYZ of the leaf cell center (test helper for the cross-face
    continuity invariant)."""
    face, i, j = s2real_to_face_ij_py(cell_id)
    kmax = 1 << S2_MAX_LEVEL
    u = _uv_from_st((i + 0.5) / kmax)
    v = _uv_from_st((j + 0.5) / kmax)
    xyz = {
        0: (1.0, u, v),
        1: (-u, 1.0, v),
        2: (-u, -v, 1.0),
        3: (-1.0, -v, -u),
        4: (v, -1.0, -u),
        5: (v, u, -1.0),
    }[face]
    norm = math.sqrt(sum(c * c for c in xyz))
    return tuple(c / norm for c in xyz)


# ----------------------------------------------------- engine expressions
def s2real_parent_expr(e: Eng, cell: str, level: int) -> str:
    """(id & -lsb) | lsb — two's-complement bit algebra, valid on
    signed BIGINT in both engines (sign bit rides along untouched)."""
    lsb = _lsb_for_level(level)
    if e.name == "spark":
        return f"((({cell}) & {-lsb}L) | {lsb}L)"
    return f"((({cell}) & CAST({-lsb} AS BIGINT)) | CAST({lsb} AS BIGINT))"


def s2real_sortkey_expr(e: Eng, cell: str) -> str:
    """id XOR 1<<63: signed order == unsigned id order (SURVEY §1.2)."""
    from linear_quadtree_spark.functions.textexpr import INT64_MIN_SQL

    if e.name == "spark":
        return f"(({cell}) ^ {INT64_MIN_SQL})"
    return f"xor(({cell}), {INT64_MIN_SQL})"


def s2real_token_expr(e: Eng, cell: str) -> str:
    """S2CellId::ToToken — lowercase %016x, trailing zeros stripped."""
    hx = f"hex({cell})" if e.name == "spark" else f"to_hex({cell})"
    return f"lower(TRIM(TRAILING '0' FROM lpad({hx}, 16, '0')))"


def _scalar_stage_groups(e: Eng, lon_col: str, lat_col: str):
    """Ordered (name, expr) groups: lon/lat -> face, i, j — the REAL
    face selection (strict '>'), ValidFaceXYZtoUV table, and floor
    STtoIJ. Rendered for both engines from this one definition."""
    d2r = f"CAST({math.pi / 180.0!r} AS DOUBLE)"
    kmax = 1 << S2_MAX_LEVEL
    groups = [
        [
            ("_rphi", f"(CAST({lat_col} AS DOUBLE) * {d2r})"),
            ("_rlam", f"(CAST({lon_col} AS DOUBLE) * {d2r})"),
        ],
        [
            ("_rx", "(COS(_rphi) * COS(_rlam))"),
            ("_ry", "(COS(_rphi) * SIN(_rlam))"),
            ("_rz", "SIN(_rphi)"),
        ],
        [
            (
                "_rface",
                "CASE WHEN ABS(_rx) > ABS(_ry) THEN"
                " (CASE WHEN ABS(_rx) > ABS(_rz) THEN"
                "   (CASE WHEN _rx < 0 THEN 3 ELSE 0 END)"
                "  ELSE (CASE WHEN _rz < 0 THEN 5 ELSE 2 END) END)"
                " ELSE (CASE WHEN ABS(_ry) > ABS(_rz) THEN"
                "   (CASE WHEN _ry < 0 THEN 4 ELSE 1 END)"
                "  ELSE (CASE WHEN _rz < 0 THEN 5 ELSE 2 END) END) END",
            )
        ],
        [
            (
                "_ru",
                "CASE _rface WHEN 0 THEN _ry / _rx WHEN 1 THEN -_rx / _ry"
                " WHEN 2 THEN -_rx / _rz WHEN 3 THEN _rz / _rx"
                " WHEN 4 THEN _rz / _ry ELSE -_ry / _rz END",
            ),
            (
                "_rv",
                "CASE _rface WHEN 0 THEN _rz / _rx WHEN 1 THEN _rz / _ry"
                " WHEN 2 THEN -_ry / _rz WHEN 3 THEN _ry / _rx"
                " WHEN 4 THEN -_rx / _ry ELSE -_rx / _rz END",
            ),
        ],
        [
            (
                "_rs",
                "CASE WHEN _ru >= 0 THEN"
                " CAST(0.5 AS DOUBLE) * SQRT(CAST(1 AS DOUBLE) + CAST(3 AS DOUBLE) * _ru)"
                " ELSE CAST(1 AS DOUBLE) - CAST(0.5 AS DOUBLE)"
                " * SQRT(CAST(1 AS DOUBLE) - CAST(3 AS DOUBLE) * _ru) END",
            ),
            (
                "_rt",
                "CASE WHEN _rv >= 0 THEN"
                " CAST(0.5 AS DOUBLE) * SQRT(CAST(1 AS DOUBLE) + CAST(3 AS DOUBLE) * _rv)"
                " ELSE CAST(1 AS DOUBLE) - CAST(0.5 AS DOUBLE)"
                " * SQRT(CAST(1 AS DOUBLE) - CAST(3 AS DOUBLE) * _rv) END",
            ),
        ],
        [
            (
                "_ri",
                f"GREATEST(CAST(0 AS BIGINT), LEAST(CAST({kmax - 1} AS BIGINT),"
                f" CAST(FLOOR(_rs * CAST({kmax} AS DOUBLE)) AS BIGINT)))",
            ),
            (
                "_rj",
                f"GREATEST(CAST(0 AS BIGINT), LEAST(CAST({kmax - 1} AS BIGINT),"
                f" CAST(FLOOR(_rt * CAST({kmax} AS DOUBLE)) AS BIGINT)))",
            ),
        ],
    ]
    return groups


_SCALAR_TEMPS = (
    "_rphi", "_rlam", "_rx", "_ry", "_rz", "_rface", "_ru", "_rv",
    "_rs", "_rt", "_ri", "_rj",
)


def with_s2real(
    df: DataFrame, lon_col: str, lat_col: str, out: str = "s2id"
) -> DataFrame:
    """Append the REAL leaf S2CellId (two's-complement BIGINT) —
    map-only JVM expressions end to end: scalar stages from the shared
    text builder, then the 8-chunk Hilbert chain as `element_at` on a
    single ArrayType literal (one Catalyst Literal node, inside
    whole-stage codegen). No UDF, no shuffle."""
    from linear_quadtree_spark.functions.textexpr import SPARK

    for grp in _scalar_stage_groups(SPARK, lon_col, lat_col):
        for name, expr in grp:
            df = df.withColumn(name, F.expr(expr))
    # each chunk's (bits, n) lands in a real column: nesting them as
    # expressions duplicates the whole prior chain per reference and
    # blows the tree up exponentially (measured: codegen OOM)
    lut = F.lit(list(lookup_tables()[0]))
    df = df.withColumn(
        "_rb8", (F.col("_rface").cast("long") % 2)  # face & kSwapMask
    ).withColumn("_rn8", F.lit(0).cast("long"))
    for k in range(7, -1, -1):
        sh = k * _LOOKUP_BITS
        idx = (
            F.shiftleft(F.shiftrightunsigned(F.col("_ri"), sh) % 16, 6)
            + F.shiftleft(F.shiftrightunsigned(F.col("_rj"), sh) % 16, 2)
            + F.col(f"_rb{k + 1}")
        )
        df = df.withColumn(
            f"_rw{k}", F.element_at(lut, (idx + 1).cast("int")).cast("long")
        )
        df = df.withColumn(
            f"_rn{k}",
            F.col(f"_rn{k + 1}").bitwiseOR(
                F.shiftleft(
                    F.shiftrightunsigned(F.col(f"_rw{k}"), 2),
                    k * 2 * _LOOKUP_BITS,
                )
            ),
        ).withColumn(f"_rb{k}", F.col(f"_rw{k}") % 4)
    cell = (
        F.shiftleft(F.col("_rface").cast("long"), 61)
        .bitwiseOR(F.shiftleft(F.col("_rn0"), 1))
        .bitwiseOR(F.lit(1).cast("long"))
    )
    chain_tmps = [f"_r{a}{i}" for a in ("b", "n") for i in range(9)] + [
        f"_rw{i}" for i in range(8)
    ]
    return df.withColumn(out, cell).drop(*_SCALAR_TEMPS, *chain_tmps)


def s2real_ctes_duck(
    src: str,
    lon_col: str,
    lat_col: str,
    carry: str = "doc_id",
    out: str = "s2id",
) -> str:
    """CTE chain ending in ``s2rfin(<carry>, <out>)`` — the identical
    construction for DuckDB: shared scalar stages, the SAME 1024-entry
    lookup table as a list literal (1-indexed), HUGEINT packing wrapped
    to signed BIGINT (DuckDB's `<<` refuses the sign-bit overflow Spark
    wraps, so the pack step goes through exact integers instead)."""
    groups = _scalar_stage_groups(DUCK, lon_col, lat_col)
    parts = []
    prev = src
    first = f"{carry}, {lon_col}, {lat_col}"
    for gi, grp in enumerate(groups):
        cols = ", ".join(f"{x} AS {n}" for n, x in grp)
        base = first if gi == 0 else "*"
        parts.append(f"s2r{gi} AS (SELECT {base}, {cols} FROM {prev})")
        prev = f"s2r{gi}"
    # the lookup table is inlined as a constant list literal PER stage
    # (8 copies of ~5 KB of SQL): a CROSS JOINed list column would be
    # materialized per row through every subsequent CTE stage — measured
    # pathological; a constant literal is folded by the optimizer.
    lut_list = "[" + ", ".join(str(v) for v in lookup_tables()[0]) + "]"
    parts.append(
        f"s2rg AS (SELECT *, CAST(_rface % 2 AS BIGINT) AS _b8,"
        f" CAST(0 AS BIGINT) AS _n8 FROM {prev})"
    )
    prev = "s2rg"
    for k in range(7, -1, -1):
        sh = k * _LOOKUP_BITS
        idx = (
            f"((((_ri >> {sh}) & 15) << 6) | (((_rj >> {sh}) & 15) << 2)"
            f" | _b{k + 1})"
        )
        val = f"CAST(list_extract({lut_list}, CAST({idx} + 1 AS INT)) AS BIGINT)"
        parts.append(
            f"s2rk{k} AS (SELECT *,"
            f" (_n{k + 1} | ((({val}) >> 2) << {k * 2 * _LOOKUP_BITS}))"
            f" AS _n{k}, (({val}) & 3) AS _b{k} FROM {prev})"
        )
        prev = f"s2rk{k}"
    two61 = 1 << 61
    two63 = 1 << 63
    two64 = 1 << 64
    parts.append(
        f"s2rpack AS (SELECT *, CAST(_rface AS HUGEINT) * {two61}"
        f" + CAST(_n0 AS HUGEINT) * 2 + 1 AS _idh FROM {prev})"
    )
    # MATERIALIZED: a downstream WHERE would otherwise be pushed down
    # through all 18 stages, re-copying the inlined lookup literals at
    # every rewrite (measured 30 s -> 0.16 s on 60k rows)
    parts.append(
        f"s2rfin AS MATERIALIZED (SELECT {carry},"
        f" CAST(CASE WHEN _idh >= {two63} THEN _idh - {two64}"
        f" ELSE _idh END AS BIGINT) AS {out} FROM s2rpack)"
    )
    return ",\n".join(parts)


# ---------------------------------------------------------- cap covering
def _uv_from_st_np(s):
    return np.where(
        s >= 0.5,
        (1.0 / 3.0) * (4.0 * s * s - 1.0),
        (1.0 / 3.0) * (1.0 - 4.0 * (1.0 - s) * (1.0 - s)),
    )


def _face_uv_to_xyz_np(face, u, v):
    """Unit XYZ from per-face (u, v) — the inverse of the
    ValidFaceXYZtoUV table, vectorized."""
    one = np.ones_like(u)
    x = np.select(
        [face == 0, face == 1, face == 2, face == 3, face == 4],
        [one, -u, -u, -one, v],
        default=v,
    )
    y = np.select(
        [face == 0, face == 1, face == 2, face == 3, face == 4],
        [u, one, -v, -v, -one],
        default=u,
    )
    z = np.select(
        [face == 0, face == 1, face == 2, face == 3, face == 4],
        [v, v, one, -u, -u],
        default=-one,
    )
    norm = np.sqrt(x * x + y * y + z * z)
    return x / norm, y / norm, z / norm


def s2real_cap_cover(
    lon: float, lat: float, radius_km: float, level: int = 4
) -> list[tuple[int, int]]:
    """Conservative spherical-cap cover with REAL S2 ids — the
    S2RegionCoverer essence at a fixed level: keep every level-
    ``level`` cell whose center is within ``radius + its own exact
    circumradius`` of the site (circumradius computed per cell from
    its 4 true corners, not a remembered library constant — exactness
    over memory), then merge the cells' descendant leaf ranges into a
    short signed-SORTKEY span list for BETWEEN pruning.

    Driver-side query-constant planning, O(6 * 4^level) numpy —
    the same discipline as the planar cover planner; the spans are a
    conservative SUPERSET, so an exact haversine refine downstream
    keeps answers identical to a cover-free oracle. ``level`` must lie
    in [0, S2_CAP_COVER_MAX_LEVEL]; anything else raises ValueError."""
    if not 0 <= level <= S2_CAP_COVER_MAX_LEVEL:
        raise ValueError(
            f"cap cover level {level} outside [0, {S2_CAP_COVER_MAX_LEVEL}]"
        )
    from linear_quadtree_spark.functions.mercator import EARTH_RADIUS_KM
    from linear_quadtree_spark.intervals import merge_spans

    ang = radius_km / EARTH_RADIUS_KM
    n = 1 << level
    face = np.repeat(np.arange(6, dtype=np.int64), n * n)
    ic = np.tile(np.repeat(np.arange(n, dtype=np.int64), n), 6)
    jc = np.tile(np.arange(n, dtype=np.int64), 6 * n)

    def cell_xyz(si, ti):
        u = _uv_from_st_np(si)
        v = _uv_from_st_np(ti)
        return _face_uv_to_xyz_np(face, u, v)

    cx, cy, cz = cell_xyz((ic + 0.5) / n, (jc + 0.5) / n)
    phi, lam = math.radians(lat), math.radians(lon)
    qx = math.cos(phi) * math.cos(lam)
    qy = math.cos(phi) * math.sin(lam)
    qz = math.sin(phi)
    dcenter = np.arccos(np.clip(cx * qx + cy * qy + cz * qz, -1.0, 1.0))
    circum = np.zeros_like(dcenter)
    for ds, dt in ((0, 0), (0, 1), (1, 0), (1, 1)):
        kx, ky, kz = cell_xyz((ic + ds) / n, (jc + dt) / n)
        corner = np.arccos(np.clip(cx * kx + cy * ky + cz * kz, -1.0, 1.0))
        circum = np.maximum(circum, corner)
    keep = dcenter <= ang + circum
    if not keep.any():
        return []
    shift = S2_MAX_LEVEL - level
    i30 = (ic[keep].astype(np.uint64) << np.uint64(shift)) + np.uint64(
        1 << (shift - 1)
    )
    j30 = (jc[keep].astype(np.uint64) << np.uint64(shift)) + np.uint64(
        1 << (shift - 1)
    )
    leaves = from_face_ij_np(face[keep], i30, j30)
    spans = []
    for leaf in leaves.tolist():
        cell = s2real_parent_py(int(leaf), level)
        lo, hi = s2real_range_py(cell)

        def sk(v: int) -> int:
            w = v ^ (1 << 63)
            return w - (1 << 64) if w >= (1 << 63) else w

        spans.append((sk(lo), sk(hi)))
    return list(merge_spans(spans))


def s2real_region_cover(
    lon: float,
    lat: float,
    radius_km: float,
    max_level: int = 8,
    max_cells: int = 48,
) -> list[tuple[int, int]]:
    """Adaptive spherical-cap cover — the genuine S2RegionCoverer
    algorithm shape: a priority queue seeded with the six face cells
    that always subdivides the LARGEST still-refinable intersecting
    cell next, takes fully-contained cells (center-dist + circumradius
    <= cap angle) whole, and freezes to the conservative side when the
    ``max_cells`` budget or ``max_level`` is reached. Mixed-level
    output: big interior chunks cost one span while the cap rim
    refines — tighter than any fixed-level cover at equal budget.
    Per-cell geometry is exact (center + 4 true corners), not a
    remembered library metric constant. Driver-side query planning,
    O(cells visited) python — the s2real_cap_cover/kNN-planner
    discipline."""
    import heapq

    from linear_quadtree_spark.functions.mercator import EARTH_RADIUS_KM
    from linear_quadtree_spark.intervals import merge_spans

    ang = radius_km / EARTH_RADIUS_KM
    phi, lam = math.radians(lat), math.radians(lon)
    q = (
        math.cos(phi) * math.cos(lam),
        math.cos(phi) * math.sin(lam),
        math.sin(phi),
    )

    # scalar math, not numpy: the planner calls this per cell on
    # 5-point batches, where ndarray dispatch overhead (~ms) dwarfs
    # the ~50 flops (measured: 1.5 s -> ~15 ms planning per query)
    def uv(s: float) -> float:
        if s >= 0.5:
            return (1.0 / 3.0) * (4.0 * s * s - 1.0)
        return (1.0 / 3.0) * (1.0 - 4.0 * (1.0 - s) * (1.0 - s))

    xyz_of = {
        0: lambda u, v: (1.0, u, v),
        1: lambda u, v: (-u, 1.0, v),
        2: lambda u, v: (-u, -v, 1.0),
        3: lambda u, v: (-1.0, -v, -u),
        4: lambda u, v: (v, -1.0, -u),
        5: lambda u, v: (v, u, -1.0),
    }

    def cell_geom(face: int, ic: int, jc: int, level: int):
        n = 1 << level
        pts = []
        for s, t in (
            ((ic + 0.5) / n, (jc + 0.5) / n),
            (ic / n, jc / n),
            (ic / n, (jc + 1) / n),
            ((ic + 1) / n, jc / n),
            ((ic + 1) / n, (jc + 1) / n),
        ):
            x, y, z = xyz_of[face](uv(s), uv(t))
            r = math.sqrt(x * x + y * y + z * z)
            pts.append((x / r, y / r, z / r))
        cx, cy, cz = pts[0]
        center = math.acos(
            max(-1.0, min(1.0, cx * q[0] + cy * q[1] + cz * q[2]))
        )
        circum = max(
            math.acos(max(-1.0, min(1.0, x * cx + y * cy + z * cz)))
            for x, y, z in pts[1:]
        )
        return center, circum

    out_cells: list[tuple[int, int, int, int]] = []
    heap: list = []
    seq = 0  # tiebreaker so tuple compare never reaches the payload
    for f in range(6):
        center, circum = cell_geom(f, 0, 0, 0)
        if center <= ang + circum:
            heapq.heappush(heap, (-circum, seq, f, 0, 0, 0, center))
            seq += 1
    while heap:
        negc, _, face, ic, jc, level, center = heapq.heappop(heap)
        circum = -negc
        contained = center + circum <= ang
        if (
            contained
            or level == max_level
            or len(out_cells) + len(heap) + 4 > max_cells
        ):
            out_cells.append((face, ic, jc, level))
            continue
        for di, dj in ((0, 0), (0, 1), (1, 0), (1, 1)):
            ci, cj = ic * 2 + di, jc * 2 + dj
            ccenter, ccircum = cell_geom(face, ci, cj, level + 1)
            if ccenter <= ang + ccircum:
                heapq.heappush(
                    heap, (-ccircum, seq, face, ci, cj, level + 1, ccenter)
                )
                seq += 1

    def sk(v: int) -> int:
        w = v ^ (1 << 63)
        return w - (1 << 64) if w >= (1 << 63) else w

    spans = []
    for face, ic, jc, level in out_cells:
        shift = S2_MAX_LEVEL - level
        i30 = (ic << shift) + (1 << (shift - 1)) if shift else ic
        j30 = (jc << shift) + (1 << (shift - 1)) if shift else jc
        leaf = int(from_face_ij_np([face], [i30], [j30])[0])
        lo, hi = s2real_range_py(s2real_parent_py(leaf, level))
        spans.append((sk(lo), sk(hi)))
    return list(merge_spans(spans))


def s2real_edge_neighbors_py(cell_id: int, level: int) -> list[int]:
    """The four edge neighbors of a level-``level`` cell —
    `S2CellId::GetEdgeNeighbors` semantics, including cross-face
    wrap, WITHOUT transcribing the library's FromFaceIJWrap tables:
    an out-of-face neighbor center is constructed GEOMETRICALLY (its
    uv coordinate runs past ±1, which still lands on a well-defined
    cube point), normalized to the sphere, and re-encoded through the
    ordinary forward path — the face selection then lands it on the
    adjacent face automatically. Exactness: cell centers sit half a
    cell from any boundary, so the re-encode is ulp-safe. Driver-side
    algebra (covers, ring expansion); O(1) per call."""
    face, i, j = s2real_to_face_ij_py(
        cell_id | 1 if cell_id % 2 == 0 else cell_id
    )
    # to_face_ij expects a leaf path; the center leaf of a cell at
    # `level` shares its high bits, so reconstruct from the cell's own
    # (face, i, j) truncated to the level grid
    shift = S2_MAX_LEVEL - level
    ic, jc = i >> shift, j >> shift
    n = 1 << level
    out = []
    for di, dj in ((0, -1), (0, 1), (-1, 0), (1, 0)):
        ni, nj = ic + di, jc + dj
        if 0 <= ni < n and 0 <= nj < n:
            i30 = (ni << shift) + (1 << (shift - 1)) if shift else ni
            j30 = (nj << shift) + (1 << (shift - 1)) if shift else nj
            leaf = int(from_face_ij_np([face], [i30], [j30])[0])
        else:
            # geometric wrap: center st one half-cell outside the face
            s = (ni + 0.5) / n
            t = (nj + 0.5) / n
            u = _uv_from_st(min(1.0, max(0.0, s))) if 0.0 <= s <= 1.0 else (
                1.0 + 2.0 * (s - 1.0) if s > 1.0 else -1.0 + 2.0 * s
            )
            v = _uv_from_st(min(1.0, max(0.0, t))) if 0.0 <= t <= 1.0 else (
                1.0 + 2.0 * (t - 1.0) if t > 1.0 else -1.0 + 2.0 * t
            )
            xyz = {
                0: (1.0, u, v),
                1: (-u, 1.0, v),
                2: (-u, -v, 1.0),
                3: (-1.0, -v, -u),
                4: (v, -1.0, -u),
                5: (v, u, -1.0),
            }[face]
            r = math.sqrt(sum(c * c for c in xyz))
            x, y, z = (c / r for c in xyz)
            lat = math.degrees(math.asin(max(-1.0, min(1.0, z))))
            lon = math.degrees(math.atan2(y, x))
            leaf = int(s2real_leaf_np([lon], [lat])[0])
        out.append(s2real_parent_py(leaf, level))
    return out
