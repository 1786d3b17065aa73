"""Engine-wide constants.

The reference fixes tree depth at 32 levels (2 bits/level, 64-bit key):
``LINEAR_QUADTREE_DEPTH = sizeof(location_t)*CHAR_BIT/2`` (lqt.h:27).
Its test harness uses the bounding box [1000,1100)² (main.cpp:60-61).
"""

from __future__ import annotations

from dataclasses import dataclass

#: Tree depth in levels (2 bits per level, 64-bit key). lqt.h:27.
DEPTH = 32

#: Sign-bit mask: Spark has no unsigned 64-bit, so raw zkeys with the top
#: bit set (y above the root midline at level 1) are negative as signed
#: longs and would sort first. XOR with this flips the sign bit, making
#: signed order == unsigned order. Applied symmetrically to keys and to
#: query range endpoints (SURVEY §1.2).
SIGN_BIT = 1 << 63

#: uint64 max — the reference's merge sentinel (lqt.cpp:7).
UINT64_MAX = (1 << 64) - 1

#: Max level at which we trust prefix-faithfulness for non-degenerate
#: points and plan range covers. Float32 box descent saturates (halfWidth
#: underflows one ULP of the origin) around level ~21 for origins near
#: 1000 (SURVEY §1.3); 16 leaves a wide margin. Covers never decompose
#: deeper than this.
MAX_SAFE_LEVEL = 16

#: Ranges a key-range cover returns by default (z-order and Hilbert): each
#: is one BETWEEN that Spark parses, optimizes and code-generates per
#: query; plans/cover.py gives the measurements behind 16.
MAX_COVER_RANGES = 16


@dataclass(frozen=True)
class Bounds:
    """Quadtree root bounding box — caller-supplied in the reference
    (lqt_nodify params, lqt.cpp:35-38). Stored as Python floats; the
    encode kernel casts to float32 before any arithmetic."""

    xstart: float
    xend: float
    ystart: float
    yend: float

    def as_tuple(self) -> tuple[float, float, float, float]:
        return (self.xstart, self.xend, self.ystart, self.yend)


#: The reference test harness bounds (main.cpp:60-61).
DEFAULT_BOUNDS = Bounds(1000.0, 1100.0, 1000.0, 1100.0)
