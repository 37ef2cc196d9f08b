"""Library-level query *planning*: rectangle → minimal zkey interval set.

This is the only "optimizer" we hand-write (SURVEY §4): it emits ordinary
range predicates that Catalyst then pushes into the parquet scan, where the
zs-sorted layout turns them into row-group / partition pruning.

Correctness contract (see functions/encode.py): the planner walks the SAME
float32 box-descent grid as the encode kernel, so for every point with
``zlvl >= max_level`` whose (x, y) lies in the query rect (closed), the
point's zkey falls inside one of the returned ranges. Points with
``zlvl < max_level`` must be scanned separately (they are a ~0.1% fraction;
the build stores them as a dedicated side relation).

Quadrant ranges: a depth-d cell with prefix p owns exactly the uint64 keys
[p << 2(32-d), (p+1) << 2(32-d)) — SURVEY §2.9. We return *closed* ranges
in sign-flipped (zs) space so they compose directly into
``zs BETWEEN lo AND hi`` predicates (signed order == unsigned order after
the flip, SURVEY §1.2).
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np

from linear_quadtree_spark.config import DEPTH, MAX_SAFE_LEVEL, SIGN_BIT, Bounds
from linear_quadtree_spark.intervals import merge_spans

__all__ = [
    "ZRange", "cover_rect", "cover_cells", "spans_predicate", "ranges_to_predicate",
    "merge_ranges",
]

_I64 = (1 << 64) - 1
_INT64_MIN = -(1 << 63)


def _flip(u: int) -> int:
    """uint64 → signed int64 with the sign bit flipped (order-preserving)."""
    v = u ^ SIGN_BIT
    return v - (1 << 64) if v >= (1 << 63) else v


@dataclass(frozen=True)
class ZRange:
    """Closed zs range [lo, hi] (sign-flipped int64 space)."""

    lo: int
    hi: int


def merge_ranges(ranges: list[ZRange]) -> list[ZRange]:
    """Coalesce adjacent/overlapping closed ranges (z-order rect covers are
    full of contiguous quadrants) — a ZRange-typed wrapper over the
    package-wide `intervals.merge_spans`."""
    return [
        ZRange(lo, hi) for lo, hi in merge_spans((r.lo, r.hi) for r in ranges)
    ]


def cover_rect(
    x0: float,
    x1: float,
    y0: float,
    y1: float,
    bounds: Bounds,
    max_level: int = 10,
    max_ranges: int = 256,
) -> list[ZRange]:
    """Decompose the closed rect [x0,x1]×[y0,y1] into zs ranges.

    Walks the float32 descent grid (identical arithmetic to the encode
    kernel's box snap for non-degenerate points: child boundaries are
    ``fl32(start + fl32((end-start)/2))``). A cell is owned closed-on-the-
    low-side (strict ``>`` emits the low bit), but we intersect with cell
    *closures* so boundary ambiguity can only add candidates, never drop
    them. Subdivision stops at ``max_level`` (must be ≤ MAX_SAFE_LEVEL,
    the zlvl guarantee horizon) or when the range budget is exhausted —
    both only coarsen the cover, which stays conservative.
    """
    if max_level > MAX_SAFE_LEVEL:
        raise ValueError(f"max_level must be <= {MAX_SAFE_LEVEL}")
    if x1 < x0 or y1 < y0:
        return []
    f32 = np.float32
    two = f32(2.0)
    qx0, qx1, qy0, qy1 = float(x0), float(x1), float(y0), float(y1)

    out: list[ZRange] = []

    def emit(prefix: int, level: int) -> None:
        shift = 2 * (DEPTH - level)
        lo = (prefix << shift) & _I64
        hi = (((prefix + 1) << shift) - 1) & _I64
        out.append(ZRange(_flip(lo), _flip(hi)))

    # Breadth-first by level so the range budget degrades gracefully: when
    # subdividing further would blow the budget, the remaining partials are
    # emitted at a UNIFORM level (a slightly coarser, still conservative
    # cover) — never a near-root cell.
    if (
        f32(bounds.xstart) >= qx0
        and f32(bounds.xend) <= qx1
        and f32(bounds.ystart) >= qy0
        and f32(bounds.yend) <= qy1
    ):
        emit(0, 0)
        return merge_ranges(out)

    partial = [
        (0, f32(bounds.xstart), f32(bounds.xend), f32(bounds.ystart), f32(bounds.yend))
    ]
    for level in range(max_level):
        nxt: list[tuple] = []
        for prefix, cxs, cxe, cys, cye in partial:
            nw = (cxe - cxs) / two
            nh = (cye - cys) / two
            midx = cxs + nw
            midy = cys + nh
            xiv = ((cxs, midx), (midx, midx + nw))
            yiv = ((cys, midy), (midy, midy + nh))
            for by in (0, 1):
                ylo, yhi = yiv[by]
                if yhi < qy0 or ylo > qy1:
                    continue
                for bx in (0, 1):
                    xlo, xhi = xiv[bx]
                    if xhi < qx0 or xlo > qx1:
                        continue
                    child = (prefix << 2) | (by << 1) | bx
                    # closed-cell containment in the closed rect
                    if xlo >= qx0 and xhi <= qx1 and ylo >= qy0 and yhi <= qy1:
                        emit(child, level + 1)
                    else:
                        nxt.append((child, xlo, xhi, ylo, yhi))
        if len(out) + len(nxt) > max_ranges:
            # budget: emit the boundary cells at this level instead of
            # splitting further (uniformly coarser, still conservative)
            for prefix, cxs, cxe, cys, cye in nxt:
                emit(prefix, level + 1)
            nxt = []
        partial = nxt
        if not partial:
            break
    for prefix, cxs, cxe, cys, cye in partial:
        emit(prefix, max_level)

    return merge_ranges(out)


def cover_cells(
    x0: float,
    x1: float,
    y0: float,
    y1: float,
    bounds: Bounds,
    level: int,
    max_cells: int = 8192,
) -> tuple[int, list[int]]:
    """Enumerate ALL grid cells (zkey prefixes) at one uniform level whose
    closure intersects the closed rect — the side relation of a grid-cell
    *equi-join* (``zkey >>> (64-2L) == prefix``), which Spark executes as a
    broadcast hash join instead of a nested-loop range join.

    Unlike cover_rect this is O(area/cell²), so the level auto-coarsens
    until the cell count fits ``max_cells``. Returns ``(level, prefixes)``.
    Same conservativeness contract as cover_rect for rows with
    ``zlvl >= level``.
    """
    if level > MAX_SAFE_LEVEL:
        raise ValueError(f"level must be <= {MAX_SAFE_LEVEL}")
    if x1 < x0 or y1 < y0:
        return level, []
    f32 = np.float32
    two = f32(2.0)
    qx0, qx1, qy0, qy1 = float(x0), float(x1), float(y0), float(y1)

    while True:
        cells: list[int] = []
        frontier = [
            (0, f32(bounds.xstart), f32(bounds.xend), f32(bounds.ystart), f32(bounds.yend))
        ]
        blown = False
        for lv in range(level):
            nxt: list[tuple] = []
            for prefix, cxs, cxe, cys, cye in frontier:
                nw = (cxe - cxs) / two
                nh = (cye - cys) / two
                midx = cxs + nw
                midy = cys + nh
                xiv = ((cxs, midx), (midx, midx + nw))
                yiv = ((cys, midy), (midy, midy + nh))
                for by in (0, 1):
                    ylo, yhi = yiv[by]
                    if yhi < qy0 or ylo > qy1:
                        continue
                    for bx in (0, 1):
                        xlo, xhi = xiv[bx]
                        if xhi < qx0 or xlo > qx1:
                            continue
                        nxt.append(((prefix << 2) | (by << 1) | bx, xlo, xhi, ylo, yhi))
            if len(nxt) > max_cells:
                blown = True
                break
            frontier = nxt
        if not blown:
            return level, [p for p, *_ in frontier]
        level -= 1
        if level <= 0:
            # NEVER return level 0: the documented equi-join key is
            # zkey >>> (64 - 2L), and the JVM masks shift distances
            # mod 64, so >>> 64 is the identity — a level-0 "prefix 0"
            # would match only zkey == 0. Four level-1 quads cover the
            # whole domain and shift by the valid 62.
            return 1, [0, 1, 2, 3]


def spans_predicate(col: str, spans):
    """Compile closed integer spans into ONE Catalyst predicate on ``col``.

    The OR-of-BETWEEN is built as a single SQL string and parsed once
    (``F.expr``): plain comparisons on the scan column, so parquet
    min/max row-group stats prune on a sorted layout, at one py4j call
    for the whole chain instead of three per span. A span starting at
    -2^63 is written ``col <= hi``: the lower bound is implied by the
    BIGINT type, and a grammar that reads the sign as an operator
    parses ``-9223372036854775808`` as the negation of a DECIMAL, which
    would cast the column and stop the pushdown. Used by every curve:
    zs covers, quadrant-directory runs, Hilbert and S2 sort-key spans."""
    from pyspark.sql import functions as F

    terms = [
        f"({col} <= {hi})" if lo == _INT64_MIN else f"({col} BETWEEN {lo} AND {hi})"
        for lo, hi in spans
    ]
    return F.expr(" OR ".join(terms)) if terms else F.lit(False)


def ranges_to_predicate(ranges: list[ZRange], zs_col: str = "zs"):
    """Compile a zs cover into a single predicate on the ``zs_col``
    column (see :func:`spans_predicate`)."""
    return spans_predicate(zs_col, ((r.lo, r.hi) for r in ranges))
