"""Hilbert-curve alternate clustering key — pure integer expressions.

The engine's primary index is the reference-exact Morton zkey
(functions/encode.py). Morton is cheap (one interleave) but its curve
JUMPS: crossing the midline flips the high bit, so spatially-adjacent
cells can sit 2^62 keys apart, which costs range-scan locality. The
Hilbert curve visits every cell of the grid in a path whose CONSECUTIVE
keys are always 4-adjacent cells — strictly better clustering for the
same 2^2L key space — and is the curve real lakehouse clustering uses
when locality matters more than encode cost.

Implementation: the classic per-level rotate-and-flip transform
(Hamilton's compact algorithm), UNROLLED — `level` steps, each a few
integer CASEs carrying (hx, hy, hd) state. The state chain is expressed
as named intermediates (sequential projections in Spark, chained CTEs
in DuckDB) so the expression stays O(level), never exponential. All
arithmetic is engine-portable integers: `div`-by-power-of-two instead
of shifts, CASE instead of xor (DuckDB's `^` is POWER, not xor), so
Spark and DuckDB produce bit-identical keys with no UDF anywhere —
whole-stage codegen keeps the 6-step chain in one generated function.

Scale: the key is a map-only projection (zero shuffle); clustering a
table by it is the same repartitionByRange+sort the zkey build uses,
and range queries prune by hkey intervals exactly like zs ranges —
with measurably fewer cover intervals for rectangular windows (the
locality property asserted in tests/test_hilbert.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from linear_quadtree_spark.config import Bounds
from linear_quadtree_spark.functions.geocell import axis_index_expr
from linear_quadtree_spark.functions.textexpr import DUCK, Eng
from linear_quadtree_spark.plans.cover import spans_predicate

__all__ = [
    "HILBERT_LEVEL",
    "hilbert_xy2d_py",
    "with_hilbert_key",
    "hilbert_ctes_duck",
    "hilbert_cover_rect",
    "hilbert_bbox",
]

HILBERT_LEVEL = 6


def hilbert_xy2d_py(x: int, y: int, level: int) -> int:
    """Reference Python implementation (ground truth for tests)."""
    d = 0
    s = 1 << (level - 1)
    while s > 0:
        rx = 1 if (x & s) > 0 else 0
        ry = 1 if (y & s) > 0 else 0
        d += s * s * ((3 * rx) ^ ry)
        if ry == 0:
            if rx == 1:
                x = s - 1 - x
                y = s - 1 - y
            x, y = y, x
        s >>= 1
    return d


def _step(e: Eng, s: int, hx: str, hy: str, hd: str):
    """One rotate-and-flip level: returns (new_hx, new_hy, new_hd)
    expression strings over the carried state columns.

    The carried state is MASKED to bits below ``s`` every step
    (``% s``): downstream levels only read lower bits, the flip
    ``s-1-x`` is then a clean low-bit complement, and every
    intermediate stays non-negative — which is what makes trunc-vs-
    floor division/modulo semantics (Spark/DuckDB vs Python) a
    non-issue and keeps the chain equal to the canonical xy2d
    recursion (equality exhaustively tested at several levels)."""
    rx = f"({e.idiv(hx, str(s))} % 2)"
    ry = f"({e.idiv(hy, str(s))} % 2)"
    mx = f"({hx} % {s})" if s > 1 else "0"
    my = f"({hy} % {s})" if s > 1 else "0"
    # (3*rx) xor ry via CASE — rx, ry ∈ {0, 1}
    q = (
        f"CASE WHEN {rx} = 0 AND {ry} = 0 THEN 0 "
        f"WHEN {rx} = 0 AND {ry} = 1 THEN 1 "
        f"WHEN {rx} = 1 AND {ry} = 1 THEN 2 ELSE 3 END"
    )
    nd = f"{hd} + CAST({s} AS BIGINT) * {s} * ({q})"
    # ry=1 → keep (masked); ry=0 → optional flip (rx=1) then swap axes
    nx = (
        f"CASE WHEN {ry} = 1 THEN {mx} "
        f"WHEN {rx} = 1 THEN {s - 1} - {my} ELSE {my} END"
    )
    ny = (
        f"CASE WHEN {ry} = 1 THEN {my} "
        f"WHEN {rx} = 1 THEN {s - 1} - {mx} ELSE {mx} END"
    )
    return nx, ny, nd


def with_hilbert_key(
    df: DataFrame,
    x_col: str,
    y_col: str,
    bounds: Bounds,
    level: int = HILBERT_LEVEL,
    out: str = "hkey",
) -> DataFrame:
    """Append the Hilbert key of (x, y) at `level` (2^level × 2^level
    grid over `bounds`, same clamped axis indexing as the geocell).
    Sequential named projections — O(level) integer ops per row,
    map-only, codegen-friendly."""
    from linear_quadtree_spark.functions.textexpr import SPARK

    d = df.withColumn(
        "_hx0", F.expr(axis_index_expr(SPARK, x_col, bounds.xstart, bounds.xend, level))
    ).withColumn(
        "_hy0", F.expr(axis_index_expr(SPARK, y_col, bounds.ystart, bounds.yend, level))
    ).withColumn("_hd0", F.lit(0).cast("long"))
    for i in range(level):
        s = 1 << (level - 1 - i)
        nx, ny, nd = _step(SPARK, s, f"_hx{i}", f"_hy{i}", f"_hd{i}")
        d = (
            d.withColumn(f"_hx{i + 1}", F.expr(nx))
            .withColumn(f"_hy{i + 1}", F.expr(ny))
            .withColumn(f"_hd{i + 1}", F.expr(nd))
        )
    d = d.withColumn(out, F.col(f"_hd{level}"))
    return d.drop(*[f"_h{a}{i}" for a in "xyd" for i in range(level + 1)])


def hilbert_ctes_duck(
    src: str,
    x_col: str,
    y_col: str,
    bounds: Bounds,
    level: int = HILBERT_LEVEL,
    carry: str = "doc_id",
) -> str:
    """CTE chain ending in ``hfin(<carry>, hkey)`` — the identical
    unrolled transform in DuckDB."""
    e = DUCK
    gx = axis_index_expr(e, x_col, bounds.xstart, bounds.xend, level)
    gy = axis_index_expr(e, y_col, bounds.ystart, bounds.yend, level)
    parts = [
        f"h0 AS (SELECT {carry}, {gx} AS hx, {gy} AS hy,"
        f" CAST(0 AS BIGINT) AS hd FROM {src})"
    ]
    for i in range(level):
        s = 1 << (level - 1 - i)
        nx, ny, nd = _step(e, s, "hx", "hy", "hd")
        parts.append(
            f"h{i + 1} AS (SELECT {carry}, {nx} AS hx, {ny} AS hy,"
            f" {nd} AS hd FROM h{i})"
        )
    parts.append(f"hfin AS (SELECT {carry}, hd AS hkey FROM h{level})")
    return ",\n".join(parts)


# ------------------------------------------------------------- cover planner
def hilbert_cover_rect(
    x0: float,
    x1: float,
    y0: float,
    y1: float,
    bounds: Bounds,
    level: int = HILBERT_LEVEL,
    max_depth: int | None = None,
) -> list[tuple[int, int]]:
    """Rectangle → merged CLOSED hkey ranges [(lo, hi), ...] covering
    every grid cell the closed rect intersects.

    The Hilbert curve is hierarchical: the depth-d index of a cell IS
    the key prefix of every level-L key inside it (d_L(x, y) div
    4^(L-d) == d_d(x>>(L-d), y>>(L-d)) — exhaustively verified in
    tests), so a depth-d quadrant owns exactly the CONTIGUOUS range
    [cell·4^(L-d), (cell+1)·4^(L-d)). The planner descends quadrants,
    emitting whole ranges for contained cells — the same recursive
    cover `plans/cover.py` runs in zkey space, but over a curve whose
    covers merge into ~2× fewer runs (tests/test_hilbert.py)."""
    import math

    if max_depth is None:
        max_depth = level
    n = 1 << level

    def axis(v: float, lo: float, hi: float) -> int:
        raw = math.floor((float(v) - lo) * (float(n) / (hi - lo)))
        return max(0, min(n - 1, int(raw)))

    gx0, gx1 = axis(x0, bounds.xstart, bounds.xend), axis(x1, bounds.xstart, bounds.xend)
    gy0, gy1 = axis(y0, bounds.ystart, bounds.yend), axis(y1, bounds.ystart, bounds.yend)
    ranges: list[tuple[int, int]] = []

    def emit(cx: int, cy: int, d: int) -> None:
        w = 1 << (level - d)
        lox, hix = cx * w, (cx + 1) * w - 1
        loy, hiy = cy * w, (cy + 1) * w - 1
        if hix < gx0 or lox > gx1 or hiy < gy0 or loy > gy1:
            return
        contained = lox >= gx0 and hix <= gx1 and loy >= gy0 and hiy <= gy1
        if contained or d >= max_depth:
            span = 4 ** (level - d)
            base = hilbert_xy2d_py(cx, cy, d) * span if d else 0
            ranges.append((base, base + span - 1))
            return
        for dx in (0, 1):
            for dy in (0, 1):
                emit(2 * cx + dx, 2 * cy + dy, d + 1)

    emit(0, 0, 0)
    ranges.sort()
    merged = [ranges[0]]
    for lo, hi in ranges[1:]:
        if lo <= merged[-1][1] + 1:
            merged[-1] = (merged[-1][0], max(merged[-1][1], hi))
        else:
            merged.append((lo, hi))
    return merged


def hilbert_bbox(
    df: DataFrame,
    x0: float,
    x1: float,
    y0: float,
    y1: float,
    bounds: Bounds,
    level: int = HILBERT_LEVEL,
    x_col: str = "x",
    y_col: str = "y",
    key_col: str = "hkey",
) -> DataFrame:
    """bbox query over a Hilbert-keyed relation: OR-of-BETWEEN pruned
    scan on the hkey ranges (sargable — on an hkey-sorted table the
    predicates reach parquet row-group stats), then the exact closed-
    rect refine on (x, y). Same two-phase shape as the zkey
    `bbox_query`; results are therefore independent of the cover and
    trivially oracle-checkable.

    CONTRACT: `key_col` must be a stored, cached, or otherwise
    materialized column (the clustering-key workflow — you write the
    table sorted by hkey, then query it). Filtering a just-computed
    `with_hilbert_key` chain instead lets Catalyst inline the unrolled
    transform into every BETWEEN; each step references its state
    several times, so the collapsed tree grows combinatorially and the
    optimizer stalls for minutes. Cache or save first."""
    cover = hilbert_cover_rect(x0, x1, y0, y1, bounds, level)
    return df.filter(spans_predicate(key_col, cover)).filter(
        (F.col(x_col).cast("double") >= x0)
        & (F.col(x_col).cast("double") <= x1)
        & (F.col(y_col).cast("double") >= y0)
        & (F.col(y_col).cast("double") <= y1)
    )
