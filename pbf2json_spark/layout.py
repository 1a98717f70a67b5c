"""Z-order (Morton) and Hilbert keys for spatial file pruning.

At 10^12 rows the cheapest predicate is the one that never reads the file:
parquet keeps per-file (and per-row-group) min/max statistics, and a scan
skips every file whose stats exclude the range — IF the writer placed
spatially-near rows in the same files. A writer that range-partitions and
sorts by a space-filling-curve key of (lat, lon) gives each file a tight
bounding box; this module computes those keys and rewrites a bbox
predicate as ranges of them, so the pruning happens on the key column.

The Morton key is the same bit interleave the cell index uses
(cells._spread_col).
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from pbf2json_spark import cells


def zorder_col(lat: Column, lon: Column, res: int = 16) -> Column:
    """Morton interleave of the (lat, lon) grid coordinates at `res` bits
    per axis — pure Column bit math, no Python."""
    return cells.cell_col(lat, lon, res)


# --- Hilbert curve ------------------------------------------------------------
#
# The Morton/Z-order interleave above has one locality defect: consecutive
# codes can jump across the whole grid (the "Z" seams), so a range of codes
# maps to up to O(range) disconnected strips. The Hilbert curve is the
# locality-optimal alternative — CONSECUTIVE codes are ALWAYS 4-adjacent
# cells (Manhattan distance exactly 1), so a contiguous code range is one
# connected blob and per-file parquet bboxes come out tighter for the same
# file count. Same public algorithm as Wikipedia's xy2d/d2xy (the classic
# rot/reflect bit walk), expressed three ways from one spec:
#   * numpy (vectorized over rows, loop over res bit levels) — Arrow-batch
#     kernels and test cross-checks;
#   * Column chain (`hilbert_df`) — one withColumn round per bit level;
#     every level is plain CASE/bit arithmetic, stays JVM-side (Spark 4's
#     CollapseProject keeps multi-referenced non-cheap exprs materialized,
#     so the chain stays linear-size);
#   * generated SQL (`hilbert_sql_levels` in __spark_entry__) — the DuckDB
#     oracle, same loop emitting one nested subquery per level.
# All integer ops — the three agree bit-for-bit (tests/test_wave34.py).

import numpy as np
import pandas as pd


def hilbert_d(x: "np.ndarray", y: "np.ndarray", res: int) -> "np.ndarray":
    """(x, y) grid coords in [0, 2^res) → Hilbert distance d in
    [0, 4^res). Vectorized over rows; res iterations of the rot/reflect
    walk from the most significant bit down."""
    n = np.int64(1) << res
    x = x.astype(np.int64).copy()
    y = y.astype(np.int64).copy()
    d = np.zeros(x.shape, np.int64)
    s = np.int64(1) << (res - 1)
    while s > 0:
        rx = ((x & s) > 0).astype(np.int64)
        ry = ((y & s) > 0).astype(np.int64)
        d += s * s * ((3 * rx) ^ ry)
        refl = (ry == 0) & (rx == 1)
        x2 = np.where(refl, n - 1 - x, x)
        y2 = np.where(refl, n - 1 - y, y)
        swap = ry == 0
        x, y = np.where(swap, y2, x2), np.where(swap, x2, y2)
        s >>= np.int64(1)
    return d


def hilbert_xy(d: "np.ndarray", res: int) -> tuple["np.ndarray", "np.ndarray"]:
    """Inverse of hilbert_d: distance → (x, y). The rotation at level s
    reflects within the s-sized subsquare (s-1-x), per the public d2xy."""
    t = d.astype(np.int64).copy()
    x = np.zeros(t.shape, np.int64)
    y = np.zeros(t.shape, np.int64)
    s = np.int64(1)
    while s < (np.int64(1) << res):
        rx = np.int64(1) & (t >> np.int64(1))
        ry = np.int64(1) & (t ^ rx)
        refl = (ry == 0) & (rx == 1)
        x2 = np.where(refl, s - 1 - x, x)
        y2 = np.where(refl, s - 1 - y, y)
        swap = ry == 0
        x, y = np.where(swap, y2, x2), np.where(swap, x2, y2)
        x += s * rx
        y += s * ry
        t >>= np.int64(2)
        s <<= np.int64(1)
    return x, y


def hilbert_df(
    df: DataFrame,
    x_col: str,
    y_col: str,
    res: int,
    out: str = "hilbert_d",
) -> DataFrame:
    """Append the Hilbert distance of integer grid columns (x_col, y_col)
    at `res` bits per axis as `out` — pure Column arithmetic, two Project
    nodes per bit level (linear plan; CASE/bit ops only, no Python
    crossing). Temp columns are dropped.

    The JVM-only path exists for oracle-exact comparisons and modest
    res; the deep projection chain compiles into a huge codegen function
    and tops out ~400k rows/s at res 16 — bulk keying should use
    hilbert_udf (Arrow numpy, same bits, ~100x faster)."""
    tx, ty, td = "__hx", "__hy", out
    clash = {tx, ty} & set(df.columns)
    if clash:
        raise ValueError(f"input frame already has {sorted(clash)}")
    n = 1 << res
    o = df.withColumn(tx, F.col(x_col).cast("long")).withColumn(
        ty, F.col(y_col).cast("long")
    ).withColumn(td, F.lit(0).cast("long"))
    s = 1 << (res - 1)
    while s > 0:
        # two Projects per bit level: (rx, ry) then (d', x', y') — keeps the
        # logical plan shallow (2·res nodes) so analysis stays cheap at res 16
        rx = F.when(F.col(tx).bitwiseAND(F.lit(s).cast("long")) > 0, F.lit(1).cast("long")).otherwise(F.lit(0).cast("long"))
        ry = F.when(F.col(ty).bitwiseAND(F.lit(s).cast("long")) > 0, F.lit(1).cast("long")).otherwise(F.lit(0).cast("long"))
        o = o.withColumns({"__rx": rx, "__ry": ry})
        refl = (F.col("__ry") == 0) & (F.col("__rx") == 1)
        swap = F.col("__ry") == 0
        x2 = F.when(refl, F.lit(n - 1).cast("long") - F.col(tx)).otherwise(F.col(tx))
        y2 = F.when(refl, F.lit(n - 1).cast("long") - F.col(ty)).otherwise(F.col(ty))
        o = o.withColumns({
            td: F.col(td)
            + F.lit(int(s) * int(s)).cast("long")
            * (F.col("__rx") * 3).bitwiseXOR(F.col("__ry")),
            tx: F.when(swap, y2).otherwise(x2),
            ty: F.when(swap, x2).otherwise(y2),
        })
        s >>= 1
    return o.drop(tx, ty, "__rx", "__ry")


def hilbert_udf(res: int):
    """Arrow-batched numpy kernel computing the same Hilbert distance —
    the BULK path. The Column chain above is pure JVM but its 2·res-deep
    projection stack compiles into a huge codegen function (~400k rows/s
    at res 16 measured on local[32]); the numpy walk is ~50 M rows/s per
    core over Arrow batches, so write-time layout keys use this. The two
    paths agree bit-for-bit (tests/test_wave34.py)."""

    @F.pandas_udf("long")
    def _h(x: pd.Series, y: pd.Series) -> pd.Series:
        return pd.Series(hilbert_d(x.to_numpy(), y.to_numpy(), res))

    return _h


# --- Z-order range planning ---------------------------------------------------
#
# Laying data out by Morton code only pays off if QUERIES
# can be expressed as ranges of that code: a bbox predicate on raw lat/lon
# prunes nothing on a file sorted by the interleaved key (each file's
# lat/lon min/max stay near-global in one axis), but the SAME bbox
# rewritten as a small set of Morton-code intervals prunes against the
# key column's per-file min/max directly. This is the classic
# quadtree/BIGMIN decomposition (the mechanism behind S2 cell coverings
# and Delta/Iceberg Z-order pruning): recursively split the grid; a quad
# fully inside the bbox contributes its whole contiguous code interval,
# a partial quad recurses, a disjoint quad is skipped. DFS in child-code
# order yields the intervals already sorted; adjacent intervals merge;
# a range budget coarsens by swallowing the SMALLEST inter-range gaps
# (false positives only — the residual exact predicate removes them),
# keeping the scan's OR-of-BETWEENs bounded.


def _grid_box(
    lat0: float, lat1: float, lon0: float, lon1: float,
    res: int, max_ranges: int,
) -> tuple[int, int, int, int] | None:
    """Inclusive grid bounds (qx0, qx1, qy0, qy1) of the bbox's cells at
    `res` (the floor and clamp of cells.xy), or None for an empty bbox."""
    if not 0 <= res <= cells.MAX_RES:
        raise ValueError(f"res must be in [0, {cells.MAX_RES}]")
    if max_ranges < 1:
        raise ValueError("max_ranges >= 1")
    if lat1 < lat0 or lon1 < lon0:
        # an inverted box is empty in degrees even when both edges floor
        # into the same grid cell
        return None
    n = 1 << res
    return (
        max(0, min(n - 1, math.floor((lon0 + 180.0) / 360.0 * n))),
        max(0, min(n - 1, math.floor((lon1 + 180.0) / 360.0 * n))),
        max(0, min(n - 1, math.floor((lat0 + 90.0) / 180.0 * n))),
        max(0, min(n - 1, math.floor((lat1 + 90.0) / 180.0 * n))),
    )


def _coarsen(out: list[tuple[int, int]], max_ranges: int) -> list[tuple[int, int]]:
    """Merge sorted intervals across their smallest gaps until at most
    `max_ranges` remain — a superset, adding false positives only."""
    while len(out) > max_ranges:
        gi = min(range(len(out) - 1),
                 key=lambda i: out[i + 1][0] - out[i][1])
        out[gi:gi + 2] = [(out[gi][0], out[gi + 1][1])]
    return out


def _range_filter(
    df: DataFrame,
    ranges: list[tuple[int, int]],
    bbox: tuple[float, float, float, float],
    lat_col: str,
    lon_col: str,
    key_col: str | None,
    temp_key: str,
    computed_key,
) -> DataFrame:
    """The tail of zorder_range_filter and hilbert_range_filter: rows whose
    key falls in one of `ranges` AND inside the exact bbox (lat0, lat1,
    lon0, lon1). The key is the stored `key_col`, or, without one,
    `computed_key()` in the temporary column `temp_key`, dropped after.

    The plain OR-of-BETWEENs on a stored key reaches the parquet scan as
    PushedFilters and prunes row groups by the key's min/max stats; on the
    computed key it's the same cheap attribute comparisons. The residual
    exact bbox predicate keeps semantics independent of `max_ranges`
    coarsening."""
    if not ranges:
        return df.filter(F.lit(False))
    drop_key = key_col is None
    if drop_key:
        key_col = temp_key
        if key_col in df.columns:
            raise ValueError(f"input frame already has a {key_col!r} column")
        df = df.withColumn(key_col, computed_key())
    key = F.col(key_col)
    cond = None
    for lo, hi in ranges:
        c = key.between(F.lit(lo), F.lit(hi))
        cond = c if cond is None else cond | c
    lat0, lat1, lon0, lon1 = bbox
    exact = (
        (F.col(lat_col) >= F.lit(float(lat0)))
        & (F.col(lat_col) <= F.lit(float(lat1)))
        & (F.col(lon_col) >= F.lit(float(lon0)))
        & (F.col(lon_col) <= F.lit(float(lon1)))
    )
    out = df.filter(cond & exact)
    return out.drop(key_col) if drop_key else out


def zorder_ranges(
    lat0: float, lat1: float, lon0: float, lon1: float,
    res: int = 16, max_ranges: int = 64,
) -> list[tuple[int, int]]:
    """Minimal sorted list of [lo, hi] Morton-code intervals (cell_col
    bit layout, res prefix included) covering every grid cell at `res`
    that intersects the bbox — at most `max_ranges` intervals (coarsened
    by smallest-gap merging beyond that, a superset never a subset).

    Driver-side planning only: work is bounded by the perimeter of the
    bbox in quads (O(max_ranges + res * perimeter_quads)), independent of
    table size — the plan is then pushed down as BETWEENs on the stored
    key column.
    """
    box = _grid_box(lat0, lat1, lon0, lon1, res, max_ranges)
    if box is None:
        return []
    qx0, qx1, qy0, qy1 = box
    prefix = res << cells._RES_SHIFT
    out: list[tuple[int, int]] = []

    def walk(level: int, code: int, x: int, y: int) -> None:
        # quad at `level` covers x..x+s-1 / y..y+s-1 grid cells and the
        # contiguous code interval [code << 2k, ((code+1) << 2k) - 1]
        s = 1 << (res - level)
        if x > qx1 or x + s - 1 < qx0 or y > qy1 or y + s - 1 < qy0:
            return
        k = 2 * (res - level)
        if qx0 <= x and x + s - 1 <= qx1 and qy0 <= y and y + s - 1 <= qy1:
            lo, hi = code << k, ((code + 1) << k) - 1
            if out and out[-1][1] + 1 == lo:
                out[-1] = (out[-1][0], hi)  # adjacent: merge in place
            else:
                out.append((lo, hi))
            return
        h = s >> 1
        for c in range(4):  # child-code order == ascending Morton order
            walk(level + 1, code << 2 | c,
                 x + (c & 1) * h, y + (c >> 1) * h)

    walk(0, 0, 0, 0)
    return [(prefix | lo, prefix | hi) for lo, hi in _coarsen(out, max_ranges)]


def zorder_range_filter(
    df: DataFrame,
    lat0: float, lat1: float, lon0: float, lon1: float,
    res: int = 16, max_ranges: int = 64,
    lat_col: str = "lat", lon_col: str = "lon",
    key_col: str | None = None,
) -> DataFrame:
    """Bbox filter as pushed-down Z-key ranges + exact residual.

    With `key_col` naming a STORED Morton-key column (written by a
    `withColumn(key, zorder_col(...))` sink sorted on that key), the
    OR-of-BETWEENs reaches the parquet scan as PushedFilters and prunes
    row groups by the key's min/max stats — the read-side payoff of the
    write-side layout. Without it the ranges are computed on the fly
    (no stats pruning, but the cheap integer disjunction still
    short-circuits ahead of the residual float predicate). The residual
    exact bbox predicate keeps semantics independent of `max_ranges`
    coarsening.
    """
    ranges = zorder_ranges(lat0, lat1, lon0, lon1, res, max_ranges)

    def key() -> Column:
        # computed key: key rows with the Arrow numpy kernel. Predicate
        # pushdown would substitute an inline Column key into the filter,
        # duplicating the spread-bit ladder 2·|ranges| times in ONE
        # codegen method (measured: janino OOM / interpreter fallback at
        # ~64 ranges; an exists() probe avoids that but runs as an
        # interpreted HOF — measured ~6x slower than the Arrow path at
        # sf0.1). The ArrowEvalPython node is a pushdown barrier and its
        # output a plain attribute, so the BETWEENs stay cheap.
        @F.pandas_udf("long")
        def _zkey(lat: pd.Series, lon: pd.Series) -> pd.Series:
            return pd.Series(cells.encode(
                lat.to_numpy(np.float64), lon.to_numpy(np.float64), res
            ))

        return _zkey(F.col(lat_col), F.col(lon_col))

    return _range_filter(
        df, ranges, (lat0, lat1, lon0, lon1), lat_col, lon_col,
        key_col, "__zr_key", key,
    )


def hilbert_ranges(
    lat0: float, lat1: float, lon0: float, lon1: float,
    res: int = 16, max_ranges: int = 64,
) -> list[tuple[int, int]]:
    """Sorted merged [lo, hi] HILBERT-distance intervals (hilbert_d /
    hilbert_df convention) covering every grid cell at `res` intersecting
    the bbox — the locality-optimal sibling of zorder_ranges: because
    consecutive Hilbert codes are always 4-adjacent cells, the same bbox
    needs FEWER intervals than the Morton decomposition (no Z seams), so
    the pushed scan predicate is smaller for the same pruning power.

    Same recursion shape as zorder_ranges but the quad walk carries the
    curve's corner + axis vectors (rotation/reflection state); children
    visited in curve order, so DFS emits intervals already ascending.
    Budget coarsening merges smallest gaps (false positives only).
    """
    box = _grid_box(lat0, lat1, lon0, lon1, res, max_ranges)
    if box is None:
        return []
    qx0, qx1, qy0, qy1 = box
    n = 1 << res
    out: list[tuple[int, int]] = []
    d0 = 0  # DFS cursor: curve distance at the node's first cell

    def walk(x0, y0, xi, xj, yi, yj, level):
        nonlocal d0
        size = 1 << (2 * level)
        # node bbox from the two diagonal corners (axes may be negative)
        cnx, cny = x0 + xi + yi, y0 + xj + yj
        lo_x, hi_x = min(x0, cnx), max(x0, cnx) - 1
        lo_y, hi_y = min(y0, cny), max(y0, cny) - 1
        if lo_x > qx1 or hi_x < qx0 or lo_y > qy1 or hi_y < qy0:
            d0 += size
            return
        if qx0 <= lo_x and hi_x <= qx1 and qy0 <= lo_y and hi_y <= qy1:
            lo, hi = d0, d0 + size - 1
            if out and out[-1][1] + 1 == lo:
                out[-1] = (out[-1][0], hi)
            else:
                out.append((lo, hi))
            d0 += size
            return
        walk(x0, y0, yi // 2, yj // 2, xi // 2, xj // 2, level - 1)
        walk(x0 + xi // 2, y0 + xj // 2,
             xi // 2, xj // 2, yi // 2, yj // 2, level - 1)
        walk(x0 + xi // 2 + yi // 2, y0 + xj // 2 + yj // 2,
             xi // 2, xj // 2, yi // 2, yj // 2, level - 1)
        walk(x0 + xi // 2 + yi, y0 + xj // 2 + yj,
             -yi // 2, -yj // 2, -xi // 2, -xj // 2, level - 1)

    # initial orientation (xi along y-axis) matches hilbert_d exactly
    # (verified cell-by-cell against the bit walk in tests)
    walk(0, 0, 0, n, n, 0, res)
    return _coarsen(out, max_ranges)


def hilbert_range_filter(
    df: DataFrame,
    lat0: float, lat1: float, lon0: float, lon1: float,
    res: int = 12, max_ranges: int = 64,
    lat_col: str = "lat", lon_col: str = "lon",
    key_col: str | None = None,
) -> DataFrame:
    """Bbox filter over a Hilbert-keyed layout: pushed OR-of-BETWEENs on
    a STORED key column (PushedFilters / row-group pruning), or — without
    one — the key is computed per row by the Arrow kernel (`hilbert_udf`)
    into a temporary column that the same OR-of-BETWEENs reads and that is
    dropped afterwards; either way the exact bbox residual keeps the result
    independent of `max_ranges` coarsening."""
    ranges = hilbert_ranges(lat0, lat1, lon0, lon1, res, max_ranges)

    def key() -> Column:
        # compute the key with the ARROW kernel, not the hilbert_df
        # Column chain: pushing a predicate through the chain substitutes
        # each level's x/y into the next (two references per level), so
        # the optimizer's expression tree grows 2^res — Catalyst itself
        # OOMs before codegen does. The ArrowEvalPython node is a
        # pushdown barrier and its output a plain attribute.
        gx, gy = cells.xy_cols(F.col(lat_col), F.col(lon_col), res)
        return hilbert_udf(res)(gx, gy)

    return _range_filter(
        df, ranges, (lat0, lat1, lon0, lon1), lat_col, lon_col,
        key_col, "__hr_key", key,
    )
