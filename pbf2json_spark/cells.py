"""H3/S2-style hierarchical cell index — pure numpy + pure Column math.

No h3/s2 libraries exist in the environment, so this is an original,
self-contained quadtree ("Z-order / Morton") cell scheme over WGS84:

  cell_id (int64) = (res << 52) | interleave(x, y)
  x = floor((lon+180)/360 * 2^res), y = floor((lat+90)/180 * 2^res)
  res in [0, 26]  (res 26 ≈ 0.6 m at the equator)

Two implementations, same bit layout:
  * Column-native (`cell_col`) — pure JVM bit arithmetic, stays inside
    WholeStageCodegen; this is the hot path for tile assignment at 100 TB
    (no Python crossing at all).
  * numpy (`encode/decode/...`) — for driver-side ring/neighbor generation,
    pandas-UDF kernels, and cross-checking the Column path in tests.

Plays the role the reference's bbox containment plays (insideBBox with 0.01°
slack, pbf2json.go:20,779-784) but as a proper spatial partition key: equal
cells → hash-partitionable, ranges → prefix prunable, neighbors → computable.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column
from pyspark.sql import functions as F

MAX_RES = 26
_RES_SHIFT = 52

_MASKS = (
    (16, 0x0000FFFF0000FFFF),
    (8, 0x00FF00FF00FF00FF),
    (4, 0x0F0F0F0F0F0F0F0F),
    (2, 0x3333333333333333),
    (1, 0x5555555555555555),
)


# --- numpy side ---------------------------------------------------------------


def _spread(v: np.ndarray) -> np.ndarray:
    v = v.astype(np.uint64)
    for shift, mask in _MASKS:
        v = (v | (v << np.uint64(shift))) & np.uint64(mask)
    return v


def _compact(v: np.ndarray) -> np.ndarray:
    v = v.astype(np.uint64) & np.uint64(0x5555555555555555)
    for shift, mask in (
        (1, 0x3333333333333333),
        (2, 0x0F0F0F0F0F0F0F0F),
        (4, 0x00FF00FF00FF00FF),
        (8, 0x0000FFFF0000FFFF),
        (16, 0x00000000FFFFFFFF),
    ):
        v = (v | (v >> np.uint64(shift))) & np.uint64(mask)
    return v


def xy(lats: np.ndarray, lons: np.ndarray, res: int) -> tuple[np.ndarray, np.ndarray]:
    n = 1 << res
    x = np.floor((np.asarray(lons, dtype=np.float64) + 180.0) / 360.0 * n).astype(np.int64)
    y = np.floor((np.asarray(lats, dtype=np.float64) + 90.0) / 180.0 * n).astype(np.int64)
    return np.clip(x, 0, n - 1), np.clip(y, 0, n - 1)


def encode(lats: np.ndarray, lons: np.ndarray, res: int) -> np.ndarray:
    if not 0 <= res <= MAX_RES:
        raise ValueError(f"res must be in [0, {MAX_RES}]")
    x, y = xy(lats, lons, res)
    m = _spread(x) | (_spread(y) << np.uint64(1))
    return ((np.uint64(res) << np.uint64(_RES_SHIFT)) | m).astype(np.int64)


def decode(cells: np.ndarray) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """cell ids → (res, x, y)."""
    c = np.asarray(cells, dtype=np.int64).astype(np.uint64)
    res = (c >> np.uint64(_RES_SHIFT)).astype(np.int64)
    m = c & np.uint64((1 << _RES_SHIFT) - 1)
    return res, _compact(m).astype(np.int64), _compact(m >> np.uint64(1)).astype(np.int64)


def from_xy(x: np.ndarray, y: np.ndarray, res: int) -> np.ndarray:
    m = _spread(np.asarray(x, dtype=np.int64)) | (
        _spread(np.asarray(y, dtype=np.int64)) << np.uint64(1)
    )
    return ((np.uint64(res) << np.uint64(_RES_SHIFT)) | m).astype(np.int64)


def cell_bounds(cells: np.ndarray) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
    """(lat_min, lon_min, lat_max, lon_max) per cell."""
    res, x, y = decode(cells)
    n = (1 << res).astype(np.float64)
    lon_min = x / n * 360.0 - 180.0
    lat_min = y / n * 180.0 - 90.0
    return lat_min, lon_min, lat_min + 180.0 / n, lon_min + 360.0 / n


def parent(cells: np.ndarray, parent_res: int) -> np.ndarray:
    res, x, y = decode(cells)
    shift = res - parent_res
    if np.any(shift < 0):
        raise ValueError("parent_res must be <= cell res")
    return from_xy(x >> shift, y >> shift, parent_res)


def children(cell: int) -> np.ndarray:
    res, x, y = decode(np.array([cell]))
    r, x, y = int(res[0]) + 1, int(x[0]) << 1, int(y[0]) << 1
    xs = np.array([x, x + 1, x, x + 1])
    ys = np.array([y, y, y + 1, y + 1])
    return from_xy(xs, ys, r)


def disk(cells: np.ndarray, k: int) -> np.ndarray:
    """All cells within Chebyshev distance k of each input cell, per row →
    (len(cells), (2k+1)^2) matrix. Longitude wraps; latitude clamps (cells
    beyond the pole repeat the edge row and are deduplicated by the caller's
    join)."""
    res, x, y = decode(np.asarray(cells))
    n = (1 << res).astype(np.int64)
    d = np.arange(-k, k + 1)
    dx = np.repeat(d, 2 * k + 1)
    dy = np.tile(d, 2 * k + 1)
    gx = np.mod(x[:, None] + dx[None, :], n[:, None])
    gy = np.clip(y[:, None] + dy[None, :], 0, (n - 1)[:, None])
    out = np.empty(gx.shape, dtype=np.int64)
    for r in np.unique(res):
        m = res == r
        out[m] = from_xy(gx[m].ravel(), gy[m].ravel(), int(r)).reshape(gx[m].shape)
    return out


def ring(cell: int, k: int) -> np.ndarray:
    """Cells at exactly Chebyshev distance k (the expansion frontier)."""
    if k == 0:
        return np.array([cell], dtype=np.int64)
    full = disk(np.array([cell]), k)[0]
    inner = disk(np.array([cell]), k - 1)[0]
    return np.setdiff1d(full, inner)


# --- Column side (pure JVM bit math — no Python in the hot path) --------------


def _spread_col(c: Column) -> Column:
    for shift, mask in _MASKS:
        c = (c.bitwiseOR(F.shiftleft(c, shift))).bitwiseAND(F.lit(mask))
    return c


def _clamp_col(v: Column, n: int) -> Column:
    """Grid coordinate Column clamped into [0, n − 1] — clip() in xy()."""
    return F.greatest(F.lit(0), F.least(F.lit(n - 1), v))


def _from_xy_col(x: Column, y: Column, res: int) -> Column:
    """Grid coordinate Columns → cell id Column. Same bit layout as from_xy()."""
    m = _spread_col(x).bitwiseOR(F.shiftleft(_spread_col(y), 1))
    return F.lit(res << _RES_SHIFT).bitwiseOR(m).cast("long")


def cell_col(lat: Column, lon: Column, res: int) -> Column:
    """lat/lon Columns → cell id Column. Identical bit layout to encode()."""
    if not 0 <= res <= MAX_RES:
        raise ValueError(f"res must be in [0, {MAX_RES}]")
    return _from_xy_col(*xy_cols(lat, lon, res), res)


def xy_cols(lat: Column, lon: Column, res: int) -> tuple[Column, Column]:
    """(x, y) grid coordinate Columns at `res` — same floor/clamp as xy()."""
    n = 1 << res
    x = F.floor((lon + F.lit(180.0)) / F.lit(360.0) * F.lit(float(n)))
    y = F.floor((lat + F.lit(90.0)) / F.lit(180.0) * F.lit(float(n)))
    return _clamp_col(x, n).cast("long"), _clamp_col(y, n).cast("long")


def disk_col(x: Column, y: Column, res: int, radius: Column) -> Column:
    """All cells within Chebyshev distance `radius` (a per-row Column) of
    grid position (x, y) — the pure-Column twin of disk(): longitude wraps
    (pmod), latitude clamps, same bit layout. sequence × transform ×
    flatten keeps the whole expansion inside codegen — no Python worker,
    no Arrow crossing; this is what lets the kNN join run UDF-free."""
    n = 1 << res
    r = radius.cast("long")
    dxs = F.sequence(-r, r)

    def cell_of(dx: Column, dy: Column) -> Column:
        return _from_xy_col(F.pmod(x + dx, F.lit(n)), _clamp_col(y + dy, n), res)

    return F.flatten(
        F.transform(dxs, lambda dx: F.transform(F.sequence(-r, r), lambda dy: cell_of(dx, dy)))
    )


def quadkey_col(lat: Column, lon: Column, res: int) -> Column:
    """Bing-maps-style quadkey STRING for the same equirectangular grid as
    cell_col (digit i, most significant first, = 2*y_bit + x_bit at level
    i). Same tile geometry as the int64 cell id — this is the string-keyed
    twin for systems that want the PREFIX property spelled out: a tile's
    quadkey is a prefix of all its descendants, so "all points under this
    tile" is a `startswith` range predicate, and rollup to a coarser level
    is `substring(qk, 1, coarser_res)` — no bit math in the consumer.

    (The classic Bing scheme projects WebMercator — floor(log/tan ...) —
    which is a transcendental whose last-ulp differences across engines
    can flip a boundary tile. The linear grid keeps every step exact-
    rounded IEEE arithmetic: any engine computes the identical key.)

    Pure Column string building; res <= 26 like the cell ids.
    """
    if not 1 <= res <= MAX_RES:
        raise ValueError(f"res must be in [1, {MAX_RES}]")
    x, y = xy_cols(lat, lon, res)
    digits = [
        (
            F.shiftrightunsigned(y, res - 1 - i).bitwiseAND(F.lit(1)) * 2
            + F.shiftrightunsigned(x, res - 1 - i).bitwiseAND(F.lit(1))
        ).cast("string")
        for i in range(res)
    ]
    return F.concat(*digits)


def quadkey_to_cell(qk: str) -> int:
    """Quadkey string → the equivalent int64 cell id (driver-side helper
    for pruning: turn a prefix filter into a Morton range)."""
    if not 1 <= len(qk) <= MAX_RES or any(ch not in "0123" for ch in qk):
        raise ValueError(f"quadkey must be 1..{MAX_RES} digits of 0-3: {qk!r}")
    x = y = 0
    for ch in qk:
        d = int(ch)
        x = (x << 1) | (d & 1)
        y = (y << 1) | (d >> 1)
    return int(from_xy(np.array([x]), np.array([y]), len(qk))[0])


def cell_parent_col(cell: Column, cell_res: int, parent_res: int) -> Column:
    """Parent cell at a coarser resolution, pure bit math: drop 2 morton bits
    per resolution step and rewrite the res field."""
    if parent_res > cell_res:
        raise ValueError("parent_res must be <= cell_res")
    morton = cell.bitwiseAND(F.lit((1 << _RES_SHIFT) - 1))
    shifted = F.shiftrightunsigned(morton, 2 * (cell_res - parent_res))
    return F.lit(parent_res << _RES_SHIFT).bitwiseOR(shifted).cast("long")


def geohash_bounds(gh: str) -> tuple[float, float, float, float]:
    """(lat_min, lat_max, lon_min, lon_max) of a geohash cell — driver-side
    helper (tests, prefix-range pruning)."""
    if not gh or any(c not in GEOHASH_ALPHABET for c in gh):
        raise ValueError(f"invalid geohash {gh!r}")
    nbits = 5 * len(gh)
    lonbits = (nbits + 1) // 2
    latbits = nbits // 2
    lon_q = lat_q = 0
    i = 0
    for ch in gh:
        v = GEOHASH_ALPHABET.index(ch)
        for b in range(4, -1, -1):
            if i % 2 == 0:
                lon_q = (lon_q << 1) | ((v >> b) & 1)
            else:
                lat_q = (lat_q << 1) | ((v >> b) & 1)
            i += 1
    lon_w = 360.0 / (1 << lonbits)
    lat_w = 180.0 / (1 << latbits)
    return (
        -90.0 + lat_q * lat_w,
        -90.0 + (lat_q + 1) * lat_w,
        -180.0 + lon_q * lon_w,
        -180.0 + (lon_q + 1) * lon_w,
    )


def compact_cover(cover: "DataFrame", res: int, min_res: int = 0) -> "DataFrame":
    """H3-compact-style cover minimization: wherever all 4 sibling cells of
    a parent are present, replace them by the parent, recursively up to
    min_res. The minimal multi-resolution representation of a region —
    what you ship to a prefilter join instead of millions of fine cells.

    Input: a frame of DISTINCT cell ids all at resolution `res` (the usual
    product of a polygon cover). Output: (cell:long, res:int), the
    compacted set; reconstructing all res-level descendants of the output
    yields exactly the input set.

    Plan: bounded driver loop, res..min_res+1 — per level ONE ids-only
    groupBy on the parent id (count==4 -> promote) and one left_anti to
    keep orphans; the frame SHRINKS monotonically (promoted parents are
    1/4 of their children), and localCheckpoint per level keeps the plan
    from nesting. At 100 TB the first level dominates and is a pure
    8-byte-key exchange; everything after is geometrically smaller.
    """
    from pyspark.sql import functions as F  # noqa: F811 (module-level alias)

    if not 0 <= min_res <= res:
        raise ValueError("require 0 <= min_res <= res")
    out = None
    cur = cover.select(F.col("cell")).distinct()
    for r in range(res, min_res, -1):
        parent = cell_parent_col(F.col("cell"), r, r - 1)
        counts = cur.groupBy(parent.alias("parent")).agg(
            F.count(F.lit(1)).alias("c")
        )
        promoted = counts.filter(F.col("c") == 4).select(
            F.col("parent").alias("cell")
        )
        kept = cur.withColumn("_p", parent).join(
            promoted.withColumnRenamed("cell", "_p"), "_p", "left_anti"
        ).drop("_p")
        lvl = kept.select("cell", F.lit(r).cast("int").alias("res"))
        out = lvl if out is None else out.unionByName(lvl)
        cur = promoted.localCheckpoint(eager=False)
    final = cur.select("cell", F.lit(min_res).cast("int").alias("res"))
    return final if out is None else out.unionByName(final)


# --- standard geohash (base-32 interop) ----------------------------------------

GEOHASH_ALPHABET = "0123456789bcdefghjkmnpqrstuvwxyz"


def geohash_encode(lat, lon, precision: int = 8) -> "np.ndarray":
    """Canonical geohash by binary bisection (the textbook reference
    loop) — numpy, used to cross-check the Column bit-trick twin and for
    driver-side neighbor work. Returns an object array of strings."""
    lat = np.atleast_1d(np.asarray(lat, dtype=np.float64))
    lon = np.atleast_1d(np.asarray(lon, dtype=np.float64))
    n = lat.shape[0]
    la0 = np.full(n, -90.0); la1 = np.full(n, 90.0)
    lo0 = np.full(n, -180.0); lo1 = np.full(n, 180.0)
    out = [""] * n
    even = True  # lon first, per the standard
    bits_done = 0
    cur = np.zeros(n, np.int64)
    nbits = 0
    while bits_done < 5 * precision:
        if even:
            mid = (lo0 + lo1) / 2
            b = lon >= mid
            lo0 = np.where(b, mid, lo0); lo1 = np.where(b, lo1, mid)
        else:
            mid = (la0 + la1) / 2
            b = lat >= mid
            la0 = np.where(b, mid, la0); la1 = np.where(b, la1, mid)
        cur = (cur << 1) | b.astype(np.int64)
        nbits += 1
        bits_done += 1
        even = not even
        if nbits == 5:
            for i in range(n):
                out[i] += GEOHASH_ALPHABET[int(cur[i])]
            cur = np.zeros(n, np.int64)
            nbits = 0
    return np.array(out, dtype=object)


def geohash_col(lat: Column, lon: Column, precision: int = 8) -> Column:
    """Standard geohash string — the INTEROP cell id (every geo stack
    speaks geohash; the int64 cell_col above is faster for joins, this
    one round-trips with external systems). Pure Column bit math:
    quantize lon to ceil(5p/2) bits and lat to floor(5p/2) bits, Morton-
    interleave with lon leading (== the canonical bisection bit stream),
    then substring-map each 5-bit group through the base-32 alphabet.
    Stays in codegen; the DuckDB oracle repeats the same shifts. p <= 12
    keeps the code in an int64 (60 bits).

    Cross-checked against the bisection reference (geohash_encode) incl.
    the classic u4pruydqqvj test vector (tests/test_wave38.py).
    """
    if not 1 <= precision <= 12:
        raise ValueError("precision must be in [1, 12]")
    total = 5 * precision
    lon_bits = (total + 1) // 2
    lat_bits = total // 2
    X = F.least(
        F.lit((1 << lon_bits) - 1),
        F.greatest(
            F.lit(0),
            F.floor((lon + 180.0) / 360.0 * F.lit(float(1 << lon_bits))),
        ),
    ).cast("long")
    Y = F.least(
        F.lit((1 << lat_bits) - 1),
        F.greatest(
            F.lit(0),
            F.floor((lat + 90.0) / 180.0 * F.lit(float(1 << lat_bits))),
        ),
    ).cast("long")
    # lon leads (owns bit total-1): for even totals that's an ODD bit
    # position (X shifted), for odd totals an EVEN one (X unshifted)
    if total % 2 == 0:
        code = _spread_col(Y).bitwiseOR(F.shiftleft(_spread_col(X), 1))
    else:
        code = _spread_col(X).bitwiseOR(F.shiftleft(_spread_col(Y), 1))
    chars = [
        F.substring(
            F.lit(GEOHASH_ALPHABET),
            (
                F.shiftright(code, 5 * (precision - 1 - i))
                .bitwiseAND(F.lit(31))
                .cast("int")
                + 1
            ),
            1,
        )
        for i in range(precision)
    ]
    return F.concat(*chars)


def geohash_decode_col(gh: Column, precision: int) -> Column:
    """Decode a geohash string back to its cell as a struct
    (lat0, lat1, lon0, lon1, lat, lon — bounds + center): per-char
    base-32 lookup via instr on the alphabet, then each of the 5 bits
    per char routed STATICALLY to its axis position (global bit g from
    the MSB is lon iff g is even — lon leads, mirroring geohash_col).
    The static routing keeps the expression tree LINEAR in precision:
    the compact-shift formulation doubled the tree per iteration (32×)
    and the bounds/center struct multiplied it ~8× more, which blew up
    codegen (Janino OOM) at precision 10. X/Y are small enough now that
    the bounds keep the canonical quantization formulas ((Y+1)/N scaled,
    exact midpoints) — bit-identical to the DuckDB oracle. Pure
    Column, stays in codegen; exact doubles. Fixed-precision input
    (pad/validate upstream; instr returns 0 → NULL-safe garbage-in
    contract documented)."""
    if not 1 <= precision <= 12:
        raise ValueError("precision must be in [1, 12]")
    total = 5 * precision
    lon_bits = (total + 1) // 2
    lat_bits = total // 2
    x_terms: list[Column] = []
    y_terms: list[Column] = []
    for i in range(precision):
        v = (
            F.instr(F.lit(GEOHASH_ALPHABET), F.substring(gh, i + 1, 1)) - 1
        ).cast("long")
        for b in range(5):
            g = i * 5 + b  # global bit index from the MSB; even = lon
            bit = F.shiftright(v, 4 - b).bitwiseAND(F.lit(1))
            if g % 2 == 0:
                x_terms.append(F.shiftleft(bit, lon_bits - 1 - g // 2))
            else:
                y_terms.append(F.shiftleft(bit, lat_bits - 1 - g // 2))
    X = x_terms[0]
    for t in x_terms[1:]:
        X = X.bitwiseOR(t)
    Y = y_terms[0]
    for t in y_terms[1:]:
        Y = Y.bitwiseOR(t)
    lon0 = X.cast("double") / float(1 << lon_bits) * 360.0 - 180.0
    lon1 = (X + 1).cast("double") / float(1 << lon_bits) * 360.0 - 180.0
    lat0 = Y.cast("double") / float(1 << lat_bits) * 180.0 - 90.0
    lat1 = (Y + 1).cast("double") / float(1 << lat_bits) * 180.0 - 90.0
    return F.struct(
        lat0.alias("lat0"), lat1.alias("lat1"),
        lon0.alias("lon0"), lon1.alias("lon1"),
        ((lat0 + lat1) / 2.0).alias("lat"),
        ((lon0 + lon1) / 2.0).alias("lon"),
    )

