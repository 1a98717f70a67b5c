"""Pure-numpy geometry kernels (no shapely/h3 in the environment).

These back the engine's Arrow-batched pandas UDFs. Every kernel is
*batch-vectorized*: inputs are flattened coordinate arrays plus per-row
counts, so a whole Arrow batch is processed with numpy ufuncs — no per-row
Python (BASELINE.json input_hint mandate).

Reference semantics reproduced here:
  - spherical (3-D mean) polygon centroid  = go.geo GeoCentroid, used by
    GetPolygonCentroid (pbf2json.go:157-162); includes the duplicated
    closing point (verified against the golden fixtures, SURVEY.md §2.4 A3);
  - half-length line interpolation centroid = GetLineCentroid
    (pbf2json.go:131-155): Euclidean distances in degree space, linear
    interpolation inside the crossing segment, strict '>' crossing test,
    spherical-mean fallback when the walk exhausts;
  - closed-ring detection: > 2 points and exact first==last equality
    (computeCentroid, pbf2json.go:1295-1319).
"""

from __future__ import annotations

import numpy as np

EARTH_RADIUS_M = 6_371_008.8


# --- centroids ---------------------------------------------------------------


def spherical_mean(
    lats: np.ndarray, lons: np.ndarray, offsets: np.ndarray, counts: np.ndarray
) -> tuple[np.ndarray, np.ndarray]:
    """Per-group 3-D unit-vector mean → (lat, lon) degrees.

    `lats/lons` are flattened over all groups; group i occupies
    [offsets[i], offsets[i]+counts[i]). counts must be >= 1.
    """
    latr = np.radians(lats)
    lonr = np.radians(lons)
    coslat = np.cos(latr)
    x = coslat * np.cos(lonr)
    y = coslat * np.sin(lonr)
    z = np.sin(latr)
    n = counts.astype(np.float64)
    sx = np.add.reduceat(x, offsets) / n
    sy = np.add.reduceat(y, offsets) / n
    sz = np.add.reduceat(z, offsets) / n
    clon = np.degrees(np.arctan2(sy, sx))
    clat = np.degrees(np.arctan2(sz, np.hypot(sx, sy)))
    return clat, clon


def centroids(
    lats: np.ndarray, lons: np.ndarray, counts: np.ndarray
) -> tuple[np.ndarray, np.ndarray]:
    """Batch computeCentroid (pbf2json.go:1295-1319) over flattened geometry.

    Returns per-group (lat, lon). Closed rings (count>2, first==last) get the
    spherical mean over ALL points including the duplicated closing point;
    open paths get the half-total-length interpolated point with spherical
    fallback.
    """
    counts = np.asarray(counts, dtype=np.int64)
    if counts.size == 0:
        return np.empty(0), np.empty(0)
    offsets = np.concatenate(([0], np.cumsum(counts[:-1])))
    last_idx = offsets + counts - 1

    sm_lat, sm_lon = spherical_mean(lats, lons, offsets, counts)

    first_eq_last = (lats[offsets] == lats[last_idx]) & (
        lons[offsets] == lons[last_idx]
    )
    closed = (counts > 2) & first_eq_last
    open_mask = ~closed

    out_lat = sm_lat.copy()
    out_lon = sm_lon.copy()
    if open_mask.any():
        il_lat, il_lon, ok = _line_interp(lats, lons, offsets, counts, last_idx)
        use = open_mask & ok
        out_lat[use] = il_lat[use]
        out_lon[use] = il_lon[use]
    return out_lat, out_lon


def _line_interp(
    lats: np.ndarray,
    lons: np.ndarray,
    offsets: np.ndarray,
    counts: np.ndarray,
    last_idx: np.ndarray,
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Half-path-length interpolation for every group; `ok` is False where the
    walk exhausts (zero-length path / single point) → caller falls back to
    the spherical mean, exactly like GetLineCentroid (pbf2json.go:131-155)."""
    npts = lats.size
    if npts < 2:
        z = np.zeros(offsets.size)
        return z, z, np.zeros(offsets.size, dtype=bool)
    # d[i] = Euclidean degree-space distance from point i to i+1
    d = np.zeros(npts)
    d[:-1] = np.hypot(np.diff(lats), np.diff(lons))
    d[last_idx] = 0.0  # seams between groups carry no length
    cum = _group_cumsum(d, offsets, counts)

    total = cum[last_idx]
    target = total / 2.0
    # first segment index j of each group with cum[j] > target (strict '>'
    # like Go): cum is non-decreasing inside a group, so the points at or
    # below the target are a prefix of it
    below = cum <= np.repeat(target, counts)
    j = offsets + np.add.reduceat(below.astype(np.int64), offsets)

    ok = (j <= last_idx - 1) & (total > 0)
    j_safe = np.clip(j, 0, max(npts - 2, 0))
    seg_start = cum[j_safe] - d[j_safe]
    with np.errstate(divide="ignore", invalid="ignore"):
        frac = np.where(d[j_safe] > 0, (target - seg_start) / d[j_safe], 0.0)
    out_lat = lats[j_safe] + frac * (lats[j_safe + 1] - lats[j_safe])
    out_lon = lons[j_safe] + frac * (lons[j_safe + 1] - lons[j_safe])
    return out_lat, out_lon, ok


def _group_cumsum(
    d: np.ndarray, offsets: np.ndarray, counts: np.ndarray
) -> np.ndarray:
    """Running sum of `d` restarted at every group, added in path order from
    the group's own first element — the same float additions as summing the
    group alone, so a result never depends on the other groups in the batch
    (a global cumsum minus a per-group base rounds differently). Vectorized
    over groups, one step per point position: groups sorted by length
    descending make the groups still running at position p a prefix; the
    longest group finishes in one cumsum once it runs alone."""
    cum = d.copy()
    order = np.argsort(-counts, kind="stable")
    starts = offsets[order]
    by_len = counts[order]
    # running[p] = number of groups with more than p points
    running = np.searchsorted(-by_len, -np.arange(by_len[0]), side="left")
    for p in range(1, int(by_len[0])):
        if running[p] == 1:
            s = starts[0]
            cum[s + p - 1 : s + by_len[0]] = np.cumsum(cum[s + p - 1 : s + by_len[0]])
            break
        at = starts[: running[p]] + p
        cum[at] += cum[at - 1]
    return cum


# --- distance ----------------------------------------------------------------


def haversine_m(
    lat1: np.ndarray, lon1: np.ndarray, lat2: np.ndarray, lon2: np.ndarray
) -> np.ndarray:
    """Great-circle distance in meters (vectorized)."""
    p1, p2 = np.radians(lat1), np.radians(lat2)
    dp = p2 - p1
    dl = np.radians(lon2) - np.radians(lon1)
    a = np.sin(dp / 2) ** 2 + np.cos(p1) * np.cos(p2) * np.sin(dl / 2) ** 2
    return 2 * EARTH_RADIUS_M * np.arcsin(np.sqrt(np.clip(a, 0, 1)))


# --- point in polygon ---------------------------------------------------------


def points_in_ring(
    plat: np.ndarray, plon: np.ndarray, ring_lat: np.ndarray, ring_lon: np.ndarray
) -> np.ndarray:
    """Even-odd ray-cast of many points against ONE closed ring.

    Vectorized over points × edges (ring sizes are small: 4-100 vertices,
    FIXTURES.md). Points exactly on an edge may land on either side — the
    cell/bbox prefilter + exact-verify join contract tolerates boundary ties.
    """
    # ring may or may not repeat the first vertex; drop the duplicate
    if ring_lat.size > 1 and ring_lat[0] == ring_lat[-1] and ring_lon[0] == ring_lon[-1]:
        ring_lat = ring_lat[:-1]
        ring_lon = ring_lon[:-1]
    y1 = ring_lat[:, None]  # (E, 1)
    x1 = ring_lon[:, None]
    y2 = np.roll(ring_lat, -1)[:, None]
    x2 = np.roll(ring_lon, -1)[:, None]
    py = plat[None, :]  # (1, P)
    px = plon[None, :]
    straddle = (y1 > py) != (y2 > py)
    with np.errstate(divide="ignore", invalid="ignore"):
        xcross = x1 + (py - y1) * (x2 - x1) / (y2 - y1)
    hits = straddle & (px < xcross)
    return (hits.sum(axis=0) % 2).astype(bool)


# --- ring metrics (pure Column — JVM codegen, no Python) -----------------------


def ring_area_col(ring):
    """Planar shoelace area (degree² units) of a CLOSED ring column
    (array<struct<lat,lon>>, duplicated closing point — the repo's ring
    convention, spatial.load_polygons). Pure Column: zip consecutive
    vertices, fold the cross terms left-to-right (F.aggregate is a
    sequential fold, so the float summation order is FIXED — the DuckDB
    oracle reproduces the identical expression tree and matches
    bit-for-bit).

    Degree² is deliberate: the repo's exact metrics are unwrapped planar
    degrees throughout (within_distance_join, kNN sq_deg); a spherical
    area needs transcendentals, which a value-exact oracle can't carry.
    Callers needing m² should scale by cos(lat) per use case.
    """
    from pyspark.sql import functions as F

    # greatest(n-1, 0): a degenerate empty/1-point ring yields zero edge
    # terms and area 0.0 rather than crashing slice() with length -1
    n = F.greatest(F.size(ring) - 1, F.lit(0))
    a = F.slice(ring, 1, n)
    b = F.slice(ring, 2, n)
    terms = F.zip_with(
        a, b, lambda p, q: p["lon"] * q["lat"] - q["lon"] * p["lat"]
    )
    s = F.aggregate(terms, F.lit(0.0), lambda acc, t: acc + t)
    return F.abs(s) / F.lit(2.0)


def ring_perimeter_col(ring):
    """Planar perimeter (degrees) of a closed ring: ordered fold of
    sqrt(dlat² + dlon²) edge lengths (sqrt is IEEE-exact, so this is
    oracle-portable like the area)."""
    from pyspark.sql import functions as F

    n = F.greatest(F.size(ring) - 1, F.lit(0))
    a = F.slice(ring, 1, n)
    b = F.slice(ring, 2, n)
    terms = F.zip_with(
        a,
        b,
        lambda p, q: F.sqrt(
            (q["lat"] - p["lat"]) * (q["lat"] - p["lat"])
            + (q["lon"] - p["lon"]) * (q["lon"] - p["lon"])
        ),
    )
    return F.aggregate(terms, F.lit(0.0), lambda acc, t: acc + t)


# --- polyline simplification (Douglas-Peucker) --------------------------------


def dp_keep_mask(lat: np.ndarray, lon: np.ndarray, eps: float) -> np.ndarray:
    """Douglas-Peucker keep-mask for one polyline, iterative (explicit
    stack — no recursion limit), numpy-vectorized per span.

    Distance is point-to-SEGMENT (projection + clamp, the same expression
    tree as spatial.nearest_segment_join), planar degrees. A point splits
    its span when its squared distance is STRICTLY greater than eps²; ties
    across the span resolve to the FIRST max index (np.argmax) — both
    choices fixed so the mask is deterministic for any input. Endpoints
    are always kept; n <= 2 keeps everything.
    """
    n = lat.shape[0]
    keep = np.zeros(n, dtype=bool)
    if n == 0:
        return keep
    keep[0] = keep[n - 1] = True
    if n <= 2:
        return keep
    eps2 = eps * eps
    stack = [(0, n - 1)]
    while stack:
        i, j = stack.pop()
        if j <= i + 1:
            continue
        ax, ay = lon[i], lat[i]
        bx, by = lon[j], lat[j]
        px, py = lon[i + 1 : j], lat[i + 1 : j]
        dx, dy = bx - ax, by - ay
        len2 = dx * dx + dy * dy
        if len2 == 0.0:
            d2 = (px - ax) * (px - ax) + (py - ay) * (py - ay)
        else:
            t = ((px - ax) * dx + (py - ay) * dy) / len2
            np.clip(t, 0.0, 1.0, out=t)
            qx, qy = ax + t * dx, ay + t * dy
            d2 = (px - qx) * (px - qx) + (py - qy) * (py - qy)
        k = int(np.argmax(d2))
        if d2[k] > eps2:
            split = i + 1 + k
            keep[split] = True
            stack.append((i, split))
            stack.append((split, j))
    return keep


def ring_validity(df):
    """Geometric QA for polygon rings (array<struct<lat,lon>>, duplicated
    closing point — the repo's ring convention): closure, winding
    orientation, and EXACT proper-self-intersection detection — the screen
    an ingest pipeline runs before trusting third-party polygons with PIP
    joins or area rollups (the reference implicitly assumes closed,
    simple ways when it computes polygon centroids, pbf2json.go:838-868;
    this operator makes that assumption checkable).

    Per ring:
      n_points        vertex count (incl. the closing duplicate)
      closed          first vertex == last vertex (exact compare)
      signed2         the SIGNED shoelace fold ×2 (x=lon, y=lat; > 0 ⟺
                      CCW); sub/mul only in fixed left-to-right fold
                      order — the oracle matches bit-for-bit
      orientation     'ccw' / 'cw' / 'degenerate' (signed2 == 0 — zero
                      area OR a symmetric bowtie)
      n_crossings     # of NON-ADJACENT segment pairs that properly cross
                      (orientation-product test, strict interior
                      crossing; shared endpoints of adjacent and
                      wrap-adjacent segments excluded)
      is_valid        closed AND n_crossings == 0 AND signed2 != 0

    Shape: metrics are one pure-Column pass; crossings are a per-ring
    self-equi-join on the id (segments exploded once, pairs bounded by
    ring length² WITHIN a ring — the same bound any exact simplicity
    test pays; ring length is small for real parcels/buildings, and a
    hot mega-ring salts like any hot equi-key). Products of coordinate
    differences only — exact whenever inputs are grid-quantized.
    """
    from pyspark.sql import functions as F

    ring = F.col("ring")
    n = F.greatest(F.size(ring) - 1, F.lit(0))
    a = F.slice(ring, 1, n)
    b = F.slice(ring, 2, n)
    terms = F.zip_with(
        a, b, lambda p, q: p["lon"] * q["lat"] - q["lon"] * p["lat"]
    )
    signed2 = F.aggregate(terms, F.lit(0.0), lambda acc, t: acc + t)
    first, last = F.element_at(ring, 1), F.element_at(ring, -1)
    base = df.select(
        F.col("polygon_id"),
        F.size(ring).cast("long").alias("n_points"),
        (
            (F.size(ring) >= 2)
            & (first["lat"] == last["lat"])
            & (first["lon"] == last["lon"])
        ).alias("closed"),
        signed2.alias("signed2"),
        F.when(signed2 > 0, F.lit("ccw"))
        .when(signed2 < 0, F.lit("cw"))
        .otherwise(F.lit("degenerate"))
        .alias("orientation"),
        F.zip_with(a, b, lambda p, q: F.struct(p.alias("p"), q.alias("q"))).alias("_segs"),
    )
    segs = base.select(
        "polygon_id",
        F.size("_segs").cast("long").alias("_m"),
        F.posexplode("_segs").alias("_i", "_s"),
    ).select(
        "polygon_id", "_m", "_i",
        F.col("_s.p.lat").alias("_alat"), F.col("_s.p.lon").alias("_alon"),
        F.col("_s.q.lat").alias("_blat"), F.col("_s.q.lon").alias("_blon"),
    )
    s1, s2 = segs.alias("s1"), segs.alias("s2")
    c = F.col

    def cross(ox, oy, ax_, ay_, bx, by):
        return (ax_ - ox) * (by - oy) - (bx - ox) * (ay_ - oy)

    d1 = cross(c("s1._alon"), c("s1._alat"), c("s1._blon"), c("s1._blat"),
               c("s2._alon"), c("s2._alat"))
    d2 = cross(c("s1._alon"), c("s1._alat"), c("s1._blon"), c("s1._blat"),
               c("s2._blon"), c("s2._blat"))
    d3 = cross(c("s2._alon"), c("s2._alat"), c("s2._blon"), c("s2._blat"),
               c("s1._alon"), c("s1._alat"))
    d4 = cross(c("s2._alon"), c("s2._alat"), c("s2._blon"), c("s2._blat"),
               c("s1._blon"), c("s1._blat"))
    crossings = (
        s1.join(
            s2,
            (c("s1.polygon_id") == c("s2.polygon_id"))
            & (c("s2._i") > c("s1._i") + 1)
            & ~((c("s1._i") == 0) & (c("s2._i") == c("s1._m") - 1)),
        )
        .filter((d1 * d2 < 0) & (d3 * d4 < 0))
        .groupBy(c("s1.polygon_id").alias("polygon_id"))
        .agg(F.count(F.lit(1)).alias("n_crossings"))
    )
    out = base.drop("_segs").join(crossings, "polygon_id", "left").select(
        "polygon_id", "n_points", "closed", "signed2", "orientation",
        F.coalesce("n_crossings", F.lit(0)).cast("long").alias("n_crossings"),
    )
    return out.withColumn(
        "is_valid",
        F.col("closed") & (F.col("n_crossings") == 0) & (F.col("signed2") != 0.0),
    )
