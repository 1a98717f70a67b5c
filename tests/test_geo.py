"""Kernel tests for geo.py against brute-force scalar references."""

from __future__ import annotations

import math

import numpy as np
import pytest

from pbf2json_spark import geo


def scalar_spherical_mean(pts):
    dx = dy = dz = 0.0
    for lat, lon in pts:
        latr, lonr = math.radians(lat), math.radians(lon)
        dx += math.cos(latr) * math.cos(lonr)
        dy += math.cos(latr) * math.sin(lonr)
        dz += math.sin(latr)
    n = len(pts)
    dx, dy, dz = dx / n, dy / n, dz / n
    return (
        math.degrees(math.atan2(dz, math.hypot(dx, dy))),
        math.degrees(math.atan2(dy, dx)),
    )


def scalar_line_centroid(pts):
    """Direct transcription of GetLineCentroid (pbf2json.go:131-155)."""
    total = sum(
        math.hypot(pts[i + 1][0] - pts[i][0], pts[i + 1][1] - pts[i][1])
        for i in range(len(pts) - 1)
    )
    half = total / 2
    travelled = 0.0
    for i in range(len(pts) - 1):
        d = math.hypot(pts[i + 1][0] - pts[i][0], pts[i + 1][1] - pts[i][1])
        if travelled + d > half:
            f = (half - travelled) / d
            return (
                pts[i][0] + f * (pts[i + 1][0] - pts[i][0]),
                pts[i][1] + f * (pts[i + 1][1] - pts[i][1]),
            )
        travelled += d
    return scalar_spherical_mean(pts)


def scalar_centroid(pts):
    if len(pts) > 2 and pts[0] == pts[-1]:
        return scalar_spherical_mean(pts)
    return scalar_line_centroid(pts)


def batch(ways):
    lats = np.array([p[0] for w in ways for p in w])
    lons = np.array([p[1] for w in ways for p in w])
    counts = np.array([len(w) for w in ways])
    return geo.centroids(lats, lons, counts)


def random_ways(n_ways, seed=7):
    rng = np.random.default_rng(seed)
    ways = []
    for _ in range(n_ways):
        n = rng.integers(1, 40)
        pts = [
            (float(49 + rng.normal(0, 0.05)), float(-123 + rng.normal(0, 0.05)))
            for _ in range(n)
        ]
        if n > 2 and rng.random() < 0.6:
            pts[-1] = pts[0]  # close the ring
        ways.append(pts)
    return ways


def test_centroids_match_scalar_reference():
    ways = random_ways(300)
    # degenerate shapes
    ways.append([(49.0, -123.0)])  # single point
    ways.append([(49.0, -123.0), (49.0, -123.0)])  # zero-length open path
    ways.append([(49.0, -123.0), (49.1, -123.1)])  # two-point segment
    ways.append([(1.0, 2.0), (1.0, 2.0), (1.0, 2.0), (1.0, 2.0)])  # zero-area ring

    got_lat, got_lon = batch(ways)
    for i, w in enumerate(ways):
        exp_lat, exp_lon = scalar_centroid(w)
        assert got_lat[i] == pytest.approx(exp_lat, abs=1e-9), (i, w)
        assert got_lon[i] == pytest.approx(exp_lon, abs=1e-9), (i, w)


def test_centroid_independent_of_batch():
    """A way's centroid is the same bits alone and inside any Arrow batch:
    each open path's length is summed from its own start, not read off a
    running sum over the whole batch."""
    ways = random_ways(2000)
    # one path longer than every other: it finishes its sum alone
    ways.append([(49 + 0.001 * i, -123 + 0.002 * (i % 7)) for i in range(120)])
    got_lat, got_lon = batch(ways)
    for i, w in enumerate(ways):
        lat, lon = batch([w])
        assert (lat[0], lon[0]) == (got_lat[i], got_lon[i]), (i, w)


def test_haversine_known_distance():
    # Helsinki -> Stockholm ≈ 396 km
    d = geo.haversine_m(
        np.array([60.1699]), np.array([24.9384]), np.array([59.3293]), np.array([18.0686])
    )
    assert 390_000 < d[0] < 402_000
    assert geo.haversine_m(np.array([1.0]), np.array([2.0]), np.array([1.0]), np.array([2.0]))[0] == 0


def test_points_in_ring_vs_bruteforce():
    rng = np.random.default_rng(11)
    # concave polygon (star-ish)
    ang = np.linspace(0, 2 * np.pi, 11)[:-1]
    r = np.where(np.arange(10) % 2 == 0, 1.0, 0.4)
    ring_lat = 49 + r * np.sin(ang)
    ring_lon = -123 + r * np.cos(ang)
    ring_lat = np.append(ring_lat, ring_lat[0])
    ring_lon = np.append(ring_lon, ring_lon[0])

    plat = 49 + rng.uniform(-1.5, 1.5, 500)
    plon = -123 + rng.uniform(-1.5, 1.5, 500)
    got = geo.points_in_ring(plat, plon, ring_lat, ring_lon)

    def brute(py, px):
        inside = False
        for i in range(len(ring_lat) - 1):
            y1, x1, y2, x2 = ring_lat[i], ring_lon[i], ring_lat[i + 1], ring_lon[i + 1]
            if (y1 > py) != (y2 > py) and px < x1 + (py - y1) * (x2 - x1) / (y2 - y1):
                inside = not inside
        return inside

    exp = np.array([brute(plat[i], plon[i]) for i in range(500)])
    assert (got == exp).all()


def test_ring_area_and_perimeter_col(spark):
    import math

    from pyspark.sql import functions as F
    from pbf2json_spark import geo

    def ring(pts):
        return [{"lat": la, "lon": lo} for la, lo in pts]

    rect = [(0.0, 0.0), (0.0, 11.0), (7.0, 11.0), (7.0, 0.0), (0.0, 0.0)]
    # L-shaped hexagon: 7x5 block plus 3x6 block = 53
    hexa = [(0.0, 0.0), (0.0, 11.0), (3.0, 11.0), (3.0, 5.0), (7.0, 5.0),
            (7.0, 0.0), (0.0, 0.0)]
    tri = [(0.5, 0.25), (2.75, 9.5), (6.125, 1.5), (0.5, 0.25)]
    df = spark.createDataFrame(
        [(1, ring(rect)), (2, ring(hexa)), (3, ring(tri))],
        "id long, ring array<struct<lat:double,lon:double>>",
    )
    got = {
        r["id"]: (r["a"], r["p"])
        for r in df.select(
            "id",
            geo.ring_area_col(F.col("ring")).alias("a"),
            geo.ring_perimeter_col(F.col("ring")).alias("p"),
        ).collect()
    }
    assert got[1][0] == 77.0 and got[2][0] == 53.0
    assert got[1][1] == 36.0

    def brute(pts):
        s = 0.0
        per = 0.0
        for (la1, lo1), (la2, lo2) in zip(pts, pts[1:]):
            s = s + (lo1 * la2 - lo2 * la1)
            per = per + math.sqrt((la2 - la1) * (la2 - la1) + (lo2 - lo1) * (lo2 - lo1))
        return abs(s) / 2.0, per

    # exact float equality: same fold order as the Column expression
    assert got[3] == brute(tri)
    assert got[2] == brute(hexa)


def test_ring_metrics_degenerate_rings(spark):
    from pyspark.sql import functions as F
    from pbf2json_spark import geo

    df = spark.createDataFrame(
        [(1, []), (2, [{"lat": 3.0, "lon": 4.0}])],
        "id long, ring array<struct<lat:double,lon:double>>",
    )
    got = {
        r["id"]: (r["a"], r["p"])
        for r in df.select(
            "id",
            geo.ring_area_col(F.col("ring")).alias("a"),
            geo.ring_perimeter_col(F.col("ring")).alias("p"),
        ).collect()
    }
    # degenerate rings yield 0, never a slice() crash
    assert got[1] == (0.0, 0.0) and got[2] == (0.0, 0.0)
