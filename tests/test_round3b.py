"""Round-3 third wave: segment-intersect join, spatial anti-join,
Douglas-Peucker simplification, corpus line-level boilerplate removal."""

from __future__ import annotations

import numpy as np
import pytest

from pbf2json_spark import geo, spatial, textops


# --- segment-intersect join -----------------------------------------------------------


def _segs(spark, rows, idname):
    return spark.createDataFrame(
        rows, f"{idname} long, alat double, alon double, blat double, blon double"
    )


def _brute_intersect(a, b):
    def cross(px, py, qx, qy, rx, ry):
        return (qx - px) * (ry - py) - (qy - py) * (rx - px)

    def on_seg(px, py, qx, qy, rx, ry):
        return (min(px, qx) <= rx <= max(px, qx)
                and min(py, qy) <= ry <= max(py, qy))

    def hit(l, r):
        _, ay, ax, by, bx = l
        _, cy, cx, dy, dx = r
        d1 = cross(cx, cy, dx, dy, ax, ay)
        d2 = cross(cx, cy, dx, dy, bx, by)
        d3 = cross(ax, ay, bx, by, cx, cy)
        d4 = cross(ax, ay, bx, by, dx, dy)
        if ((d1 > 0 and d2 < 0) or (d1 < 0 and d2 > 0)) and (
            (d3 > 0 and d4 < 0) or (d3 < 0 and d4 > 0)
        ):
            return True
        return (
            (d1 == 0 and on_seg(cx, cy, dx, dy, ax, ay))
            or (d2 == 0 and on_seg(cx, cy, dx, dy, bx, by))
            or (d3 == 0 and on_seg(ax, ay, bx, by, cx, cy))
            or (d4 == 0 and on_seg(ax, ay, bx, by, dx, dy))
        )

    return {(l[0], r[0]) for l in a for r in b if hit(l, r)}


def test_segment_intersect_matches_brute_force(spark):
    left, right = [], []
    for i in range(60):
        ay = ((i * 37) % 40) / 2.0 - 10.0
        ax = ((i * 61) % 40) / 2.0 - 10.0
        left.append((i, ay, ax, ay + (i % 9) - 4.0, ax + (i % 11) - 5.0))
    for j in range(60):
        cy = ((j * 53) % 40) / 2.0 - 10.0
        cx = ((j * 29) % 40) / 2.0 - 10.0
        right.append((j, cy, cx, cy + (j % 7) - 3.0, cx + (j % 13) - 6.0))
    got = {
        (r.lid, r.rid)
        for r in spatial.segment_intersect_join(
            _segs(spark, left, "lid"), _segs(spark, right, "rid"),
            res=5, left_id="lid", right_id="rid",
        ).collect()
    }
    want = _brute_intersect(left, right)
    assert got == want
    assert len(want) > 20  # non-trivial


def test_segment_intersect_touching_and_collinear(spark):
    left = [(1, 0.0, 0.0, 0.0, 10.0)]
    right = [
        (1, 0.0, 10.0, 5.0, 10.0),   # touches left's endpoint
        (2, 0.0, 2.0, 0.0, 4.0),     # collinear overlap
        (3, 1.0, 0.0, 1.0, 10.0),    # parallel, disjoint
        (4, -5.0, 5.0, 5.0, 5.0),    # proper crossing
        (5, 0.0, 11.0, 0.0, 12.0),   # collinear, disjoint
    ]
    got = {
        (r.lid, r.rid)
        for r in spatial.segment_intersect_join(
            _segs(spark, left, "lid"), _segs(spark, right, "rid"),
            res=4, left_id="lid", right_id="rid",
        ).collect()
    }
    assert got == {(1, 1), (1, 2), (1, 4)}


def test_segment_intersect_no_duplicate_pairs(spark):
    # a long diagonal pair sharing MANY cover cells must emit once
    left = [(1, -30.0, -60.0, 30.0, 60.0)]
    right = [(9, 30.0, -60.0, -30.0, 60.0)]
    got = spatial.segment_intersect_join(
        _segs(spark, left, "lid"), _segs(spark, right, "rid"),
        res=6, left_id="lid", right_id="rid",
    ).collect()
    assert [(r.lid, r.rid) for r in got] == [(1, 9)]


# --- spatial anti-join ----------------------------------------------------------------


def test_spatial_anti_join_matches_brute_force(spark):
    pts = [(i, ((i * 131) % 160) / 2.0 - 40.0, ((i * 257) % 340) / 2.0 - 85.0)
           for i in range(300)]
    qs = [(j, ((j * 911) % 160) / 2.0 - 40.0, ((j * 347) % 340) / 2.0 - 85.0)
          for j in range(20)]
    r = 12.0
    got = {
        x.point_id
        for x in spatial.spatial_anti_join(
            spark.createDataFrame(pts, "point_id long, lat double, lon double"),
            spark.createDataFrame(qs, "qid long, lat double, lon double"),
            radius_deg=r, res=5,
        ).collect()
    }
    want = {
        pid for pid, plat, plon in pts
        if all((plat - qlat) ** 2 + (plon - qlon) ** 2 > r * r
               for _, qlat, qlon in qs)
    }
    assert got == want
    assert 0 < len(want) < len(pts)


# --- Douglas-Peucker ------------------------------------------------------------------


def _dp_recursive(lat, lon, eps):
    """Textbook recursive DP — the independent reference."""
    n = len(lat)
    if n <= 2:
        return list(range(n))

    def seg_d2(i, j, k):
        ax, ay, bx, by = lon[i], lat[i], lon[j], lat[j]
        px, py = lon[k], lat[k]
        dx, dy = bx - ax, by - ay
        len2 = dx * dx + dy * dy
        if len2 == 0.0:
            return (px - ax) ** 2 + (py - ay) ** 2
        t = max(0.0, min(1.0, ((px - ax) * dx + (py - ay) * dy) / len2))
        qx, qy = ax + t * dx, ay + t * dy
        return (px - qx) ** 2 + (py - qy) ** 2

    def rec(i, j):
        if j <= i + 1:
            return []
        ds = [seg_d2(i, j, k) for k in range(i + 1, j)]
        k = int(np.argmax(ds))
        if ds[k] > eps * eps:
            m = i + 1 + k
            return rec(i, m) + [m] + rec(m, j)
        return []

    return [0] + rec(0, n - 1) + [n - 1]


@pytest.mark.parametrize("seed", [0, 1, 2])
def test_dp_mask_matches_recursive(seed):
    rng = np.random.RandomState(seed)
    lat = np.cumsum(rng.randn(200))
    lon = np.cumsum(rng.randn(200))
    for eps in (0.5, 2.0, 10.0):
        mask = geo.dp_keep_mask(lat, lon, eps)
        assert sorted(np.nonzero(mask)[0].tolist()) == _dp_recursive(lat, lon, eps)


def test_dp_mask_deviation_bound():
    rng = np.random.RandomState(7)
    lat = np.cumsum(rng.randn(300))
    lon = np.cumsum(rng.randn(300))
    eps = 3.0
    mask = geo.dp_keep_mask(lat, lon, eps)
    kept = np.nonzero(mask)[0]
    # every dropped point lies within eps of the simplified polyline
    for k in range(len(lat)):
        if mask[k]:
            continue
        i = kept[kept < k][-1]
        j = kept[kept > k][0]
        ax, ay, bx, by = lon[i], lat[i], lon[j], lat[j]
        dx, dy = bx - ax, by - ay
        t = max(0.0, min(1.0, ((lon[k] - ax) * dx + (lat[k] - ay) * dy)
                         / (dx * dx + dy * dy)))
        d2 = (lon[k] - (ax + t * dx)) ** 2 + (lat[k] - (ay + t * dy)) ** 2
        assert d2 <= eps * eps


def test_dp_mask_edge_cases():
    assert geo.dp_keep_mask(np.array([]), np.array([]), 1.0).tolist() == []
    assert geo.dp_keep_mask(np.array([1.0]), np.array([2.0]), 1.0).tolist() == [True]
    # closed ring (first == last): len2 == 0 path
    lat = np.array([0.0, 5.0, 0.0])
    lon = np.array([0.0, 5.0, 0.0])
    m = geo.dp_keep_mask(lat, lon, 1.0)
    assert m.tolist() == [True, True, True]
    assert geo.dp_keep_mask(lat, lon, 10.0).tolist() == [True, False, True]


def test_simplify_polylines_spark(spark):
    rng = np.random.RandomState(3)
    rows = []
    for uid in range(6):
        lat = np.cumsum(rng.randn(50))
        lon = np.cumsum(rng.randn(50))
        rows.append((uid, [{"lat": float(a), "lon": float(b)}
                           for a, b in zip(lat, lon)]))
    df = spark.createDataFrame(
        rows, "uid long, line array<struct<lat:double,lon:double>>"
    )
    got = {r.uid: r.line for r in spatial.simplify_polylines(df, 2.0).collect()}
    for uid, line in rows:
        lat = np.array([p["lat"] for p in line])
        lon = np.array([p["lon"] for p in line])
        want = [i for i, k in enumerate(geo.dp_keep_mask(lat, lon, 2.0)) if k]
        assert [(p.lat, p.lon) for p in got[uid]] == [
            (line[i]["lat"], line[i]["lon"]) for i in want
        ]
    # idempotence: simplifying the simplified lines is a no-op
    once = spatial.simplify_polylines(df, 2.0)
    twice = spatial.simplify_polylines(once, 2.0)
    a = {r.uid: [(p.lat, p.lon) for p in r.line] for r in once.collect()}
    b = {r.uid: [(p.lat, p.lon) for p in r.line] for r in twice.collect()}
    assert a == b


# --- boilerplate line removal ---------------------------------------------------------


def test_remove_boilerplate_lines(spark):
    banner = "accept all cookies"
    docs = []
    for i in range(10):
        body = f"unique line {i}\nanother unique {i}"
        docs.append((i, f"{banner}\n{body}" if i % 2 == 0 else body))
    df = spark.createDataFrame(docs, "doc_id long, text string")
    out = {r.doc_id: (r.text_clean, r.n_kept, r.n_dropped)
           for r in textops.remove_boilerplate_lines(df, min_docs=3).collect()}
    assert len(out) == 10
    for i in range(10):
        body = f"unique line {i}\nanother unique {i}"
        assert out[i] == (body, 2, 1 if i % 2 == 0 else 0)


def test_remove_boilerplate_within_doc_repeat_counts_once(spark):
    # the same line twice in ONE doc is df=1, not df=2 → survives min_docs=2
    df = spark.createDataFrame(
        [(1, "dup\ndup\nbody"), (2, "other")], "doc_id long, text string"
    )
    out = {r.doc_id: r.text_clean
           for r in textops.remove_boilerplate_lines(df, min_docs=2).collect()}
    assert out[1] == "dup\ndup\nbody"


def test_remove_boilerplate_all_lines_dropped_keeps_row(spark):
    df = spark.createDataFrame(
        [(i, "banner one\nbanner two") for i in range(5)] + [(99, "real content")],
        "doc_id long, text string",
    )
    out = {r.doc_id: (r.text_clean, r.n_kept, r.n_dropped)
           for r in textops.remove_boilerplate_lines(df, min_docs=4).collect()}
    assert out[0] == ("", 0, 2)
    assert out[99] == ("real content", 1, 0)
