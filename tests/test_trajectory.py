"""Nearest-segment join (map-matching lite) and trajectory operators
(travel stats, stay-point detection) — each checked bit-exact against a
brute-force formulation of the same IEEE expression tree."""

from __future__ import annotations

import math

from pbf2json_spark import spatial, trajectory


# --- nearest-segment join -------------------------------------------------------------


def _points(spark, rows):
    return spark.createDataFrame(rows, "point_id long, lat double, lon double")


def _segments(spark, rows):
    return spark.createDataFrame(
        rows, "seg_id long, alat double, alon double, blat double, blon double"
    )


def _brute_nearest(pts, segs, radius):
    """Same projection+clamp arithmetic in plain Python (C doubles ==
    IEEE doubles, same single-rounding ops) — the oracle."""
    out = {}
    for pid, plat, plon in pts:
        best = None
        for sid, alat, alon, blat, blon in segs:
            dx, dy = blon - alon, blat - alat
            len2 = dx * dx + dy * dy
            if len2 == 0.0:
                t = 0.0
            else:
                t = ((plon - alon) * dx + (plat - alat) * dy) / len2
                t = max(0.0, min(1.0, t))
            qx, qy = alon + t * dx, alat + t * dy
            d2 = (plon - qx) * (plon - qx) + (plat - qy) * (plat - qy)
            if d2 <= radius * radius:
                key = (d2, sid, t)
                if best is None or key < best:
                    best = key
        if best is not None:
            out[pid] = best
    return out


def test_nearest_segment_matches_brute_force(spark):
    pts = [(i, ((i * 131) % 160) / 2.0 - 40.0, ((i * 257) % 340) / 2.0 - 85.0)
           for i in range(200)]
    segs = []
    for j in range(40):
        alat = ((j * 37) % 160) / 2.0 - 40.0
        alon = ((j * 61) % 340) / 2.0 - 85.0
        segs.append((j, alat, alon, alat + (j % 7) - 3.0, alon + (j % 5) - 2.0))
    got = {
        r.point_id: (r.dist2_deg, r.seg_id, r.t_along)
        for r in spatial.nearest_segment_join(
            _points(spark, pts), _segments(spark, segs), radius_deg=8.0, res=5
        ).collect()
    }
    want = _brute_nearest(pts, segs, 8.0)
    assert set(got) == set(want)
    for pid in want:
        assert got[pid] == want[pid], (pid, got[pid], want[pid])


def test_nearest_segment_zero_length_segment_is_a_point(spark):
    # degenerate segment: distance to the endpoint, t_along = 0
    got = spatial.nearest_segment_join(
        _points(spark, [(1, 10.0, 20.0)]),
        _segments(spark, [(7, 10.5, 20.0, 10.5, 20.0)]),
        radius_deg=1.0,
        res=5,
    ).collect()
    assert len(got) == 1
    assert got[0].seg_id == 7
    assert got[0].t_along == 0.0
    assert got[0].dist2_deg == 0.25


def test_nearest_segment_out_of_radius_drops_point(spark):
    got = spatial.nearest_segment_join(
        _points(spark, [(1, 0.0, 0.0), (2, 50.0, 50.0)]),
        _segments(spark, [(7, 0.0, 1.0, 0.0, 2.0)]),
        radius_deg=2.0,
        res=5,
    ).collect()
    assert [r.point_id for r in got] == [1]


def test_nearest_segment_tie_breaks_on_seg_id(spark):
    # two identical segments — the smaller seg_id wins deterministically
    got = spatial.nearest_segment_join(
        _points(spark, [(1, 0.0, 0.5)]),
        _segments(spark, [(9, 1.0, 0.0, 1.0, 1.0), (3, 1.0, 0.0, 1.0, 1.0)]),
        radius_deg=2.0,
        res=4,
    ).collect()
    assert len(got) == 1 and got[0].seg_id == 3


# --- trajectory: travel stats ---------------------------------------------------------


def _traj(spark, rows):
    return spark.createDataFrame(
        rows, "user_id long, ts timestamp, lat double, lon double"
    )


def _ts(i):
    import datetime

    return datetime.datetime(2024, 1, 1) + datetime.timedelta(minutes=i)


def test_travel_stats_matches_brute_force(spark):
    rows = []
    for u in range(5):
        for i in range(30):
            rows.append(
                (u, _ts(i), ((u * 131 + i * 17) % 160) / 2.0 - 40.0,
                 ((u * 257 + i * 23) % 340) / 2.0 - 85.0)
            )
    got = {
        r.user_id: (r.n_points, r.total_dist_e9, r.max_step_deg)
        for r in trajectory.travel_stats(_traj(spark, rows)).collect()
    }
    for u in range(5):
        pts = sorted((r[1], r[2], r[3]) for r in rows if r[0] == u)
        tot, mx = 0, 0.0
        for a, b in zip(pts, pts[1:]):
            step = math.sqrt((b[1] - a[1]) * (b[1] - a[1])
                             + (b[2] - a[2]) * (b[2] - a[2]))
            tot += math.floor(step * 1_000_000_000)
            mx = max(mx, step)
        assert got[u] == (30, tot, mx), u


def test_travel_stats_single_point_user(spark):
    got = trajectory.travel_stats(_traj(spark, [(1, _ts(0), 5.0, 5.0)])).collect()
    assert [(r.n_points, r.total_dist_e9, r.max_step_deg) for r in got] == [(1, 0, 0.0)]


# --- trajectory: stay points ----------------------------------------------------------


def test_stay_points_gaps_and_islands(spark):
    # user 1: cluster (3 pts, steps 0.1) — jump 10 — cluster (2 pts) — jump — lone pt
    rows = [
        (1, _ts(0), 0.0, 0.0),
        (1, _ts(1), 0.05, 0.05),
        (1, _ts(2), 0.1, 0.1),
        (1, _ts(3), 10.0, 10.0),
        (1, _ts(4), 10.05, 10.0),
        (1, _ts(5), 50.0, 50.0),
    ]
    got = sorted(
        (r.stay_id, r.n_points, r.lat_min, r.lat_max)
        for r in trajectory.stay_points(
            _traj(spark, rows), dist_thresh_deg=0.5, min_points=2
        ).collect()
    )
    # run 0 = pts 0-2, run 1 = pts 3-4, run 2 = lone pt filtered by min_points
    assert got == [(0, 3, 0.0, 0.1), (1, 2, 10.0, 10.05)]


def test_stay_points_ids_stable_and_bboxes(spark):
    rows = []
    for i in range(40):
        # every 8th step is a long jump → 5 runs of 8
        base = (i // 8) * 20.0
        rows.append((7, _ts(i), base + (i % 8) * 0.01, base - (i % 8) * 0.01))
    got = sorted(
        (r.stay_id, r.n_points, r.ts_start, r.ts_end)
        for r in trajectory.stay_points(
            _traj(spark, rows), dist_thresh_deg=1.0, min_points=3
        ).collect()
    )
    assert [g[0] for g in got] == [0, 1, 2, 3, 4]
    assert all(g[1] == 8 for g in got)
    assert got[0][2] == _ts(0) and got[0][3] == _ts(7)
    assert got[4][2] == _ts(32) and got[4][3] == _ts(39)


# --- OD flows ---------------------------------------------------------------------------


def test_od_flows_counts_transitions(spark):
    from pbf2json_spark import trajectory

    # user 1: A -> B -> A ; user 2: A -> B  (A and B in distinct res-4 cells)
    stays = spark.createDataFrame(
        [
            (1, _ts(0), 10.0, 10.0, 10.0, 10.0),
            (1, _ts(10), 10.0, 10.0, 60.0, 60.0),
            (1, _ts(20), 10.0, 10.0, 10.0, 10.0),
            (2, _ts(0), 10.0, 10.0, 10.0, 10.0),
            (2, _ts(10), 10.0, 10.0, 60.0, 60.0),
        ],
        "user_id long, ts_start timestamp, lat_min double, lat_max double, "
        "lon_min double, lon_max double",
    )
    got = {
        (r.from_x, r.from_y, r.to_x, r.to_y): r.n_trips
        for r in trajectory.od_flows(stays, res=4).collect()
    }
    # res 4: n=16; A midpoint (10,10) -> x=floor((10+180)/360*16)=8, y=floor((10+90)/180*16)=8
    # B midpoint (10,60) -> x=floor(240/360*16)=10, y=8
    assert got == {(8, 8, 10, 8): 2, (10, 8, 8, 8): 1}


def test_od_flows_single_stay_user_no_rows(spark):
    from pbf2json_spark import trajectory

    stays = spark.createDataFrame(
        [(7, _ts(0), 0.0, 0.0, 0.0, 0.0)],
        "user_id long, ts_start timestamp, lat_min double, lat_max double, "
        "lon_min double, lon_max double",
    )
    assert trajectory.od_flows(stays, res=4).count() == 0
