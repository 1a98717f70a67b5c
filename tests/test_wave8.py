"""Wave-8 operators: redirect-chain resolution (pointer doubling),
funnel analysis, interval-overlap join, radius of gyration, local
Moran's I."""

from __future__ import annotations

import math
import random

from pbf2json_spark import spatial, temporal, trajectory, weburl


# --- resolve_redirects -------------------------------------------------------


def _brute_redirects(edges, max_hops=10_000):
    nxt = dict(edges)
    out = {}
    for s in nxt:
        cur, hops, seen = nxt[s], 1, {s}
        while cur in nxt and hops < max_hops and cur not in seen:
            seen.add(cur)
            cur, hops = nxt[cur], hops + 1
        if cur in nxt:  # stopped by cycle detection
            out[s] = (None, None, True)
        else:
            out[s] = (cur, hops, False)
    return out


def test_redirects_chain_and_terminal(spark):
    edges = [(1, 2), (2, 3), (3, 4)]  # 4 is terminal
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r["node"]: (r["terminal"], r["hops"], r["cyclic"])
           for r in weburl.resolve_redirects(df).collect()}
    assert got == {1: (4, 3, False), 2: (4, 2, False), 3: (4, 1, False)}


def test_redirects_cycle_and_enterer(spark):
    edges = [(1, 2), (2, 1), (3, 2), (4, 5)]
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r["node"]: (r["terminal"], r["hops"], r["cyclic"])
           for r in weburl.resolve_redirects(df).collect()}
    assert got == {
        1: (None, None, True), 2: (None, None, True),
        3: (None, None, True), 4: (5, 1, False),
    }


def test_redirects_vs_brute_random_functional(spark):
    rnd = random.Random(11)
    # functional graph over 0..199: ~70% of nodes redirect somewhere
    edges = [(s, rnd.randrange(200)) for s in range(200) if rnd.random() < 0.7]
    edges = [(s, d) for s, d in edges if s != d]  # self-loop = 1-cycle, drop
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r["node"]: (r["terminal"], r["hops"], r["cyclic"])
           for r in weburl.resolve_redirects(df, max_rounds=12).collect()}
    assert got == _brute_redirects(edges)


def test_redirects_long_chain_log_rounds(spark):
    # a 600-hop chain resolves within 10 doubling rounds (2^10 = 1024)
    edges = [(i, i + 1) for i in range(600)]
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r["node"]: (r["terminal"], r["hops"])
           for r in weburl.resolve_redirects(df, max_rounds=10).collect()}
    assert got[0] == (600, 600) and got[599] == (600, 1)


# --- funnel ------------------------------------------------------------------


def _brute_funnel(rows, stages):
    by_user = {}
    for u, ts, et in rows:
        by_user.setdefault(u, []).append((ts, et))
    out = {}
    for u, evs in by_user.items():
        times, prev = [], None
        for s in stages:
            cands = [ts for ts, et in evs if et == s
                     and (prev is None or ts >= prev)]
            if not cands:
                break
            prev = min(cands)
            times.append(prev)
        if times:
            times += [None] * (len(stages) - len(times))
            out[u] = (*times, len([t for t in times if t is not None]))
    return out


def test_funnel_hand_case(spark):
    rows = [
        (1, 10, "view"), (1, 20, "click"), (1, 30, "buy"),
        (2, 10, "view"), (2, 5, "click"),            # click BEFORE view
        (3, 10, "click"),                            # never viewed
        (4, 10, "view"), (4, 10, "click"),           # simultaneous counts
    ]
    df = spark.createDataFrame(rows, "user_id long, ts_us long, event_type string")
    got = {r["user_id"]: (r["t1"], r["t2"], r["t3"], r["stage_reached"])
           for r in temporal.funnel(df, ["view", "click", "buy"]).collect()}
    assert got == {
        1: (10, 20, 30, 3),
        2: (10, None, None, 1),
        4: (10, 10, None, 2),
    }


def test_funnel_vs_brute(spark):
    rnd = random.Random(7)
    types = ["view", "click", "buy", "other"]
    rows = [
        (rnd.randrange(40), rnd.randrange(1000), rnd.choice(types))
        for _ in range(800)
    ]
    df = spark.createDataFrame(rows, "user_id long, ts_us long, event_type string")
    got = {r["user_id"]: (r["t1"], r["t2"], r["t3"], r["stage_reached"])
           for r in temporal.funnel(df, ["view", "click", "buy"]).collect()}
    assert got == _brute_funnel(rows, ["view", "click", "buy"])


def test_funnel_partition_invariance(spark):
    rnd = random.Random(13)
    rows = [(rnd.randrange(20), rnd.randrange(100), rnd.choice(["a", "b"]))
            for _ in range(400)]
    df = spark.createDataFrame(rows, "user_id long, ts_us long, event_type string")
    a = sorted(map(tuple, temporal.funnel(df, ["a", "b"]).collect()))
    b = sorted(map(tuple, temporal.funnel(df.repartition(9), ["a", "b"]).collect()))
    assert a == b and len(a) > 0


# --- interval_overlap_join ---------------------------------------------------


def _brute_overlap(lefts, rights):
    out = set()
    for aid, as_, ae in lefts:
        for bid, bs, be in rights:
            if as_ <= be and bs <= ae:
                s, e = max(as_, bs), min(ae, be)
                out.add((aid, bid, s, e, e - s))
    return out


def test_overlap_hand_case(spark):
    lefts = [(1, 0, 10), (2, 20, 30)]
    rights = [(7, 5, 25), (8, 100, 110)]
    a = spark.createDataFrame(lefts, "a_id long, s long, e long")
    b = spark.createDataFrame(rights, "b_id long, s long, e long")
    got = {tuple(r) for r in temporal.interval_overlap_join(a, b, chunk=4).collect()}
    assert got == {(1, 7, 5, 10, 5), (2, 7, 20, 25, 5)}


def test_overlap_vs_brute_many_chunks(spark):
    rnd = random.Random(3)
    lefts = [(i, s := rnd.randrange(500), s + rnd.randrange(0, 60))
             for i in range(120)]
    rights = [(i, s := rnd.randrange(500), s + rnd.randrange(0, 60))
              for i in range(120)]
    a = spark.createDataFrame(lefts, "a_id long, s long, e long")
    b = spark.createDataFrame(rights, "b_id long, s long, e long")
    for chunk in (7, 64, 1000):  # pair spans many / few / one chunk
        got = {tuple(r)
               for r in temporal.interval_overlap_join(a, b, chunk=chunk).collect()}
        assert got == _brute_overlap(lefts, rights)


def test_overlap_touching_endpoints_closed(spark):
    a = spark.createDataFrame([(1, 0, 10)], "a_id long, s long, e long")
    b = spark.createDataFrame([(2, 10, 20)], "b_id long, s long, e long")
    got = temporal.interval_overlap_join(a, b, chunk=3).collect()
    assert [tuple(r) for r in got] == [(1, 2, 10, 10, 0)]


# --- radius_of_gyration ------------------------------------------------------


def _brute_rog2(rows):
    by_user = {}
    for u, lat, lon in rows:
        x = math.floor(lat * 1.0e6)
        y = math.floor(lon * 1.0e6)
        by_user.setdefault(u, []).append((x, y))
    out = {}
    for u, pts in by_user.items():
        n = len(pts)
        sx = sum(p[0] for p in pts)
        sy = sum(p[1] for p in pts)
        sxx = sum(p[0] * p[0] for p in pts)
        syy = sum(p[1] * p[1] for p in pts)
        num = (n * sxx - sx * sx) + (n * syy - sy * sy)
        q, r = divmod(num, n * n)  # num >= 0: divmod == trunc division
        out[u] = (n, q)
    return out


def test_rog_single_point_zero(spark):
    df = spark.createDataFrame([(1, 10.5, -20.25)], "user_id long, lat double, lon double")
    r = trajectory.radius_of_gyration(df).collect()[0]
    assert (r["n_points"], r["rog2_e12"]) == (1, 0)


def test_rog_vs_brute(spark):
    rnd = random.Random(19)
    rows = [
        (rnd.randrange(12), rnd.uniform(-85, 85), rnd.uniform(-175, 175))
        for _ in range(600)
    ]
    df = spark.createDataFrame(rows, "user_id long, lat double, lon double")
    got = {r["user_id"]: (r["n_points"], r["rog2_e12"])
           for r in trajectory.radius_of_gyration(df).collect()}
    assert got == _brute_rog2(rows)


def test_rog_no_overflow_many_points(spark):
    # 5000 far-flung pings: BIGINT sum of e6-squared terms would overflow;
    # the DECIMAL(38,0) path must stay exact
    rows = [(1, 85.0 if i % 2 else -85.0, 179.0 if i % 3 else -179.0)
            for i in range(5000)]
    df = spark.createDataFrame(rows, "user_id long, lat double, lon double")
    got = {r["user_id"]: (r["n_points"], r["rog2_e12"])
           for r in trajectory.radius_of_gyration(df).collect()}
    assert got == _brute_rog2(rows)


# --- local_moran -------------------------------------------------------------


def _brute_moran(rows, res):
    n_side = 1 << res
    counts = {}
    for lat, lon in rows:
        x = min(max(int(math.floor((lon + 180.0) / 360.0 * n_side)), 0), n_side - 1)
        y = min(max(int(math.floor((lat + 90.0) / 180.0 * n_side)), 0), n_side - 1)
        counts[(x, y)] = counts.get((x, y), 0) + 1
    n = len(counts)
    s = sum(counts.values())
    out = {}
    for (cx, cy), xv in counts.items():
        nbrs = [counts[(cx + dx, cy + dy)]
                for dx in (-1, 0, 1) for dy in (-1, 0, 1)
                if (dx, dy) != (0, 0) and (cx + dx, cy + dy) in counts]
        k, ns = len(nbrs), sum(nbrs)
        num = (n * xv - s) * (n * ns - k * s)
        lisa = int(num / (n * n)) if num < 0 else num // (n * n)  # trunc
        out[(cx, cy)] = (xv, k, ns, lisa)
    return out


def test_moran_uniform_grid_is_flat(spark):
    # every cell same count -> N*x - S = 0 for all -> lisa 0 everywhere
    rows = []
    for cx in range(4):
        for cy in range(4):
            lon = -180.0 + (cx + 0.5) * 360.0 / 8
            lat = -90.0 + (cy + 0.5) * 180.0 / 8
            rows += [(lat, lon)] * 3
    df = spark.createDataFrame(rows, "lat double, lon double")
    res = spatial.local_moran(df, res=3).collect()
    assert len(res) == 16 and all(r["lisa_e0"] == 0 for r in res)


def test_moran_hotspot_positive_outlier_negative(spark):
    # dense cell surrounded by dense cells -> lisa > 0;
    # dense cell surrounded by sparse -> lisa < 0
    rows = []
    # 3x3 block of dense cells around (10, 10) at res 5 (cells 11.25x5.625 deg)
    for i in range(3):
        for j in range(3):
            rows += [(-30.0 + i * 5.7, -60.0 + j * 11.3)] * 20
    # isolated dense cell far away with sparse neighbors
    rows += [(40.0, 100.0)] * 20
    rows += [(40.0, 112.0)] * 1  # one sparse neighbor
    df = spark.createDataFrame(rows, "lat double, lon double")
    got = {(r["cx"], r["cy"]): r for r in spatial.local_moran(df, res=5).collect()}
    brute = _brute_moran([(la, lo) for la, lo in rows], 5)
    for key, (xv, k, ns, lisa) in brute.items():
        r = got[key]
        assert (r["x"], r["k_nbrs"], r["nbr_sum"], r["lisa_e0"]) == (xv, k, ns, lisa)


def test_moran_vs_brute_random(spark):
    rnd = random.Random(29)
    rows = [(rnd.uniform(-80, 80), rnd.uniform(-170, 170)) for _ in range(1500)]
    df = spark.createDataFrame(rows, "lat double, lon double")
    got = {(r["cx"], r["cy"]): (r["x"], r["k_nbrs"], r["nbr_sum"], r["lisa_e0"])
           for r in spatial.local_moran(df, res=4).collect()}
    assert got == _brute_moran(rows, 4)


def test_moran_partition_invariance(spark):
    rows = [(float(i % 37) - 18.0, float(i % 53) * 3.0 - 78.0) for i in range(500)]
    df = spark.createDataFrame(rows, "lat double, lon double")
    a = sorted(map(tuple, spatial.local_moran(df, res=4).collect()))
    b = sorted(map(tuple, spatial.local_moran(df.repartition(11), res=4).collect()))
    assert a == b and len(a) > 0
