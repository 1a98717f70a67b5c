"""Wave-14 operators: largest-remainder budget apportionment, grid-cover
dilation."""

from __future__ import annotations

import random

from pbf2json_spark import spatial, weburl


# --- apportion_budget --------------------------------------------------------


def _brute_apportion(weights, budget):
    tot = sum(w for _, w in weights)
    base = {k: budget * w // tot for k, w in weights}
    rem = {k: budget * w % tot for k, w in weights}
    n_bonus = budget - sum(base.values())
    winners = sorted(weights, key=lambda kw: (-rem[kw[0]], kw[0]))[:n_bonus]
    bonus = {k for k, _ in winners}
    return {k: (w, base[k], int(k in bonus), base[k] + int(k in bonus))
            for k, w in weights}


def test_apportion_hand(spark):
    d = spark.createDataFrame([("a", 5), ("b", 3), ("c", 2)],
                              "host string, n_pages long")
    got = {r["host"]: (r["n_pages"], r["base_quota"], r["bonus"], r["quota"])
           for r in weburl.apportion_budget(d, 7).collect()}
    assert got == {"a": (5, 3, 1, 4), "b": (3, 2, 0, 2), "c": (2, 1, 0, 1)}
    assert sum(v[3] for v in got.values()) == 7


def test_apportion_sums_exactly_and_matches_brute(spark):
    rng = random.Random(59)
    weights = [(f"h{i:03d}", rng.randrange(1, 500)) for i in range(40)]
    d = spark.createDataFrame(weights, "host string, n_pages long")
    for budget in (1, 17, 1000, 99_999):
        got = {r["host"]: (r["n_pages"], r["base_quota"], r["bonus"],
                           r["quota"])
               for r in weburl.apportion_budget(d, budget).collect()}
        assert got == _brute_apportion(weights, budget), f"budget={budget}"
        assert sum(v[3] for v in got.values()) == budget


def test_apportion_tie_breaks_on_key(spark):
    # equal weights, budget not divisible: bonus goes to the smallest keys
    d = spark.createDataFrame([(k, 1) for k in "abcd"],
                              "host string, n_pages long")
    got = {r["host"]: r["quota"]
           for r in weburl.apportion_budget(d, 6).collect()}
    assert got == {"a": 2, "b": 2, "c": 1, "d": 1}


# --- dilate_cover ------------------------------------------------------------


def _brute_dilate(cells, res, radius):
    n = 1 << res
    out = set()
    for cx, cy in cells:
        for dx in range(-radius, radius + 1):
            for dy in range(-radius, radius + 1):
                out.add(((cx + dx) % n, min(max(cy + dy, 0), n - 1)))
    return out


def test_dilate_wrap_and_clamp(spark):
    cells = [(0, 0), (7, 3)]
    c = spark.createDataFrame(cells, "cx long, cy long")
    got = {(r["cx"], r["cy"])
           for r in spatial.dilate_cover(c, 3, 1).collect()}
    assert got == _brute_dilate(cells, 3, 1)
    # (0,0) wraps x to 7 and clamps y at 0 -> only 6 cells, not 9
    assert (7, 0) in got and (0, -1) not in got


def test_dilate_radius2_vs_brute_random(spark):
    rng = random.Random(61)
    cells = list({(rng.randrange(16), rng.randrange(16)) for _ in range(30)})
    c = spark.createDataFrame(cells, "cx long, cy long")
    got = {(r["cx"], r["cy"])
           for r in spatial.dilate_cover(c, 4, 2).collect()}
    assert got == _brute_dilate(cells, 4, 2)


def test_dilate_idempotent_union(spark):
    # dilating twice by 1 == dilating once by 2 (Chebyshev disks compose)
    cells = [(3, 3), (10, 12)]
    c = spark.createDataFrame(cells, "cx long, cy long")
    once2 = {(r["cx"], r["cy"])
             for r in spatial.dilate_cover(c, 4, 2).collect()}
    twice1 = {(r["cx"], r["cy"])
              for r in spatial.dilate_cover(
                  spatial.dilate_cover(c, 4, 1), 4, 1).collect()}
    assert once2 == twice1
