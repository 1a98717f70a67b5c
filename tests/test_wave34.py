"""Wave-34: 2-D Pareto skyline (window formulation vs brute dominance)
and Hilbert curve encoding (bijectivity, the unit-step locality law,
numpy/Column agreement)."""

from __future__ import annotations

import random

import numpy as np

from pbf2json_spark import layout, stats


# --- skyline -------------------------------------------------------------


def _brute_skyline(rows):
    def dominated(r):
        return any(
            s[0] == r[0]
            and s[1] >= r[1]
            and s[2] <= r[2]
            and (s[1] > r[1] or s[2] < r[2])
            for s in rows
        )

    return {tuple(r) for r in rows if not dominated(r)}


def test_skyline_vs_brute(spark):
    rnd = random.Random(34)
    rows = [
        (f"g{rnd.randrange(3)}", rnd.randrange(15), rnd.randrange(15), i)
        for i in range(300)
    ]
    sdf = spark.createDataFrame(rows, "g string, a long, b long, rid long")
    got = {
        (r["g"], r["a"], r["b"], r["rid"])
        for r in stats.skyline_2d(sdf, ["g"], "a", "b").collect()
    }
    assert got == _brute_skyline(rows)


def test_skyline_ties_and_duplicates(spark):
    # duplicate (a,b) points are mutually non-dominating: both survive;
    # a same-a smaller-b point kills the larger-b one
    rows = [("g", 5, 3, 1), ("g", 5, 3, 2), ("g", 5, 4, 3), ("g", 9, 3, 4)]
    sdf = spark.createDataFrame(rows, "g string, a long, b long, rid long")
    got = {r["rid"] for r in stats.skyline_2d(sdf, ["g"], "a", "b").collect()}
    assert got == {4}
    # without the dominating (9,3) row the two duplicates survive
    sdf2 = spark.createDataFrame(rows[:3], "g string, a long, b long, rid long")
    got2 = {r["rid"] for r in stats.skyline_2d(sdf2, ["g"], "a", "b").collect()}
    assert got2 == {1, 2}


def test_skyline_single_and_monotone_group(spark):
    # b rising with a ⇒ no point dominates another ⇒ ALL frontier;
    # b falling with a ⇒ the max-a point dominates everything
    rows = (
        [("s", 1, 1, 0)]
        + [("m", i, 6 + i, i) for i in range(5)]
        + [("c", i, 10 - i, i) for i in range(5)]
    )
    sdf = spark.createDataFrame(rows, "g string, a long, b long, rid long")
    got = {(r["g"], r["rid"]) for r in stats.skyline_2d(sdf, ["g"], "a", "b").collect()}
    assert got == {("s", 0)} | {("m", i) for i in range(5)} | {("c", 4)}


# --- hilbert -------------------------------------------------------------


def test_hilbert_bijective_exhaustive():
    for res in (1, 2, 3, 5):
        n = 1 << res
        d = np.arange(n * n, dtype=np.int64)
        x, y = layout.hilbert_xy(d, res)
        assert sorted(zip(x.tolist(), y.tolist())) == [
            (i, j) for i in range(n) for j in range(n)
        ]
        assert (layout.hilbert_d(x, y, res) == d).all()


def test_hilbert_unit_step_locality():
    # THE Hilbert property Morton lacks: consecutive distances are always
    # 4-adjacent cells (Manhattan distance exactly 1)
    res = 5
    d = np.arange((1 << res) * (1 << res), dtype=np.int64)
    x, y = layout.hilbert_xy(d, res)
    man = np.abs(np.diff(x)) + np.abs(np.diff(y))
    assert (man == 1).all()
    # Morton violates it (the Z seams): strictly worse worst-case jump
    mx, my = _morton_xy(d, res)
    mman = np.abs(np.diff(mx)) + np.abs(np.diff(my))
    assert mman.max() > 1


def _morton_xy(d, res):
    x = np.zeros(d.shape, np.int64)
    y = np.zeros(d.shape, np.int64)
    for b in range(res):
        x |= ((d >> np.int64(2 * b)) & 1) << np.int64(b)
        y |= ((d >> np.int64(2 * b + 1)) & 1) << np.int64(b)
    return x, y


def test_hilbert_round_trip_res16():
    rng = np.random.default_rng(34)
    x = rng.integers(0, 1 << 16, 2000)
    y = rng.integers(0, 1 << 16, 2000)
    d = layout.hilbert_d(x, y, 16)
    assert d.min() >= 0 and d.max() < (1 << 32)
    xr, yr = layout.hilbert_xy(d, 16)
    assert (xr == x).all() and (yr == y).all()


def test_hilbert_column_and_udf_match_numpy(spark):
    rng = np.random.default_rng(7)
    res = 8
    xs = rng.integers(0, 1 << res, 400)
    ys = rng.integers(0, 1 << res, 400)
    df = spark.createDataFrame(
        [(int(a), int(b)) for a, b in zip(xs, ys)], "x long, y long"
    )
    exp = {
        (int(a), int(b)): int(e)
        for a, b, e in zip(xs, ys, layout.hilbert_d(xs, ys, res))
    }
    col = {
        (r["x"], r["y"]): r["hilbert_d"]
        for r in layout.hilbert_df(df, "x", "y", res).collect()
    }
    assert col == exp
    udf = {
        (r["x"], r["y"]): r["h"]
        for r in df.select(
            "x", "y", layout.hilbert_udf(res)("x", "y").alias("h")
        ).collect()
    }
    assert udf == exp

