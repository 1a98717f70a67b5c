"""Wave-41: portable HyperLogLog (registers vs python-md5 reference,
estimate accuracy, linear-counting small range) and
banded discrete Fréchet distance (vs brute full-matrix DP; identity;
frechet <= dtw law)."""

from __future__ import annotations

import hashlib
import math
import random

import numpy as np

from pbf2json_spark import cells, sketch, trajectory


# --- HyperLogLog ----------------------------------------------------------------


def _ref_reg(key, p: int, seed: int = 0) -> tuple[int, int]:
    h = int(hashlib.md5(f"{key}:{seed}".encode()).hexdigest()[:15], 16)
    q = 60 - p
    idx = h >> q
    w = h & ((1 << q) - 1)
    rank = q + 1 if w == 0 else q + 1 - w.bit_length()
    return idx, rank


def test_hll_registers_vs_python(spark):
    rows = [(i % 3, f"k{i}") for i in range(300)]
    df = spark.createDataFrame(rows, "g int, key string")
    got = {
        (r["g"], r["reg_idx"]): r["r"]
        for r in sketch.hll_build(df, "key", ["g"], p=6).collect()
    }
    exp: dict[tuple[int, int], int] = {}
    for g, k in rows:
        idx, rank = _ref_reg(k, 6)
        exp[(g, idx)] = max(exp.get((g, idx), 0), rank)
    assert got == exp


def test_hll_estimate_accuracy(spark):
    n = 5000
    df = spark.createDataFrame([(f"u{i}",) for i in range(n)], "key string")
    # duplicates must not move a single register
    dup = df.unionAll(df.limit(1000))
    s1 = sketch.hll_build(df, "key", p=8)
    s2 = sketch.hll_build(dup, "key", p=8)
    assert sorted(map(tuple, s1.collect())) == sorted(map(tuple, s2.collect()))
    est = sketch.hll_estimate(s1, p=8).collect()[0]
    # std err 1.04/sqrt(256) = 6.5%; 3 sigma ~ 20%
    assert abs(est["est"] - n) / n < 0.20, est["est"]
    assert est["n_regs"] + est["n_zero"] == 256
    assert est["z_scaled"] > 0


def test_hll_linear_counting_small(spark):
    n = 10
    df = spark.createDataFrame([(f"v{i}",) for i in range(n)], "key string")
    est = sketch.hll_estimate(sketch.hll_build(df, "key", p=8), p=8).collect()[0]
    m = 256
    v = est["n_zero"]
    # the correction fired and equals m*ln(m/V) exactly as specified
    assert est["est"] == 256.0 * math.log(m / v) or abs(
        est["est"] - 256.0 * math.log(m / v)
    ) < 1e-9
    assert abs(est["est"] - n) / n < 0.15, est["est"]


# --- discrete Fréchet ------------------------------------------------------------


def _brute_frechet(a: list, b: list) -> int:
    n, m = len(a), len(b)
    ca = [[-1] * m for _ in range(n)]
    for i in range(n):
        for j in range(m):
            d = max(abs(a[i][0] - b[j][0]), abs(a[i][1] - b[j][1]))
            if i == 0 and j == 0:
                v = d
            elif i == 0:
                v = max(ca[0][j - 1], d)
            elif j == 0:
                v = max(ca[i - 1][0], d)
            else:
                v = max(min(ca[i - 1][j], ca[i - 1][j - 1], ca[i][j - 1]), d)
            ca[i][j] = v
    return ca[n - 1][m - 1]


def _mk_traj(rnd: random.Random, n_users: int = 8, n_pts: int = 30):
    rows = []
    base = {}
    for u in range(n_users):
        # clustered walks so cell_jaccard finds overlapping candidates
        lat = rnd.uniform(-20, 20)
        lon = rnd.uniform(-20, 20)
        base[u] = (lat, lon)
        for t in range(n_pts):
            lat += rnd.uniform(-1.5, 1.5)
            lon += rnd.uniform(-1.5, 1.5)
            rows.append((u, t, lat, lon))
    # user 100 duplicates user 0 exactly (identity law)
    rows += [(100, t, la, lo) for (u, t, la, lo) in rows if u == 0]
    return rows


def _ref_seq(rows, user, res, max_len=64):
    pts = sorted((t, la, lo) for (u, t, la, lo) in rows if u == user)
    xs, ys = cells.xy(
        np.array([p[1] for p in pts]), np.array([p[2] for p in pts]), res
    )
    seq = []
    for x, y in zip(xs.tolist(), ys.tolist()):
        if not seq or seq[-1] != (x, y):
            seq.append((x, y))
    return seq[:max_len]


def test_frechet_vs_brute(spark):
    rnd = random.Random(41)
    rows = _mk_traj(rnd)
    df = spark.createDataFrame(rows, "user_id long, ts long, lat double, lon double")
    got = trajectory.frechet_pairs(df, res=5, band=64).collect()
    assert got, "candidate prescreen returned no pairs"
    for r in got:
        a = _ref_seq(rows, r["user_a"], 5)
        b = _ref_seq(rows, r["user_b"], 5)
        assert r["len_a"] == len(a) and r["len_b"] == len(b)
        assert r["frechet"] == _brute_frechet(a, b), (r["user_a"], r["user_b"])
    ident = [r for r in got if (r["user_a"], r["user_b"]) == (0, 100)]
    assert ident and ident[0]["frechet"] == 0


def test_frechet_le_dtw(spark):
    rnd = random.Random(43)
    rows = _mk_traj(rnd, n_users=6)
    df = spark.createDataFrame(rows, "user_id long, ts long, lat double, lon double")
    fr = {
        (r["user_a"], r["user_b"]): r["frechet"]
        for r in trajectory.frechet_pairs(df, res=5, band=8).collect()
    }
    dt = {
        (r["user_a"], r["user_b"]): r["dtw"]
        for r in trajectory.dtw_pairs(df, res=5, band=8).collect()
    }
    assert set(fr) == set(dt)
    checked = 0
    for k, v in fr.items():
        if v >= 0 and dt[k] >= 0:
            # the max along the best-sum path bounds frechet; sums dominate
            assert v <= dt[k], k
            checked += 1
    assert checked > 0


def test_frechet_band_gap(spark):
    # length difference beyond the band -> -1 sentinel (domain restriction)
    rows = [(1, t, 0.0 + t * 3.0, 0.0) for t in range(20)]
    rows += [(2, t, 0.0 + t * 3.0, 0.0) for t in range(3)]
    df = spark.createDataFrame(rows, "user_id long, ts long, lat double, lon double")
    got = trajectory.frechet_pairs(df, res=5, band=2).collect()
    assert got and all(r["frechet"] == -1 for r in got)
