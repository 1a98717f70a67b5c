"""Wave-52: deterministic Poisson bootstrap CI (vs brute python reference:
identical md5 ladder weights, replicate stats, order-statistic bounds;
partition invariance; CI-contains-mean sanity) and exact Spearman rank
correlation (vs scipy-free midrank Pearson reference incl. heavy ties,
perfect monotone = ±1, constant-column NULL)."""

from __future__ import annotations

import hashlib
import math
import random

from pbf2json_spark import stats


# --- Poisson bootstrap ------------------------------------------------------------


def _u32(key, rep):
    return int(hashlib.md5(f"{key}:{rep}".encode()).hexdigest()[:8], 16)


def _pw(u):
    for k, t in enumerate(stats.POISSON1_T32):
        if u < t:
            return k
    return 8


def _brute_bootstrap(rows, reps, alpha, scale):
    """rows: [(grp, id, x)] → {grp: (n, total, mean_scaled, lo, hi, n_reps)}"""
    out = {}
    grps = {}
    for g, i, x in rows:
        grps.setdefault(g, []).append((i, x))
    for g, items in grps.items():
        ms = []
        for b in range(reps):
            rs = rn = 0
            for i, x in items:
                w = _pw(_u32(i, b))
                rs += w * x
                rn += w
            if rn > 0:
                num = rs * scale
                ms.append((num - (((num % rn) + rn) % rn)) // rn)
        ms.sort()
        r = len(ms)
        lo = ms[max(1, math.ceil(alpha * r)) - 1]
        hi = ms[min(r, math.ceil((1 - alpha) * r)) - 1]
        n = len(items)
        total = sum(x for _, x in items)
        tm = total * scale
        mean_scaled = (tm - (((tm % n) + n) % n)) // n
        out[g] = (n, total, mean_scaled, lo, hi, r)
    return out


def test_bootstrap_vs_brute(spark):
    rnd = random.Random(52)
    rows = [
        (f"g{i % 3}", i, rnd.randrange(-50, 5000)) for i in range(600)
    ]
    df = spark.createDataFrame(rows, "grp string, id long, x long")
    got = {
        r["grp"]: (r["n"], r["total"], r["mean_scaled"], r["ci_lo"],
                   r["ci_hi"], r["n_reps"])
        for r in stats.bootstrap_ci(df, ["grp"], "x", "id", reps=25).collect()
    }
    want = _brute_bootstrap(rows, 25, 0.05, 1_000_000)
    assert got == want
    for n, total, mean_scaled, lo, hi, nr in got.values():
        assert nr == 25 and lo <= mean_scaled + 200_000_000  # sane ordering
        assert lo < hi


def test_bootstrap_ci_brackets_mean(spark):
    # a well-behaved sample's 90% CI should bracket the true mean
    rnd = random.Random(152)
    rows = [("a", i, 1000 + rnd.randrange(-100, 101)) for i in range(2000)]
    df = spark.createDataFrame(rows, "grp string, id long, x long")
    r = stats.bootstrap_ci(df, ["grp"], "x", "id", reps=30).collect()[0]
    assert r["ci_lo"] <= r["mean_scaled"] <= r["ci_hi"]


def test_bootstrap_partition_invariance(spark):
    rows = [("g", i, i * 7 % 113) for i in range(300)]
    a = spark.createDataFrame(rows, "grp string, id long, x long")
    one = stats.bootstrap_ci(a.repartition(1), ["grp"], "x", "id", reps=12).collect()
    many = stats.bootstrap_ci(a.repartition(17), ["grp"], "x", "id", reps=12).collect()
    assert sorted(map(tuple, one)) == sorted(map(tuple, many))


# --- Spearman ---------------------------------------------------------------------


def _brute_spearman(rows):
    """rows: [(grp, x, y)] → {grp: (n, s_cov, s_varx, s_vary, rho)}"""
    out = {}
    grps = {}
    for g, x, y in rows:
        grps.setdefault(g, []).append((x, y))
    for g, items in grps.items():
        def dranks(vals):
            # doubled midrank per value: 2r = 2*below + cnt + 1
            from collections import Counter
            c = Counter(vals)
            below = {}
            acc = 0
            for v in sorted(c):
                below[v] = acc
                acc += c[v]
            return {v: 2 * below[v] + c[v] + 1 for v in c}
        xs = [x for x, _ in items]
        ys = [y for _, y in items]
        rx, ry = dranks(xs), dranks(ys)
        n = len(items)
        sxy = sum(rx[x] * ry[y] for x, y in items)
        sx = sum(rx[x] for x, _ in items)
        sy = sum(ry[y] for _, y in items)
        sxx = sum(rx[x] ** 2 for x, _ in items)
        syy = sum(ry[y] ** 2 for _, y in items)
        cov = n * sxy - sx * sy
        vx = n * sxx - sx * sx
        vy = n * syy - sy * sy
        rho = cov / math.sqrt(vx * vy) if vx > 0 and vy > 0 else None
        out[g] = (n, cov, vx, vy, rho)
    return out


def test_spearman_vs_brute(spark):
    rnd = random.Random(252)
    rows = []
    for g in range(4):
        for _ in range(300):
            x = rnd.randrange(20)  # heavy ties
            y = x * 3 + rnd.randrange(-10, 11)
            rows.append((f"g{g}", x, y))
    df = spark.createDataFrame(rows, "grp string, x long, y long")
    got = {
        r["grp"]: (r["n"], r["s_cov"], r["s_varx"], r["s_vary"], r["rho"])
        for r in stats.spearman_rho(df, "x", "y", ["grp"]).collect()
    }
    want = _brute_spearman(rows)
    assert set(got) == set(want)
    for g in got:
        assert got[g][:4] == want[g][:4]
        assert abs(got[g][4] - want[g][4]) < 1e-12
        assert got[g][4] > 0.5  # constructed positive association


def test_spearman_monotone_and_constant(spark):
    rows = [("up", i, i * i) for i in range(50)]
    rows += [("down", i, -3 * i) for i in range(50)]
    rows += [("flat", i, 7) for i in range(50)]
    df = spark.createDataFrame(rows, "grp string, x long, y long")
    got = {r["grp"]: r["rho"] for r in stats.spearman_rho(df, "x", "y", ["grp"]).collect()}
    assert got["up"] == 1.0 and got["down"] == -1.0 and got["flat"] is None
