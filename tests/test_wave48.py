"""Wave-48: raster distance transform (vs closed-form Chebyshev, wavefront
== closed form, cap sentinel) and exact AUC (vs sklearn-free rank-sum
reference, tie midranks, degenerate groups)."""

from __future__ import annotations

import random

import numpy as np

from pbf2json_spark import cells, raster, stats


# --- distance transform ----------------------------------------------------------


def _ref_dt(seed_xy, query_xy, max_d, n):
    out = {}
    for qx, qy in query_xy:
        best = max_d + 1
        for sx, sy in seed_xy:
            dx = abs(qx - sx)
            dx = min(dx, n - dx)  # lon wrap
            d = max(dx, abs(qy - sy))
            if d < best:
                best = d
        out[(qx, qy)] = min(best, max_d + 1)
    return out


def test_distance_transform_vs_closed_form(spark):
    rnd = random.Random(48)
    res = 5
    n = 1 << res
    seed_xy = {(rnd.randrange(n), rnd.randrange(n)) for _ in range(12)}
    query_xy = {(rnd.randrange(n), rnd.randrange(n)) for _ in range(200)}
    to_cells = lambda xys: [
        (int(cells.from_xy(np.array([x]), np.array([y]), res)[0]),)
        for x, y in xys
    ]
    sdf = spark.createDataFrame(to_cells(seed_xy), "cell long")
    qdf = spark.createDataFrame(to_cells(query_xy), "cell long")
    got = {
        r["cell"]: r["dist"]
        for r in raster.distance_transform(sdf, qdf, max_d=6, res=res).collect()
    }
    exp = _ref_dt(seed_xy, query_xy, 6, n)
    for (x, y), d in exp.items():
        c = int(cells.from_xy(np.array([x]), np.array([y]), res)[0])
        assert got[c] == d, (x, y, got[c], d)


def test_distance_transform_wrap_and_zero(spark):
    res = 4
    n = 1 << res
    s = [(int(cells.from_xy(np.array([0]), np.array([5]), res)[0]),)]
    q = [
        (int(cells.from_xy(np.array([n - 1]), np.array([5]), res)[0]),),
        (int(cells.from_xy(np.array([0]), np.array([5]), res)[0]),),
    ]
    sdf = spark.createDataFrame(s, "cell long")
    qdf = spark.createDataFrame(q, "cell long")
    got = {
        r["cell"]: r["dist"]
        for r in raster.distance_transform(sdf, qdf, max_d=3, res=res).collect()
    }
    assert got[q[0][0]] == 1  # wraps across the antimeridian
    assert got[q[1][0]] == 0  # a seed is its own nearest


# --- exact AUC -------------------------------------------------------------------


def _ref_auc(pairs):
    # midrank Mann-Whitney
    xs = sorted(pairs)
    ranks = {}
    i = 0
    while i < len(xs):
        j = i
        while j < len(xs) and xs[j][0] == xs[i][0]:
            j += 1
        mid = (i + 1 + j) / 2.0
        for t in range(i, j):
            ranks[t] = mid
        i = j
    spos = sum(ranks[t] for t, (s, y) in enumerate(xs) if y)
    npos = sum(1 for _, y in pairs if y)
    nneg = len(pairs) - npos
    return (spos - npos * (npos + 1) / 2.0) / (npos * nneg)


def test_auc_vs_reference(spark):
    rnd = random.Random(42)
    rows = []
    per_g = {}
    for g in (0, 1):
        ps = []
        for _ in range(400):
            s = rnd.randrange(20) / 20.0  # quantized scores with heavy ties
            y = 1 if rnd.random() < 0.3 + 0.5 * s else 0
            rows.append((g, s, y))
            ps.append((s, y))
        per_g[g] = ps
    df = spark.createDataFrame(rows, "g int, score double, y int")
    got = {
        r["g"]: (r["n_pos"], r["n_neg"], r["auc"])
        for r in stats.auc_exact(df, "score", "y", ["g"]).collect()
    }
    for g, ps in per_g.items():
        npos = sum(y for _, y in ps)
        assert got[g][0] == npos and got[g][1] == len(ps) - npos
        assert abs(got[g][2] - _ref_auc(ps)) < 1e-12, g


def test_auc_degenerate_and_perfect(spark):
    rows = [(0, 0.9, 1), (0, 0.8, 1), (0, 0.1, 0), (1, 0.5, 1), (1, 0.6, 1)]
    df = spark.createDataFrame(rows, "g int, score double, y int")
    got = {r["g"]: r["auc"] for r in stats.auc_exact(df, "score", "y", ["g"]).collect()}
    assert got[0] == 1.0  # perfectly separated
    assert got[1] is None  # no negatives -> NULL
