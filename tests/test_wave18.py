"""Wave-18 operators: Geary's C, modularity."""

from __future__ import annotations

import math
import random
from collections import Counter

from pbf2json_spark import graph, spatial


# --- geary_c -----------------------------------------------------------------


def _cell_xy(lat, lon, res):
    n = 1 << res
    x = min(max(int(math.floor((lon + 180.0) / 360.0 * n)), 0), n - 1)
    y = min(max(int(math.floor((lat + 90.0) / 180.0 * n)), 0), n - 1)
    return x, y


def _brute_geary(pts, res):
    counts = Counter(_cell_xy(lat, lon, res) for lat, lon in pts)
    cells_ = list(counts)
    n, s = len(cells_), sum(counts.values())
    num = w = 0
    for (cx, cy), v in counts.items():
        for dx in (-1, 0, 1):
            for dy in (-1, 0, 1):
                if dx == dy == 0:
                    continue
                nb = counts.get((cx + dx, cy + dy))
                if nb is not None:
                    w += 1
                    num += (v - nb) ** 2
    den = sum((n * v - s) ** 2 for v in counts.values())
    geary = (n - 1) * n * n * num * 1_000_000
    geary = int(geary / (2 * w * den)) if den else 0  # truncation, +ve args
    return n, s, w, geary


def test_geary_uniform_grid_is_zero_diff(spark):
    # every occupied cell identical count -> numerator 0... but variance
    # is also 0 (guard path); use a 2-level checkerboard instead
    rows = []
    for cx in range(4):
        for cy in range(4):
            reps = 1 + (cx + cy) % 2
            rows += [(cy * 11.25 - 90 + 0.1, cx * 22.5 - 180 + 0.1)] * reps
    df = spark.createDataFrame(rows, "lat double, lon double")
    r = spatial.geary_c(df, 4).collect()[0]
    n, s, w, g = _brute_geary(rows, 4)
    assert (r["n_cells"], r["s_total"], r["w_pairs"], r["geary_e6"]) == \
        (n, s, w, g)
    # checkerboard = locally maximally different -> dispersed, C > 1
    assert r["geary_e6"] > 1_000_000


def test_geary_vs_brute_random(spark):
    rng = random.Random(109)
    rows = [(rng.uniform(-60, 60), rng.uniform(-60, 60)) for _ in range(400)]
    df = spark.createDataFrame(rows, "lat double, lon double")
    r = spatial.geary_c(df, 4).collect()[0]
    n, s, w, g = _brute_geary(rows, 4)
    assert (r["n_cells"], r["s_total"], r["w_pairs"], r["geary_e6"]) == \
        (n, s, w, g)


# --- modularity --------------------------------------------------------------


def _brute_modularity(edges, labels):
    simple = {tuple(sorted(e)) for e in edges if e[0] != e[1]}
    m = len(simple)
    deg = Counter()
    m_in = Counter()
    d_tot = Counter()
    for a, b in simple:
        deg[a] += 1
        deg[b] += 1
        if labels[a] == labels[b]:
            m_in[labels[a]] += 1
    for v, d in deg.items():
        d_tot[labels[v]] += d
    out = {}
    for lab in set(labels[v] for v in deg):
        num = 4 * m * m_in[lab] - d_tot[lab] ** 2
        q = num * 1_000_000_000
        q = -((-q) // (4 * m * m)) if q < 0 else q // (4 * m * m)  # trunc
        n_nodes = sum(1 for v in deg if labels[v] == lab)
        out[lab] = (n_nodes, m_in[lab], d_tot[lab], q)
    return m, out


def test_modularity_two_cliques(spark):
    cl1 = [(a, b) for a in range(4) for b in range(a + 1, 4)]
    cl2 = [(a, b) for a in range(10, 14) for b in range(a + 1, 14)]
    edges = cl1 + cl2 + [(3, 10)]
    labels = {v: 0 for v in range(4)} | {v: 10 for v in range(10, 14)}
    e = spark.createDataFrame(edges, "src long, dst long")
    l = spark.createDataFrame(list(labels.items()), "id long, label long")
    got = {r["label"]: (r["n_nodes"], r["m_in"], r["d_tot"], r["q_e9"])
           for r in graph.modularity(e, l).collect()}
    _, want = _brute_modularity(edges, labels)
    assert got == want
    # near-ideal split: total Q well above 0.3
    assert sum(v[3] for v in got.values()) > 300_000_000


def test_modularity_vs_brute_random_lpa_labels(spark):
    rng = random.Random(113)
    edges = list({(rng.randrange(25), rng.randrange(25)) for _ in range(60)})
    e = spark.createDataFrame(edges, "src long, dst long")
    lab_df = graph.label_propagation(e, rounds=2)
    labels = {r["id"]: r["label"] for r in lab_df.collect()}
    got = {r["label"]: (r["n_nodes"], r["m_in"], r["d_tot"], r["q_e9"])
           for r in graph.modularity(e, lab_df).collect()}
    _, want = _brute_modularity(edges, labels)
    assert got == want
