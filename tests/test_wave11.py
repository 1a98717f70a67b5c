"""Wave-11 operators: k-core decomposition, cohort retention,
type-diversity (Gini), burst detection, regional term lift."""

from __future__ import annotations

import random

from pbf2json_spark import corpus, graph, temporal


# --- kcore -------------------------------------------------------------------


def _brute_kcore(edges, k):
    adj = {}
    for a, b in edges:
        if a == b:
            continue
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    while True:
        peel = [v for v, ns in adj.items() if len(ns) < k]
        if not peel:
            break
        for v in peel:
            for n in adj[v]:
                adj[n].discard(v)
            del adj[v]
    return {v: len(ns) for v, ns in adj.items()}


def test_kcore_triangle_with_tail(spark):
    e = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1), (3, 4), (4, 5)], "src long, dst long"
    )
    got = {r["node"]: r["core_deg"] for r in graph.kcore(e, 2).collect()}
    assert got == {1: 2, 2: 2, 3: 2}


def test_kcore_cascading_peel(spark):
    # path 1-2-3-4-5 + triangle 5-6-7: k=2 peels the path end-inward
    # (4 rounds) but the triangle must survive intact
    rows = [(1, 2), (2, 3), (3, 4), (4, 5), (5, 6), (6, 7), (7, 5)]
    e = spark.createDataFrame(rows, "src long, dst long")
    got = {r["node"]: r["core_deg"] for r in graph.kcore(e, 2).collect()}
    assert got == _brute_kcore(rows, 2) == {5: 2, 6: 2, 7: 2}


def test_kcore_vs_brute_random(spark):
    rng = random.Random(11)
    rows = [(rng.randrange(60), rng.randrange(60)) for _ in range(300)]
    e = spark.createDataFrame(rows, "src long, dst long")
    for k in (2, 3, 4):
        got = {r["node"]: r["core_deg"] for r in graph.kcore(e, k).collect()}
        assert got == _brute_kcore(rows, k), f"k={k}"


def test_kcore_empty_when_overpeeled(spark):
    e = spark.createDataFrame([(1, 2), (2, 3)], "src long, dst long")
    assert graph.kcore(e, 3).count() == 0


def test_kcore_directed_duplicates_collapse(spark):
    # (a,b) and (b,a) plus a parallel repeat are ONE undirected edge
    e = spark.createDataFrame(
        [(1, 2), (2, 1), (1, 2), (2, 3), (3, 1)], "src long, dst long"
    )
    got = {r["node"]: r["core_deg"] for r in graph.kcore(e, 2).collect()}
    assert got == {1: 2, 2: 2, 3: 2}


# --- cohort_retention --------------------------------------------------------


def _brute_cohort(rows, bucket_us):
    active = {(u, ts // bucket_us) for u, ts in rows}
    cohort = {}
    for u, b in active:
        cohort[u] = min(cohort.get(u, b), b)
    sizes = {}
    for u, c in cohort.items():
        sizes[c] = sizes.get(c, 0) + 1
    cells = {}
    for u, b in active:
        key = (cohort[u], b - cohort[u])
        cells[key] = cells.get(key, 0) + 1
    return {
        (c, o): (n, sizes[c], n * 1_000_000 // sizes[c])
        for (c, o), n in cells.items()
    }


def test_cohort_retention_hand(spark):
    rows = [(1, 0), (1, 100), (1, 250), (2, 100), (2, 150), (3, 210)]
    df = spark.createDataFrame(rows, "user_id long, ts_us long")
    got = {
        (r["cohort"], r["bucket_offset"]): (r["n_active"], r["cohort_size"],
                                     r["retention_e6"])
        for r in temporal.cohort_retention(df, 100).collect()
    }
    assert got == _brute_cohort(rows, 100)
    # offset-0 retention is always exactly 1e6
    assert all(v[2] == 1_000_000 for (c, o), v in got.items() if o == 0)


def test_cohort_retention_vs_brute_random(spark):
    rng = random.Random(23)
    rows = [(rng.randrange(40), rng.randrange(5000)) for _ in range(800)]
    df = spark.createDataFrame(rows, "user_id long, ts_us long")
    got = {
        (r["cohort"], r["bucket_offset"]): (r["n_active"], r["cohort_size"],
                                     r["retention_e6"])
        for r in temporal.cohort_retention(df, 300).collect()
    }
    assert got == _brute_cohort(rows, 300)


def test_cohort_retention_partition_invariance(spark):
    rng = random.Random(5)
    rows = [(rng.randrange(10), rng.randrange(1000)) for _ in range(200)]
    df = spark.createDataFrame(rows, "user_id long, ts_us long")
    a = sorted(map(tuple, temporal.cohort_retention(df, 100).collect()))
    b = sorted(map(tuple,
                   temporal.cohort_retention(df.repartition(13), 100).collect()))
    assert a == b


# --- type_diversity ----------------------------------------------------------


def test_type_diversity_hand(spark):
    df = spark.createDataFrame(
        [(1, "a"), (1, "a"), (1, "b"), (2, "a"), (3, "a"), (3, "b"), (3, "c")],
        "user_id long, event_type string",
    )
    got = {r["user_id"]: (r["n_events"], r["n_types"], r["gini_e6"])
           for r in temporal.type_diversity(df).collect()}
    # user1: 1 - (4+1)/9 = 4/9; user2: 0; user3: 1 - 3/9 = 2/3
    assert got == {1: (3, 2, 444_444), 2: (1, 1, 0), 3: (3, 3, 666_666)}


def test_type_diversity_vs_brute_random(spark):
    rng = random.Random(7)
    rows = [(rng.randrange(15), rng.choice("abcde")) for _ in range(500)]
    df = spark.createDataFrame(rows, "user_id long, event_type string")
    got = {r["user_id"]: (r["n_events"], r["n_types"], r["gini_e6"])
           for r in temporal.type_diversity(df).collect()}
    per = {}
    for u, t in rows:
        per.setdefault(u, {}).setdefault(t, 0)
        per[u][t] += 1
    want = {}
    for u, cnts in per.items():
        n = sum(cnts.values())
        ss = sum(c * c for c in cnts.values())
        want[u] = (n, len(cnts), (n * n - ss) * 1_000_000 // (n * n))
    assert got == want


# --- burst_detect ------------------------------------------------------------


def _brute_burst(rows, bucket_us, w, min_count):
    per = {}
    for t, ts in rows:
        per[(t, ts // bucket_us)] = per.get((t, ts // bucket_us), 0) + 1
    out = {}
    for (t, b), n in per.items():
        if n < min_count:
            continue
        trail = sum(per.get((t, b - h), 0) for h in range(1, w + 1))
        out[(t, b)] = (n, trail, n * w * 1_000_000 // max(trail, 1))
    return out


def test_burst_detect_hand(spark):
    rows = [("x", 0), ("x", 100), ("x", 150), ("x", 210), ("x", 215),
            ("x", 290), ("y", 400)]
    df = spark.createDataFrame(rows, "event_type string, ts_us long")
    got = {(r["event_type"], r["bucket"]): (r["n"], r["trail_sum"],
                                            r["burst_e6"])
           for r in temporal.burst_detect(df, 100, window_buckets=2,
                                          min_count=1).collect()}
    assert got == _brute_burst(rows, 100, 2, 1)
    # cold-start spike scores n*W*1e6
    assert got[("y", 4)] == (1, 0, 2_000_000)


def test_burst_detect_gaps_cost_zero(spark):
    # empty buckets between events must count as 0 in the trail, not be
    # skipped: bucket 10 sees trail=(buckets 8,9)=0 even though bucket 0
    # had traffic
    rows = [("x", 0)] * 5 + [("x", 1000), ("x", 1001)]
    df = spark.createDataFrame(rows, "event_type string, ts_us long")
    got = {r["bucket"]: (r["n"], r["trail_sum"])
           for r in temporal.burst_detect(df, 100, window_buckets=2,
                                          min_count=1).collect()}
    assert got == {0: (5, 0), 10: (2, 0)}


def test_burst_detect_vs_brute_random(spark):
    rng = random.Random(31)
    rows = [(rng.choice("pq"), rng.randrange(3000)) for _ in range(600)]
    df = spark.createDataFrame(rows, "event_type string, ts_us long")
    got = {(r["event_type"], r["bucket"]): (r["n"], r["trail_sum"],
                                            r["burst_e6"])
           for r in temporal.burst_detect(df, 100, window_buckets=4,
                                          min_count=2).collect()}
    assert got == _brute_burst(rows, 100, 4, 2)


# --- term_geo_lift -----------------------------------------------------------


def _brute_lift(rows, res, min_cell):
    n = 1 << res
    import math
    ct = {}
    for text, lat, lon in rows:
        x = min(max(int(math.floor((lon + 180.0) / 360.0 * n)), 0), n - 1)
        y = min(max(int(math.floor((lat + 90.0) / 180.0 * n)), 0), n - 1)
        cell = x * n + y
        for w in text.split():
            ct[(cell, w)] = ct.get((cell, w), 0) + 1
    tt = {}
    cl = {}
    for (c, w), v in ct.items():
        tt[w] = tt.get(w, 0) + v
        cl[c] = cl.get(c, 0) + v
    total = sum(ct.values())
    return {
        (c, w): (v, tt[w], cl[c], v * total * 1_000_000 // (tt[w] * cl[c]))
        for (c, w), v in ct.items() if v >= min_cell
    }


def test_term_geo_lift_hand(spark):
    rows = [("alpha beta", 10.0, 10.0), ("alpha alpha", 10.0, 10.0),
            ("beta gamma", -10.0, -10.0)]
    df = spark.createDataFrame(rows, "text string, lat double, lon double")
    got = {(r["cell"], r["term"]): (r["n"], r["term_total"], r["cell_total"],
                                    r["lift_e6"])
           for r in corpus.term_geo_lift(df, 3, min_cell_count=1).collect()}
    assert got == _brute_lift(rows, 3, 1)
    # 'gamma' appears ONLY in its cell -> max lift for that cell size
    cell_g = next(c for (c, w) in got if w == "gamma")
    assert got[(cell_g, "gamma")][3] == 3_000_000


def test_term_geo_lift_vs_brute_random(spark):
    rng = random.Random(13)
    vocab = ["aa", "bb", "cc", "dd", "ee", "ff"]
    rows = [
        (" ".join(rng.choice(vocab) for _ in range(rng.randrange(1, 8))),
         rng.uniform(-80, 80), rng.uniform(-170, 170))
        for _ in range(300)
    ]
    df = spark.createDataFrame(rows, "text string, lat double, lon double")
    got = {(r["cell"], r["term"]): (r["n"], r["term_total"], r["cell_total"],
                                    r["lift_e6"])
           for r in corpus.term_geo_lift(df, 2, min_cell_count=2).collect()}
    assert got == _brute_lift(rows, 2, 2)


def test_term_geo_lift_min_count_bounds_output(spark):
    rows = [("solo", 0.0, 0.0), ("rep rep", 50.0, 50.0)]
    df = spark.createDataFrame(rows, "text string, lat double, lon double")
    got = corpus.term_geo_lift(df, 3, min_cell_count=2).collect()
    assert [(r["term"], r["n"]) for r in got] == [("rep", 2)]
