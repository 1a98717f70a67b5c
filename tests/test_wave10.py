"""Wave-10 operators: global Moran's I, robots-style URL filtering,
resource-allocation link prediction, Markov transition matrix."""

from __future__ import annotations

import math
import random

from pbf2json_spark import graph, spatial, temporal, weburl


# --- global_moran ------------------------------------------------------------


def _cell_xy(lat, lon, res):
    n = 1 << res
    x = min(max(int(math.floor((lon + 180.0) / 360.0 * n)), 0), n - 1)
    y = min(max(int(math.floor((lat + 90.0) / 180.0 * n)), 0), n - 1)
    return x, y


def _trunc_div(a, b):
    q = abs(a) // abs(b)
    return q if (a >= 0) == (b >= 0) else -q


def _brute_global_moran(rows, res):
    counts = {}
    for lat, lon in rows:
        counts[_cell_xy(lat, lon, res)] = counts.get(_cell_xy(lat, lon, res), 0) + 1
    n = len(counts)
    s = sum(counts.values())
    num = den = w = 0
    for (cx, cy), xv in counts.items():
        dev = n * xv - s
        nbrs = [counts[(cx + dx, cy + dy)]
                for dx in (-1, 0, 1) for dy in (-1, 0, 1)
                if (dx, dy) != (0, 0) and (cx + dx, cy + dy) in counts]
        k, nb = len(nbrs), sum(nbrs)
        w += k
        num += dev * (n * nb - k * s)
        den += dev * dev
    moran = _trunc_div(n * num * 1_000_000, max(w * den, 1))
    return (n, s, w, den // (n * n), moran)


def test_global_moran_clustered_positive(spark):
    # a tight 3x3 dense block + scattered singles -> strong positive I
    rows = []
    for i in range(3):
        for j in range(3):
            rows += [(-20.0 + i * 5.7, -40.0 + j * 11.3)] * 30
    rows += [(60.0, 120.0), (-60.0, 150.0), (70.0, -150.0), (-70.0, -100.0)]
    df = spark.createDataFrame(rows, "lat double, lon double")
    r = spatial.global_moran(df, res=5).collect()[0]
    brute = _brute_global_moran(rows, 5)
    assert tuple(r) == brute
    assert r["moran_e6"] > 200_000  # clearly clustered


def test_global_moran_checkerboard_negative(spark):
    # alternating dense/sparse on adjacent cells -> negative I
    rows = []
    for cx in range(8):
        for cy in range(8):
            lon = -180.0 + (cx + 0.5) * 360.0 / 8
            lat = -90.0 + (cy + 0.5) * 180.0 / 8
            reps = 20 if (cx + cy) % 2 == 0 else 1
            rows += [(lat, lon)] * reps
    df = spark.createDataFrame(rows, "lat double, lon double")
    r = spatial.global_moran(df, res=3).collect()[0]
    assert tuple(r) == _brute_global_moran(rows, 3)
    # queen weights include the 4 SAME-color diagonals, so a checkerboard
    # is only mildly negative (rook-only would be strongly negative)
    assert r["moran_e6"] < 0


def test_global_moran_vs_brute_random(spark):
    rnd = random.Random(53)
    rows = [(rnd.uniform(-80, 80), rnd.uniform(-170, 170)) for _ in range(1200)]
    df = spark.createDataFrame(rows, "lat double, lon double")
    r = spatial.global_moran(df, res=4).collect()[0]
    assert tuple(r) == _brute_global_moran(rows, 4)


# --- robots_filter -----------------------------------------------------------


def _brute_robots(pages, rules):
    out = {}
    for pid, url in pages:
        host = url.split("://", 1)[1].split("/", 1)[0]
        path = "/" + url.split("://", 1)[1].split("/", 1)[1] if "/" in url.split("://", 1)[1] else ""
        cands = [(len(p), int(a), p) for h, p, a in rules
                 if h == host and path.startswith(p)]
        if not cands:
            out[pid] = (url, None, True)
        else:
            ln, a, p = max(cands)
            out[pid] = (url, p, bool(a))
    return out


def test_robots_longest_match_wins(spark):
    pages = [(1, "https://a.com/private/data/x"), (2, "https://a.com/public/x")]
    rules = [("a.com", "/", True), ("a.com", "/private", False),
             ("a.com", "/private/data", True)]
    pp = spark.createDataFrame(pages, "doc_id long, url string")
    rr = spark.createDataFrame(rules, "host string, prefix string, allow boolean")
    got = {r["doc_id"]: (r["matched_prefix"], r["allowed"])
           for r in weburl.robots_filter(pp, rr).collect()}
    assert got == {1: ("/private/data", True), 2: ("/", True)}


def test_robots_allow_beats_disallow_on_tie(spark):
    pages = [(1, "https://a.com/x/1")]
    rules = [("a.com", "/x", False), ("a.com", "/x", True)]
    pp = spark.createDataFrame(pages, "doc_id long, url string")
    rr = spark.createDataFrame(rules, "host string, prefix string, allow boolean")
    r = weburl.robots_filter(pp, rr).collect()[0]
    assert r["allowed"] is True


def test_robots_no_rule_allows(spark):
    pages = [(1, "https://other.com/anything")]
    rules = [("a.com", "/", False)]
    pp = spark.createDataFrame(pages, "doc_id long, url string")
    rr = spark.createDataFrame(rules, "host string, prefix string, allow boolean")
    r = weburl.robots_filter(pp, rr).collect()[0]
    assert r["allowed"] is True and r["matched_prefix"] is None


def test_robots_vs_brute(spark):
    rnd = random.Random(59)
    hosts = [f"h{i}.com" for i in range(5)]
    paths = ["/a", "/a/b", "/c", "/c/d/e", "/f"]
    pages = [(i, f"https://{rnd.choice(hosts)}{rnd.choice(paths)}/{i}")
             for i in range(120)]
    rules = [(rnd.choice(hosts), rnd.choice(paths), rnd.random() < 0.5)
             for _ in range(20)]
    rules = list({(h, p): a for h, p, a in rules}.items())
    rules = [(h, p, a) for (h, p), a in rules]  # unique (host, prefix)
    pp = spark.createDataFrame(pages, "doc_id long, url string")
    rr = spark.createDataFrame(rules, "host string, prefix string, allow boolean")
    got = {r["doc_id"]: (r["url"], r["matched_prefix"], r["allowed"])
           for r in weburl.robots_filter(pp, rr).collect()}
    assert got == _brute_robots(pages, rules)


# --- resource_allocation -----------------------------------------------------


def _brute_ra(edges, max_deg):
    und = {tuple(sorted(e)) for e in edges if e[0] != e[1]}
    adj = {}
    for a, b in und:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    out = {}
    for b, nbrs in adj.items():
        if len(nbrs) > max_deg:
            continue
        ns = sorted(nbrs)
        for i in range(len(ns)):
            for j in range(i + 1, len(ns)):
                key = (ns[i], ns[j])
                n, ra = out.get(key, (0, 0))
                out[key] = (n + 1, ra + 1_000_000 // len(nbrs))
    return {k: v for k, v in out.items() if k not in und}


def test_ra_path_graph(spark):
    # path 1-2-3: pair (1,3) via bridge 2 (deg 2) -> ra 500000; (1,2),(2,3) are edges
    df = spark.createDataFrame([(1, 2), (2, 3)], "src long, dst long")
    got = {(r["node_a"], r["node_b"]): (r["n_common"], r["ra_e6"])
           for r in graph.resource_allocation(df).collect()}
    assert got == {(1, 3): (1, 500_000)}


def test_ra_hub_guard(spark):
    # star with 5 spokes: center degree 5 > max_deg 4 -> no predictions
    edges = [(0, i) for i in range(1, 6)]
    df = spark.createDataFrame(edges, "src long, dst long")
    assert graph.resource_allocation(df, max_deg=4).count() == 0
    got = {(r["node_a"], r["node_b"]): (r["n_common"], r["ra_e6"])
           for r in graph.resource_allocation(df, max_deg=5).collect()}
    assert got == _brute_ra(edges, 5)  # C(5,2)=10 pairs, ra 200000 each
    assert all(v == (1, 200_000) for v in got.values()) and len(got) == 10


def test_ra_vs_brute_random(spark):
    rnd = random.Random(61)
    edges = list({(rnd.randrange(20), rnd.randrange(20)) for _ in range(70)})
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {(r["node_a"], r["node_b"]): (r["n_common"], r["ra_e6"])
           for r in graph.resource_allocation(df, max_deg=8).collect()}
    assert got == _brute_ra(edges, 8)


def test_ra_directed_duplicates_collapse(spark):
    # both directions + repeats of the same edge = ONE undirected edge
    df = spark.createDataFrame(
        [(1, 2), (2, 1), (1, 2), (2, 3), (3, 2)], "src long, dst long"
    )
    got = {(r["node_a"], r["node_b"]): (r["n_common"], r["ra_e6"])
           for r in graph.resource_allocation(df).collect()}
    assert got == {(1, 3): (1, 500_000)}


# --- markov_transitions ------------------------------------------------------


def _brute_markov(rows):
    by_key = {}
    for u, ts, eid, et in rows:
        by_key.setdefault(u, []).append((ts, eid, et))
    counts = {}
    for seq in by_key.values():
        seq.sort()
        for (_, _, a), (_, _, b) in zip(seq, seq[1:]):
            counts[(a, b)] = counts.get((a, b), 0) + 1
    tot = {}
    for (a, _), n in counts.items():
        tot[a] = tot.get(a, 0) + n
    return {(a, b): (n, n * 1_000_000 // tot[a]) for (a, b), n in counts.items()}


def test_markov_hand_case(spark):
    rows = [
        (1, 10, 1, "view"), (1, 20, 2, "click"), (1, 30, 3, "view"),
        (2, 5, 4, "view"), (2, 6, 5, "click"),
    ]
    df = spark.createDataFrame(rows, "user_id long, ts_us long, event_id long, event_type string")
    got = {(r["from_type"], r["to_type"]): (r["n"], r["p_e6"])
           for r in temporal.markov_transitions(
               df, tiebreak_col="event_id").collect()}
    # view -> click twice, click -> view once
    assert got == {("view", "click"): (2, 1_000_000),
                   ("click", "view"): (1, 1_000_000)}


def test_markov_vs_brute(spark):
    rnd = random.Random(67)
    rows = [(rnd.randrange(15), i, i, rnd.choice(["a", "b", "c"]))
            for i in range(600)]
    df = spark.createDataFrame(rows, "user_id long, ts_us long, event_id long, event_type string")
    got = {(r["from_type"], r["to_type"]): (r["n"], r["p_e6"])
           for r in temporal.markov_transitions(
               df, tiebreak_col="event_id").collect()}
    assert got == _brute_markov(rows)
    # row-normalization: probabilities per from_type sum to ~1e6 (floor slack < n_to)
    for a in "abc":
        s = sum(p for (x, _), (_, p) in got.items() if x == a)
        assert 1_000_000 - 3 <= s <= 1_000_000


def test_markov_partition_invariance(spark):
    rows = [(i % 7, i, i, ["x", "y"][i % 2]) for i in range(300)]
    df = spark.createDataFrame(rows, "user_id long, ts_us long, event_id long, event_type string")
    a = sorted(map(tuple, temporal.markov_transitions(df, tiebreak_col="event_id").collect()))
    b = sorted(map(tuple, temporal.markov_transitions(
        df.repartition(9), tiebreak_col="event_id").collect()))
    assert a == b and len(a) > 0
