"""Wave-12 operators: shingle containment pairs, inter-arrival
periodicity, co-citation similarity, URL template mining,
cell-transition graph."""

from __future__ import annotations

import math
import random

from pbf2json_spark import dedup, graph, temporal, trajectory, weburl


# --- containment_pairs -------------------------------------------------------


def _shingles(text, n):
    w = text.split()
    return {" ".join(w[i:i + n]) for i in range(len(w) - n + 1)}


def _brute_containment(rows, n, thr_e6):
    sh = {i: _shingles(t, n) for i, t in rows if _shingles(t, n)}
    out = {}
    for a, sa in sh.items():
        for b, sb in sh.items():
            if a == b:
                continue
            common = len(sa & sb)
            c = common * 1_000_000 // len(sa)
            if c >= thr_e6:
                out[(a, b)] = (len(sa), len(sb), common, c)
    return out


def test_containment_asymmetric(spark):
    # doc1 fully inside doc2; reverse direction is below threshold
    rows = [(1, "a b c d e f g h"),
            (2, "a b c d e f g h x y z w q r s t"),
            (3, "p q r")]
    d = spark.createDataFrame(rows, "doc_id long, text string")
    got = {(r["a"], r["b"]): (r["size_a"], r["size_b"], r["common"],
                              r["containment_e6"])
           for r in dedup.containment_pairs(d, "doc_id", n=2,
                                            threshold_e6=800_000).collect()}
    assert got == {(1, 2): (7, 15, 7, 1_000_000)}


def test_containment_prefix_equals_full_index(spark):
    rng = random.Random(41)
    vocab = [f"w{i}" for i in range(30)]
    rows = []
    for i in range(40):
        base = [rng.choice(vocab) for _ in range(rng.randrange(5, 25))]
        rows.append((i, " ".join(base)))
        if i % 4 == 0:  # planted superset pairs
            rows.append((100 + i, " ".join(base + [rng.choice(vocab)
                                                   for _ in range(6)])))
    d = spark.createDataFrame(rows, "doc_id long, text string")
    for thr in (700_000, 900_000):
        a = sorted(map(tuple, dedup.containment_pairs(
            d, "doc_id", n=2, threshold_e6=thr).collect()))
        b = sorted(map(tuple, dedup.containment_pairs(
            d, "doc_id", n=2, threshold_e6=thr,
            prefix_filter=False).collect()))
        brute = _brute_containment(rows, 2, thr)
        assert a == b == sorted(
            (x, y, *v) for (x, y), v in brute.items()
        ), f"thr={thr}"


# --- periodicity -------------------------------------------------------------


def _brute_period(rows):
    per = {}
    for u, ts in rows:
        per.setdefault(u, []).append(ts)
    out = {}
    for u, tss in per.items():
        tss.sort()
        gaps = [b - a for a, b in zip(tss, tss[1:])]
        if not gaps:
            continue
        cnt = {}
        for g in gaps:
            cnt[g] = cnt.get(g, 0) + 1
        top_n = max(cnt.values())
        top_gap = min(g for g, c in cnt.items() if c == top_n)
        out[u] = (len(gaps), top_gap, top_n,
                  top_n * 1_000_000 // len(gaps))
    return out


def test_periodicity_hand(spark):
    rows = [(1, 0), (1, 10), (1, 20), (1, 35), (2, 0), (2, 7)]
    df = spark.createDataFrame(rows, "user_id long, ts_us long")
    got = {r["user_id"]: (r["n_gaps"], r["top_gap"], r["top_n"],
                          r["share_e6"])
           for r in temporal.periodicity(df).collect()}
    assert got == {1: (3, 10, 2, 666_666), 2: (1, 7, 1, 1_000_000)}


def test_periodicity_tie_prefers_smallest_gap(spark):
    rows = [(1, 0), (1, 5), (1, 15)]  # gaps 5 and 10, both count 1
    df = spark.createDataFrame(rows, "user_id long, ts_us long")
    r = temporal.periodicity(df).collect()[0]
    assert (r["top_gap"], r["top_n"]) == (5, 1)


def test_periodicity_vs_brute_random(spark):
    rng = random.Random(17)
    rows = list({(rng.randrange(12), rng.randrange(2000))
                 for _ in range(600)})
    df = spark.createDataFrame(rows, "user_id long, ts_us long")
    got = {r["user_id"]: (r["n_gaps"], r["top_gap"], r["top_n"],
                          r["share_e6"])
           for r in temporal.periodicity(df).collect()}
    assert got == _brute_period(rows)


# --- cocitation --------------------------------------------------------------


def _brute_cocite(rows, max_out):
    out_n = {}
    e = {(s, d) for s, d in rows if s != d}
    for s, d in e:
        out_n.setdefault(s, set()).add(d)
    keep = {s for s, ds in out_n.items() if len(ds) <= max_out}
    ind = {}
    for s, d in e:
        if s in keep:
            ind[d] = ind.get(d, 0) + 1
    pairs = {}
    for s in keep:
        ds = sorted(out_n[s])
        for i in range(len(ds)):
            for j in range(i + 1, len(ds)):
                k = (ds[i], ds[j])
                pairs[k] = pairs.get(k, 0) + 1
    return {
        (a, b): (c, ind[a], ind[b],
                 c * 1_000_000 // (ind[a] + ind[b] - c))
        for (a, b), c in pairs.items()
    }


def test_cocitation_hand(spark):
    e = spark.createDataFrame(
        [(10, 1), (10, 2), (11, 1), (11, 2), (12, 2), (12, 3)],
        "src long, dst long")
    got = {(r["node_a"], r["node_b"]): (r["common"], r["in_a"], r["in_b"],
                                        r["cocite_e6"])
           for r in graph.cocitation(e).collect()}
    assert got == {(1, 2): (2, 2, 3, 666_666), (2, 3): (1, 3, 1, 333_333)}


def test_cocitation_hub_guard(spark):
    # a directory page linking 10 targets is excluded at max_out_deg=4:
    # its pairs and its in-degree contributions both vanish
    rows = [(99, i) for i in range(10)] + [(1, 2), (1, 3), (4, 2), (4, 3)]
    e = spark.createDataFrame(rows, "src long, dst long")
    got = {(r["node_a"], r["node_b"]): (r["common"], r["in_a"], r["in_b"],
                                        r["cocite_e6"])
           for r in graph.cocitation(e, max_out_deg=4).collect()}
    assert got == _brute_cocite(rows, 4) == {(2, 3): (2, 2, 2, 1_000_000)}


def test_cocitation_vs_brute_random(spark):
    rng = random.Random(29)
    rows = [(rng.randrange(30), rng.randrange(30)) for _ in range(250)]
    e = spark.createDataFrame(rows, "src long, dst long")
    got = {(r["node_a"], r["node_b"]): (r["common"], r["in_a"], r["in_b"],
                                        r["cocite_e6"])
           for r in graph.cocitation(e, max_out_deg=8).collect()}
    assert got == _brute_cocite(rows, 8)


# --- url_templates -----------------------------------------------------------


def test_url_templates_hand(spark):
    u = spark.createDataFrame(
        [("https://a.x/p/123",), ("https://a.x/p/456?page=2",),
         ("https://b.x/p/9",), ("https://a.x/q",)], "url string")
    got = {r["template"]: (r["n_pages"], r["n_hosts"], r["sample_min_url"])
           for r in weburl.url_templates(u, min_pages=1).collect()}
    assert got == {
        "a.x/p/{N}": (2, 1, "https://a.x/p/123"),
        "b.x/p/{N}": (1, 1, "https://b.x/p/9"),
        "a.x/q": (1, 1, "https://a.x/q"),
    }


def test_url_templates_min_pages_and_cross_host(spark):
    u = spark.createDataFrame(
        [(f"https://h{i % 3}.x/cal/2026/{d}",) for i, d in
         enumerate(range(20))] + [("https://h0.x/about",)], "url string")
    got = {r["template"]: (r["n_pages"], r["n_hosts"], r["sample_min_url"])
           for r in weburl.url_templates(u, min_pages=2).collect()}
    # hosts are NOT templated (h0/h1/h2 stay distinct); the singleton
    # /about page falls under min_pages
    assert got == {
        "h0.x/cal/{N}/{N}": (7, 1, "https://h0.x/cal/2026/0"),
        "h1.x/cal/{N}/{N}": (7, 1, "https://h1.x/cal/2026/1"),
        "h2.x/cal/{N}/{N}": (6, 1, "https://h2.x/cal/2026/11"),
    }


# --- cell_transitions --------------------------------------------------------


def _cell_xy(lat, lon, res):
    n = 1 << res
    x = min(max(int(math.floor((lon + 180.0) / 360.0 * n)), 0), n - 1)
    y = min(max(int(math.floor((lat + 90.0) / 180.0 * n)), 0), n - 1)
    return x, y


def _brute_ctrans(rows, res):
    per = {}
    for u, ts, lat, lon in rows:
        per.setdefault(u, []).append((ts, _cell_xy(lat, lon, res)))
    n = {}
    for u, seq in per.items():
        seq.sort()
        for (_, a), (_, b) in zip(seq, seq[1:]):
            if a != b:
                k = (a[0], a[1], b[0], b[1])
                n[k] = n.get(k, 0) + 1
    tot = {}
    for (fx, fy, tx, ty), v in n.items():
        tot[(fx, fy)] = tot.get((fx, fy), 0) + v
    return {k: (v, v * 1_000_000 // tot[(k[0], k[1])]) for k, v in n.items()}


def test_cell_transitions_hand(spark):
    rows = [(1, 0, 10.0, 10.0), (1, 1, 10.0, 10.0), (1, 2, 60.0, 60.0),
            (2, 0, 10.0, 10.0), (2, 1, 60.0, 60.0)]
    t = spark.createDataFrame(rows, "user_id long, ts long, lat double, lon double")
    got = {(r["from_cx"], r["from_cy"], r["to_cx"], r["to_cy"]):
           (r["n"], r["p_e6"])
           for r in trajectory.cell_transitions(t, 3).collect()}
    assert got == _brute_ctrans(rows, 3) == {(4, 4, 5, 6): (2, 1_000_000)}


def test_cell_transitions_vs_brute_random(spark):
    rng = random.Random(37)
    rows = list({(rng.randrange(8), rng.randrange(500),
                  round(rng.uniform(-80, 80), 3),
                  round(rng.uniform(-170, 170), 3))
                 for _ in range(400)})
    # unique (user, ts) so the order is total without a tiebreak
    seen = set()
    uniq = []
    for u, ts, lat, lon in rows:
        if (u, ts) not in seen:
            seen.add((u, ts))
            uniq.append((u, ts, lat, lon))
    t = spark.createDataFrame(
        uniq, "user_id long, ts long, lat double, lon double")
    got = {(r["from_cx"], r["from_cy"], r["to_cx"], r["to_cy"]):
           (r["n"], r["p_e6"])
           for r in trajectory.cell_transitions(t, 4).collect()}
    assert got == _brute_ctrans(uniq, 4)
