"""Wave-13 operators: TrustRank, host-graph coarsening, CUSUM
change-point detection, spatial thinning."""

from __future__ import annotations

import hashlib
import math
import random

from pbf2json_spark import graph, sampling, temporal

SCALE = 1_000_000_000


# --- trustrank_int -----------------------------------------------------------


def _brute_trustrank(edges, seeds, n_iter, d=85):
    e = [(s, t) for s, t in edges]
    nodes = sorted({n for p in e for n in p})
    out = {}
    for s, _ in e:
        out[s] = out.get(s, 0) + 1
    base = (100 - d) * SCALE // 100
    t = {v: (SCALE if v in seeds else 0) for v in nodes}
    for _ in range(n_iter):
        inc = {v: 0 for v in nodes}
        for s, dst in e:
            inc[dst] += t[s] // out[s]
        t = {v: (base if v in seeds else 0) + d * inc[v] // 100
             for v in nodes}
    return t


def test_trustrank_chain_and_island(spark):
    e = spark.createDataFrame([(1, 2), (2, 3), (9, 10)], "src long, dst long")
    sd = spark.createDataFrame([(1,)], "node long")
    got = {r["node"]: r["trust_e9"]
           for r in graph.trustrank_int(e, sd, 2).collect()}
    assert got == _brute_trustrank([(1, 2), (2, 3), (9, 10)], {1}, 2)
    # the spam island never reachable from seeds scores exactly 0
    assert got[9] == got[10] == 0 and got[3] > 0


def test_trustrank_vs_brute_random(spark):
    rng = random.Random(43)
    edges = list({(rng.randrange(25), rng.randrange(25)) for _ in range(80)})
    seeds = {0, 5, 7}
    e = spark.createDataFrame(edges, "src long, dst long")
    sd = spark.createDataFrame([(s,) for s in seeds], "node long")
    got = {r["node"]: r["trust_e9"]
           for r in graph.trustrank_int(e, sd, 4).collect()}
    assert got == _brute_trustrank(edges, seeds, 4)


def test_trustrank_matches_pagerank_when_all_seeded(spark):
    # with EVERY node seeded, TrustRank == PageRank by construction
    edges = [(1, 2), (2, 3), (3, 1), (1, 3)]
    e = spark.createDataFrame(edges, "src long, dst long")
    allnodes = spark.createDataFrame([(i,) for i in (1, 2, 3)], "node long")
    tr = {r["node"]: r["trust_e9"]
          for r in graph.trustrank_int(e, allnodes, 3).collect()}
    pr = {r["node"]: r["rank_e9"]
          for r in graph.pagerank_int(e, 3).collect()}
    assert tr == pr


# --- host_graph --------------------------------------------------------------


def test_host_graph_hand(spark):
    e = spark.createDataFrame(
        [(1, 2), (1, 3), (2, 3), (3, 1), (1, 2)], "src long, dst long")
    m = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "a")], "node long, host string")
    got = {(r["from_host"], r["to_host"]): (r["n_links"], r["n_src_pages"])
           for r in graph.host_graph(e, m).collect()}
    # 1->3 and 3->1 are intra-host 'a' and drop; parallel 1->2 counts twice
    assert got == {("a", "b"): (2, 1), ("b", "a"): (1, 1)}


def test_host_graph_src_pages_distinct(spark):
    # two pages on host a linking the same target host count as 2 srcs
    e = spark.createDataFrame(
        [(1, 10), (3, 10), (1, 10)], "src long, dst long")
    m = spark.createDataFrame(
        [(1, "a"), (3, "a"), (10, "b")], "node long, host string")
    r = graph.host_graph(e, m).collect()[0]
    assert (r["n_links"], r["n_src_pages"]) == (3, 2)


# --- cusum_changepoint -------------------------------------------------------


def _brute_cusum(rows, bucket_us, min_buckets):
    per = {}
    for t, ts in rows:
        per.setdefault(t, {}).setdefault(ts // bucket_us, 0)
        per[t][ts // bucket_us] += 1
    out = {}
    for t, cnts in per.items():
        b0, b1 = min(cnts), max(cnts)
        dense = [(b, cnts.get(b, 0)) for b in range(b0, b1 + 1)]
        n = len(dense)
        if n < min_buckets:
            continue
        total = sum(c for _, c in dense)
        sk = 0
        best = None
        for k, (b, c) in enumerate(dense[:-1], start=1):
            sk += c
            d = abs(n * sk - k * total)
            cand = (d, -b)
            if best is None or cand > best:
                best = cand
        d_max, nb = best
        out[t] = (n, total, -nb, d_max,
                  d_max * 1_000_000 // max(n * total, 1))
    return out


def test_cusum_level_shift(spark):
    rows = [("x", i * 100) for i in range(10)] + \
           [("x", 1000 + i * 20) for i in range(50)]
    df = spark.createDataFrame(rows, "event_type string, ts_us long")
    r = temporal.cusum_changepoint(df, 100, min_buckets=4).collect()[0]
    assert tuple(r) == ("x", 20, 60, 9, 400, 333_333)


def test_cusum_steady_stream_scores_low(spark):
    rows = [("s", i * 100 + j) for i in range(20) for j in range(3)]
    df = spark.createDataFrame(rows, "event_type string, ts_us long")
    r = temporal.cusum_changepoint(df, 100, min_buckets=4).collect()[0]
    assert r["cusum_e6"] == 0  # perfectly flat counts


def test_cusum_internal_gap_counts_as_zero(spark):
    # activity, then silence, then activity: the gap IS the change
    rows = [("g", i) for i in range(5)] + [("g", 900), ("g", 901)]
    df = spark.createDataFrame(rows, "event_type string, ts_us long")
    got = {r["event_type"]: (r["n_buckets"], r["total"], r["split_bucket"],
                             r["d_max"], r["cusum_e6"])
           for r in temporal.cusum_changepoint(df, 100,
                                               min_buckets=4).collect()}
    assert got == _brute_cusum(rows, 100, 4)
    assert got["g"][0] == 10  # buckets 0..9 materialized despite silence


def test_cusum_vs_brute_random(spark):
    rng = random.Random(47)
    rows = [(rng.choice("abc"), rng.randrange(4000)) for _ in range(700)]
    df = spark.createDataFrame(rows, "event_type string, ts_us long")
    got = {r["event_type"]: (r["n_buckets"], r["total"], r["split_bucket"],
                             r["d_max"], r["cusum_e6"])
           for r in temporal.cusum_changepoint(df, 150,
                                               min_buckets=4).collect()}
    assert got == _brute_cusum(rows, 150, 4)


# --- spatial_thin ------------------------------------------------------------


def _u32(key, seed):
    return int(hashlib.md5(f"{key}:{seed}".encode()).hexdigest()[:8], 16)


def _cell(lat, lon, res):
    n = 1 << res
    x = min(max(int(math.floor((lon + 180.0) / 360.0 * n)), 0), n - 1)
    y = min(max(int(math.floor((lat + 90.0) / 180.0 * n)), 0), n - 1)
    return x * n + y


def test_spatial_thin_quota_and_order(spark):
    rows = [(i, 10.0, 10.0) for i in range(20)] + [(100, 60.0, 60.0)]
    d = spark.createDataFrame(rows, "doc_id long, lat double, lon double")
    got = [(r["cell"], r["thin_rank"], r["doc_id"])
           for r in sampling.spatial_thin(d, 3, 5).collect()]
    dense = sorted((c, rk, i) for c, rk, i in got if c == _cell(10, 10, 3))
    assert len(dense) == 5
    # survivors are the 5 smallest (u32, id) in the cell, ranked in order
    want = sorted(range(20), key=lambda i: (_u32(i, 0), i))[:5]
    assert [i for _, _, i in dense] == want
    # sparse cell keeps its single row at rank 1
    assert (_cell(60, 60, 3), 1, 100) in got


def test_spatial_thin_deterministic_across_partitionings(spark):
    rng = random.Random(53)
    rows = [(i, rng.uniform(-80, 80), rng.uniform(-170, 170))
            for i in range(300)]
    d = spark.createDataFrame(rows, "doc_id long, lat double, lon double")
    a = sorted(map(tuple, sampling.spatial_thin(d, 2, 3).collect()))
    b = sorted(map(tuple,
                   sampling.spatial_thin(d.repartition(17), 2, 3).collect()))
    assert a == b
    # quota honored in every cell
    from collections import Counter
    per = Counter(c for (_, _, _, c, _) in a)
    assert all(v <= 3 for v in per.values())
