"""Wave-9 operators: integer HITS, decayed activity counts, per-cell
dwell time, positional segment alignment."""

from __future__ import annotations

import math
import random

from pbf2json_spark import corpus, graph, temporal, trajectory
from pbf2json_spark.graph import SCALE


# --- hits_int ----------------------------------------------------------------


def _brute_hits(edges, n_iter):
    nodes = sorted({x for e in edges for x in e})

    def norm(d):
        tot = sum(d.values())
        n = len(nodes)
        if tot == 0:
            return {v: 0 for v in nodes}
        return {v: (d[v] * n * SCALE) // tot for v in nodes}

    hub = {v: SCALE for v in nodes}
    auth = {v: 0 for v in nodes}
    for _ in range(n_iter):
        auth = norm({v: sum(hub[s] for s, d in edges if d == v) for v in nodes})
        hub = norm({v: sum(auth[d] for s, d in edges if s == v) for v in nodes})
    return {v: (auth[v], hub[v]) for v in nodes}


def test_hits_star_graph(spark):
    # all spokes point at the hub node 0: node 0 is the sole authority,
    # spokes are the hubs
    edges = [(i, 0) for i in range(1, 6)]
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r["node"]: (r["auth_e9"], r["hub_e9"])
           for r in graph.hits_int(df, n_iter=2).collect()}
    assert got == _brute_hits(edges, 2)
    assert got[0][0] > 0 and got[0][1] == 0           # pure authority
    assert all(got[i][0] == 0 and got[i][1] > 0 for i in range(1, 6))


def test_hits_vs_brute_random(spark):
    rnd = random.Random(31)
    edges = list({(rnd.randrange(25), rnd.randrange(25)) for _ in range(90)})
    edges = [(s, d) for s, d in edges if s != d]
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r["node"]: (r["auth_e9"], r["hub_e9"])
           for r in graph.hits_int(df, n_iter=3).collect()}
    assert got == _brute_hits(edges, 3)


def test_hits_parallel_edges_are_weight(spark):
    # duplicated edge doubles its contribution, exactly as pagerank_int
    e1 = [(1, 2), (3, 2)]
    e2 = [(1, 2), (1, 2), (3, 2)]
    d1 = spark.createDataFrame(e1, "src long, dst long")
    d2 = spark.createDataFrame(e2, "src long, dst long")
    g1 = {r["node"]: r["hub_e9"] for r in graph.hits_int(d1, 1).collect()}
    g2 = {r["node"]: r["hub_e9"] for r in graph.hits_int(d2, 1).collect()}
    assert g2[1] > g1[1]
    assert g2 == {k: v for k, v in _brute_hits(e2, 1).items()
                  for k, v in [(k, v[1])]} or True  # brute covers values
    assert {r["node"]: (r["auth_e9"], r["hub_e9"])
            for r in graph.hits_int(d2, 1).collect()} == _brute_hits(e2, 1)


def test_hits_partition_invariance(spark):
    edges = [((i * 7) % 30, (i * 11 + 3) % 30) for i in range(80)]
    edges = [(s, d) for s, d in edges if s != d]
    df = spark.createDataFrame(edges, "src long, dst long")
    a = sorted(map(tuple, graph.hits_int(df, 2).collect()))
    b = sorted(map(tuple, graph.hits_int(df.repartition(13), 2).collect()))
    assert a == b and len(a) > 0


# --- decayed_counts ----------------------------------------------------------


def _brute_decay(rows, bucket_us, h):
    per = {}
    for k, ts in rows:
        b = ts // bucket_us
        per[(k, b)] = per.get((k, b), 0) + 1
    out = {}
    for (k, b), n in per.items():
        for off in range(h):
            key = (k, b + off)
            out[key] = out.get(key, 0) + (n << (h - 1 - off))
    return out


def test_decay_single_event_trail(spark):
    df = spark.createDataFrame([(1, 50)], "key long, ts_us long")
    got = {(r["key"], r["bucket"]): r["dec"]
           for r in temporal.decayed_counts(
               df, bucket_us=10, half_life_buckets=4).collect()}
    # event in bucket 5 -> weights 8,4,2,1 over buckets 5..8
    assert got == {(1, 5): 8, (1, 6): 4, (1, 7): 2, (1, 8): 1}


def test_decay_vs_brute(spark):
    rnd = random.Random(41)
    rows = [(rnd.randrange(6), rnd.randrange(500)) for _ in range(400)]
    df = spark.createDataFrame(rows, "key long, ts_us long")
    got = {(r["key"], r["bucket"]): r["dec"]
           for r in temporal.decayed_counts(
               df, bucket_us=25, half_life_buckets=6).collect()}
    assert got == _brute_decay(rows, 25, 6)


def test_decay_burst_beats_steady(spark):
    # 8 events right now decay-dominate 1 event/bucket over 8 old buckets
    rows = [(1, 90 + i % 5) for i in range(8)]          # burst in bucket 9
    rows += [(2, b * 10 + 3) for b in range(2, 10)]     # steady, 1/bucket
    df = spark.createDataFrame(rows, "key long, ts_us long")
    got = {(r["key"], r["bucket"]): r["dec"]
           for r in temporal.decayed_counts(
               df, bucket_us=10, half_life_buckets=8).collect()}
    assert got[(1, 9)] > got[(2, 9)]
    assert got == _brute_decay(rows, 10, 8)


def test_decay_partition_invariance(spark):
    rows = [(i % 4, (i * 37) % 300) for i in range(200)]
    df = spark.createDataFrame(rows, "key long, ts_us long")
    a = sorted(map(tuple, temporal.decayed_counts(df, 20, 5).collect()))
    b = sorted(map(tuple, temporal.decayed_counts(
        df.repartition(7), 20, 5).collect()))
    assert a == b and len(a) > 0


# --- cell_dwell --------------------------------------------------------------


def _cell_xy(lat, lon, res):
    n = 1 << res
    x = min(max(int(math.floor((lon + 180.0) / 360.0 * n)), 0), n - 1)
    y = min(max(int(math.floor((lat + 90.0) / 180.0 * n)), 0), n - 1)
    return x, y


def _brute_dwell(rows, res):
    by_user = {}
    for u, ts, lat, lon in rows:
        by_user.setdefault(u, []).append((ts, *_cell_xy(lat, lon, res)))
    out = {}
    for u, pts in by_user.items():
        pts.sort()
        for (t0, x, y), (t1, _, _) in zip(pts, pts[1:]):
            d, ns, us = out.get((x, y), (0, 0, set()))
            us = us | {u}
            out[(x, y)] = (d + (t1 - t0), ns + 1, us)
    return {k: (d, ns, len(us)) for k, (d, ns, us) in out.items()}


def test_dwell_hand_case(spark):
    rows = [
        (1, 0, 0.0, 0.0), (1, 100, 0.0, 0.0),   # 100 us in cell A
        (1, 130, 50.0, 90.0),                    # 30 us in A, then B opens
        (1, 200, 50.0, 90.0),                    # 70 us in B; last ping free
    ]
    df = spark.createDataFrame(rows, "user_id long, ts_us long, lat double, lon double")
    got = {(r["cx"], r["cy"]): (r["dwell_us"], r["n_segments"], r["n_users"])
           for r in trajectory.cell_dwell(df, res=3).collect()}
    a, b = _cell_xy(0.0, 0.0, 3), _cell_xy(50.0, 90.0, 3)
    assert got == {a: (130, 2, 1), b: (70, 1, 1)}


def test_dwell_vs_brute(spark):
    rnd = random.Random(43)
    rows = [
        (rnd.randrange(10), i * 17 + rnd.randrange(5),
         rnd.uniform(-60, 60), rnd.uniform(-120, 120))
        for i in range(400)
    ]
    # unique (user, ts) precondition
    seen, uniq = set(), []
    for u, ts, la, lo in rows:
        if (u, ts) not in seen:
            seen.add((u, ts))
            uniq.append((u, ts, la, lo))
    df = spark.createDataFrame(uniq, "user_id long, ts_us long, lat double, lon double")
    got = {(r["cx"], r["cy"]): (r["dwell_us"], r["n_segments"], r["n_users"])
           for r in trajectory.cell_dwell(df, res=3).collect()}
    assert got == _brute_dwell(uniq, 3)


# --- align_segments ----------------------------------------------------------


def _brute_align(pairs, docs, w):
    segd = {}
    for i, text in docs:
        ws = text.split()
        if not ws:
            continue
        segd[i] = [ws[j: j + w] for j in range(0, len(ws), w)]
    out = []
    for ia, ib in pairs:
        for idx in range(min(len(segd.get(ia, [])), len(segd.get(ib, [])))):
            ta, tb = segd[ia][idx], segd[ib][idx]
            out.append((ia, ib, idx, len(ta), len(tb),
                        len(set(ta) & set(tb))))
    return sorted(out)


def test_align_segments_hand_case(spark):
    docs = [
        (1, "a b c d e f g"),          # 2 segs at w=4: [abcd], [efg]
        (2, "a x c y e f zz"),         # 2 segs: [axcy], [efzz]
        (3, "only one"),
    ]
    pairs = [(1, 2), (1, 3)]
    dd = spark.createDataFrame(docs, "doc_id long, text string")
    pp = spark.createDataFrame(pairs, "id_a long, id_b long")
    got = sorted(map(tuple, corpus.align_segments(pp, dd, words_per_seg=4).collect()))
    assert got == [
        (1, 2, 0, 4, 4, 2),   # shares a, c
        (1, 2, 1, 3, 3, 2),   # shares e, f
        (1, 3, 0, 4, 2, 0),
    ]


def test_align_segments_vs_brute(spark):
    rnd = random.Random(47)
    vocab = [f"w{i}" for i in range(30)]
    docs = [(i, " ".join(rnd.choice(vocab)
                         for _ in range(rnd.randrange(0, 40))))
            for i in range(25)]
    pairs = [(rnd.randrange(25), rnd.randrange(25)) for _ in range(15)]
    pairs = [(a, b) for a, b in pairs if a != b]
    dd = spark.createDataFrame(docs, "doc_id long, text string")
    pp = spark.createDataFrame(pairs, "id_a long, id_b long")
    got = sorted(map(tuple, corpus.align_segments(pp, dd, words_per_seg=6).collect()))
    assert got == _brute_align(pairs, docs, 6)


def test_align_segments_duplicate_tokens_distinct(spark):
    docs = [(1, "a a a b"), (2, "a b b b")]
    dd = spark.createDataFrame(docs, "doc_id long, text string")
    pp = spark.createDataFrame([(1, 2)], "id_a long, id_b long")
    got = [tuple(r) for r in corpus.align_segments(pp, dd, words_per_seg=4).collect()]
    assert got == [(1, 2, 0, 4, 4, 2)]  # shared DISTINCT tokens: a, b
