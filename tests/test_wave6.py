"""Wave-6 operators: triangle enumeration/statistics, politeness crawl
scheduling, areal interpolation, bigram-LM fluency scoring."""

from __future__ import annotations

import itertools

import pytest

from pbf2json_spark import corpus, graph, spatial, weburl


# --- triangles / triangle_stats -------------------------------------------


def _brute_triangles(edges):
    """Reference: all node triples with all three undirected edges."""
    und = {tuple(sorted(e)) for e in edges if e[0] != e[1]}
    nodes = sorted({n for e in und for n in e})
    out = []
    for a, b, c in itertools.combinations(nodes, 3):
        if (a, b) in und and (a, c) in und and (b, c) in und:
            out.append((a, b, c))
    return out


def test_triangles_k4_plus_pendant(spark):
    # K4 (4 triangles) + pendant edge + reverse duplicate + self-loop
    edges = [(a, b) for a in range(4) for b in range(4) if a < b]
    edges += [(3, 4), (4, 3), (2, 2)]
    e = spark.createDataFrame(edges, "src long, dst long")
    got = sorted(tuple(r) for r in graph.triangles(e).collect())
    assert got == [(0, 1, 2), (0, 1, 3), (0, 2, 3), (1, 2, 3)]


def test_triangles_random_vs_brute(spark):
    # seeded random graph, dense enough to force many triangles
    import random

    rnd = random.Random(11)
    edges = [(rnd.randrange(18), rnd.randrange(18)) for _ in range(110)]
    e = spark.createDataFrame(edges, "src long, dst long")
    got = sorted(tuple(r) for r in graph.triangles(e).collect())
    ref = _brute_triangles(edges)
    assert len(ref) > 10
    assert got == ref


def test_triangle_stats_counts_and_cc(spark):
    edges = [(a, b) for a in range(4) for b in range(4) if a < b] + [(3, 4)]
    e = spark.createDataFrame(edges, "src long, dst long")
    st = {r["node"]: (r["deg"], r["n_tri"], r["cc_e6"])
          for r in graph.triangle_stats(e).collect()}
    # nodes 0..2: deg 3, all 3 neighbor pairs connected -> cc 1.0
    for n in range(3):
        assert st[n] == (3, 3, 1_000_000)
    # node 3: deg 4, 3 triangles of 6 pairs -> 0.5
    assert st[3] == (4, 3, 500_000)
    # pendant node: deg 1 -> cc 0 by convention, still present
    assert st[4] == (1, 0, 0)


def test_triangles_partition_invariance(spark):
    import random

    rnd = random.Random(7)
    edges = [(rnd.randrange(20), rnd.randrange(20)) for _ in range(120)]
    e = spark.createDataFrame(edges, "src long, dst long")
    a = sorted(tuple(r) for r in graph.triangles(e).collect())
    b = sorted(tuple(r) for r in graph.triangles(e.repartition(13)).collect())
    assert a == b and len(a) > 0


# --- crawl_schedule --------------------------------------------------------


def _frontier(spark, n=60):
    rows = [(f"http://h{i % 3}.example/p{i:03d}", f"h{i % 3}", (i * 7) % 10)
            for i in range(n)]
    return spark.createDataFrame(rows, "url string, host string, priority long")


def test_crawl_schedule_budget_and_spacing(spark):
    out = weburl.crawl_schedule(_frontier(spark), per_host_budget=5,
                                delay_ms=250).collect()
    assert len(out) == 15  # 3 hosts x budget 5
    by_host = {}
    for r in out:
        by_host.setdefault(r["host"], []).append(r)
        assert r["fetch_offset_ms"] == r["slot"] * 250
    for host, rows in by_host.items():
        assert sorted(r["slot"] for r in rows) == list(range(5))
        # slots follow (priority DESC, url ASC)
        ordered = sorted(rows, key=lambda r: (-r["priority"], r["url"]))
        assert [r["slot"] for r in ordered] == list(range(5))


def test_crawl_schedule_partition_invariant(spark):
    f = _frontier(spark, n=300)
    base = sorted(map(tuple, weburl.crawl_schedule(
        f, per_host_budget=7, delay_ms=100).collect()))
    spread = sorted(map(tuple, weburl.crawl_schedule(
        f.repartition(11), per_host_budget=7, delay_ms=100).collect()))
    assert base == spread


def test_crawl_schedule_rejects_negative_delay(spark):
    with pytest.raises(ValueError):
        weburl.crawl_schedule(_frontier(spark), per_host_budget=3,
                              delay_ms=-1)


# --- areal_interpolate ------------------------------------------------------


def test_areal_interpolate_split_box(spark):
    src = spark.createDataFrame(
        [(1, 0.0, 1.0, 0.0, 1.0, 1_000_000)],
        "s_id long, lat0 double, lat1 double, lon0 double, lon1 double, value long")
    dst = spark.createDataFrame(
        [(10, 0.0, 1.0, 0.0, 0.5), (11, 0.0, 1.0, 0.5, 1.0),
         (12, 5.0, 6.0, 5.0, 6.0)],
        "d_id long, lat0 double, lat1 double, lon0 double, lon1 double")
    got = {r["d_id"]: (r["n_src"], r["value_out"])
           for r in spatial.areal_interpolate(src, dst, res=4).collect()}
    # each half target receives exactly half the mass; disjoint target absent
    assert got == {10: (1, 500_000), 11: (1, 500_000)}


def test_areal_interpolate_vs_brute(spark):
    # several sources/targets; compare against a quantized local reference
    quant = 10_000
    srows = [(i, float(i % 3), float(i % 3) + 1.5, float(i % 4),
              float(i % 4) + 2.0, 10_000 + i * 7) for i in range(12)]
    drows = [(j, j * 0.7, j * 0.7 + 1.0, j * 0.5, j * 0.5 + 1.3)
             for j in range(9)]
    src = spark.createDataFrame(
        srows, "s_id long, lat0 double, lat1 double, lon0 double, lon1 double, value long")
    dst = spark.createDataFrame(
        drows, "d_id long, lat0 double, lat1 double, lon0 double, lon1 double")
    got = {r["d_id"]: (r["n_src"], r["inter_u2"], r["value_out"])
           for r in spatial.areal_interpolate(src, dst, res=5).collect()}

    import math
    ref = {}
    for d_id, dlat0, dlat1, dlon0, dlon1 in drows:
        n = tot = val = 0
        for s_id, slat0, slat1, slon0, slon1, v in srows:
            if not (slat0 <= dlat1 and dlat0 <= slat1
                    and slon0 <= dlon1 and dlon0 <= slon1):
                continue
            u = lambda x: math.floor(x * quant)
            iw = max(0, min(u(slon1), u(dlon1)) - max(u(slon0), u(dlon0)))
            ih = max(0, min(u(slat1), u(dlat1)) - max(u(slat0), u(dlat0)))
            sa = (u(slon1) - u(slon0)) * (u(slat1) - u(slat0))
            if sa <= 0:
                continue
            inter = iw * ih
            w_e6 = (inter * 1_000_000) // sa
            n += 1
            tot += inter
            val += (v * w_e6) // 1_000_000
        if n:
            ref[d_id] = (n, tot, val)
    assert got == ref


def test_areal_interpolate_partition_invariance(spark):
    src = spark.createDataFrame(
        [(i, float(i % 5) * 0.3, float(i % 5) * 0.3 + 1.0,
          float(i % 7) * 0.4, float(i % 7) * 0.4 + 1.0, 1000 + i)
         for i in range(40)],
        "s_id long, lat0 double, lat1 double, lon0 double, lon1 double, value long")
    dst = spark.createDataFrame(
        [(j, j * 0.25, j * 0.25 + 0.9, j * 0.3, j * 0.3 + 0.9)
         for j in range(15)],
        "d_id long, lat0 double, lat1 double, lon0 double, lon1 double")
    a = sorted(map(tuple, spatial.areal_interpolate(src, dst, res=5).collect()))
    b = sorted(map(tuple, spatial.areal_interpolate(
        src.repartition(9), dst.repartition(4), res=5).collect()))
    assert a == b and len(a) > 0


# --- bigram_lm_score --------------------------------------------------------


def test_bigram_lm_score_hand_case(spark):
    train = spark.createDataFrame(
        [(1, "a b a b c"), (2, "a b")], "doc_id long, text string")
    score = spark.createDataFrame(
        [(1, "a b c"), (2, "z z"), (3, "x"), (4, "")],
        "doc_id long, text string")
    # C(a,b)=3 C(b,a)=1 C(b,c)=1; C(a.)=3 C(b.)=2
    # doc1: cond(a,b)=1e6, cond(b,c)=500000 -> (1500000 div 2)=750000
    got = {r["doc_id"]: (r["n_bigrams"], r["n_oov"], r["lm_score_e6"])
           for r in corpus.bigram_lm_score(train, score).collect()}
    assert got == {1: (2, 0, 750_000), 2: (1, 1, 0),
                   3: (0, 0, 0), 4: (0, 0, 0)}


def test_bigram_lm_score_orders_fluency(spark):
    # train on repetitive fluent text; a shuffled-word doc must score lower
    train = spark.createDataFrame(
        [(i, "the cat sat on the mat") for i in range(5)],
        "doc_id long, text string")
    score = spark.createDataFrame(
        [(1, "the cat sat on the mat"), (2, "mat the on sat cat the")],
        "doc_id long, text string")
    got = {r["doc_id"]: r["lm_score_e6"]
           for r in corpus.bigram_lm_score(train, score).collect()}
    assert got[1] > got[2]


def test_bigram_lm_score_min_count_prunes_but_keeps_context(spark):
    # (b,a) and (b,c) each appear once; with min_count=2 they are OOV,
    # but C(b.)=2 still counts both when normalizing retained bigrams
    train = spark.createDataFrame(
        [(1, "a b a b c b a")], "doc_id long, text string")
    score = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    # bigrams: (a,b)x2 (b,a)x2 (b,c)x1 ; C(a.)=2, C(b.)=3
    # min_count=2 keeps (a,b),(b,a); (b,c) pruned -> OOV on score
    got = corpus.bigram_lm_score(train, score, min_count=2).collect()[0]
    assert got["n_bigrams"] == 2 and got["n_oov"] == 1
    assert got["lm_score_e6"] == ((2 * 1_000_000) // 2) // 2  # cond(a,b)=1e6, /2 bigrams


def test_bigram_lm_score_partition_invariance(spark):
    rows = [(i, " ".join(f"w{(i * j) % 17}" for j in range(1, 12)))
            for i in range(80)]
    train = spark.createDataFrame(rows, "doc_id long, text string")
    score = spark.createDataFrame(rows[:30], "doc_id long, text string")
    a = sorted(map(tuple, corpus.bigram_lm_score(train, score).collect()))
    b = sorted(map(tuple, corpus.bigram_lm_score(
        train.repartition(7), score.repartition(5)).collect()))
    assert a == b
