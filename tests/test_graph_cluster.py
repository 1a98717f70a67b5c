"""Link-graph operators (integer-scaled PageRank, degree stats) and
grid-density hotspot clustering — brute-force reference comparisons."""

from __future__ import annotations

from pbf2json_spark import graph, spatial


# --- pagerank_int ---------------------------------------------------------------------


def _brute_pagerank(edges, n_iter, damping_pct=85, scale=graph.SCALE):
    nodes = sorted({s for s, _ in edges} | {d for _, d in edges})
    out = {}
    for s, _ in edges:
        out[s] = out.get(s, 0) + 1
    r = {v: scale for v in nodes}
    base = (100 - damping_pct) * scale // 100
    for _ in range(n_iter):
        incoming = {v: 0 for v in nodes}
        for s, d in edges:
            incoming[d] += r[s] // out[s]
        r = {v: base + damping_pct * incoming[v] // 100 for v in nodes}
    return r


def _edges_df(spark, edges):
    return spark.createDataFrame(edges, "src long, dst long")


def test_pagerank_matches_brute_force(spark):
    # ring + chords + a hub and a dangling node
    edges = [(i, (i + 1) % 20) for i in range(20)]
    edges += [(i, (i * 7 + 3) % 20) for i in range(0, 20, 2)]
    edges += [(i, 0) for i in range(5, 15)]          # hub
    edges += [(3, 99)]                                # 99 is dangling
    got = {
        r.node: r.rank_e9
        for r in graph.pagerank_int(_edges_df(spark, edges), n_iter=5).collect()
    }
    want = _brute_pagerank(edges, 5)
    assert got == want
    assert got[0] == max(got.values())  # the hub wins
    # dangling node keeps only what flows in (no out-links, mass leaks)
    assert 99 in got


def test_pagerank_iteration_count_matters(spark):
    edges = [(1, 2), (2, 3), (3, 1), (1, 3)]
    df = _edges_df(spark, edges)
    r1 = {r.node: r.rank_e9 for r in graph.pagerank_int(df, 1).collect()}
    r3 = {r.node: r.rank_e9 for r in graph.pagerank_int(df, 3).collect()}
    assert r1 == _brute_pagerank(edges, 1)
    assert r3 == _brute_pagerank(edges, 3)
    assert r1 != r3


def test_operators_leave_no_cache_entry(spark):
    # frames an operator reads more than once are pinned with a lazy
    # localCheckpoint, which the ContextCleaner frees; a persist() would
    # leave a CacheManager entry behind every call
    from pbf2json_spark import dedup

    edges = _edges_df(spark, [(1, 2), (2, 3), (3, 1), (1, 3), (4, 1), (4, 2)])
    seeds = spark.createDataFrame([(1,)], "node long")
    docs = spark.createDataFrame(
        [(1, "a b c d e f"), (2, "a b c d e f g h"), (3, "x y z w")],
        "id long, text string",
    )
    points = spark.createDataFrame(
        [(1, 10.0, 20.0), (2, 10.001, 20.0), (3, 10.0, 20.001), (4, 50.0, 50.0)],
        "point_id long, lat double, lon double",
    )
    runs = {
        "pagerank_int": lambda: graph.pagerank_int(edges, 3),
        "trustrank_int": lambda: graph.trustrank_int(edges, seeds, 3),
        "personalized_pagerank_int": lambda: graph.personalized_pagerank_int(
            edges, seeds, 3
        ),
        "hits_int": lambda: graph.hits_int(edges, 2),
        "resource_allocation": lambda: graph.resource_allocation(edges),
        "cocitation": lambda: graph.cocitation(edges),
        "containment_pairs": lambda: dedup.containment_pairs(docs, "id"),
        "dbscan": lambda: spatial.dbscan(points, eps_deg=0.01, min_pts=2),
    }
    cache = spark._jsparkSession.sharedState().cacheManager()
    spark.catalog.clearCache()
    for name, run in runs.items():
        run().collect()
        assert cache.isEmpty(), name


def test_degree_stats(spark):
    edges = [(1, 2), (2, 1), (1, 3), (3, 4), (1, 2)]  # dup edge collapses
    got = {
        r.node: (r.out_deg, r.in_deg, r.recip_deg)
        for r in graph.degree_stats(_edges_df(spark, edges)).collect()
    }
    assert got == {
        1: (2, 1, 1),   # 1->2 reciprocated
        2: (1, 1, 1),
        3: (1, 1, 0),
        4: (0, 1, 0),
    }


# --- hotspot clustering ---------------------------------------------------------------


def _brute_hotspots(pts, res, min_pts):
    import math

    n = 1 << res
    counts = {}
    for lat, lon in pts:
        x = min(max(int(math.floor((lon + 180.0) / 360.0 * n)), 0), n - 1)
        y = min(max(int(math.floor((lat + 90.0) / 180.0 * n)), 0), n - 1)
        counts[(x, y)] = counts.get((x, y), 0) + 1
    dense = {c for c, k in counts.items() if k >= min_pts}
    # BFS components, 8-neighborhood with lon wrap / lat clamp
    comp = {}
    for c in dense:
        if c in comp:
            continue
        stack, members = [c], []
        seen = {c}
        while stack:
            cur = stack.pop()
            members.append(cur)
            cx, cy = cur
            for dx in (-1, 0, 1):
                for dy in (-1, 0, 1):
                    if (dx, dy) == (0, 0):
                        continue
                    nbr = ((cx + dx) % n, cy + dy)
                    if 0 <= nbr[1] < n and nbr in dense and nbr not in seen:
                        seen.add(nbr)
                        stack.append(nbr)
        rep = min(cy * n + cx for cx, cy in members)
        for cx, cy in members:
            comp[(cx, cy)] = rep
    return {c: (counts[c], comp[c]) for c in dense}


def test_hotspot_clusters_matches_brute_force(spark):
    pts = []
    # two blobs + scattered noise
    for i in range(200):
        pts.append((10.0 + (i % 5) * 0.3, 20.0 + (i % 7) * 0.3))
    for i in range(150):
        pts.append((-30.0 + (i % 4) * 0.3, 100.0 + (i % 6) * 0.3))
    for i in range(60):
        pts.append((((i * 37) % 160) - 80.0, ((i * 91) % 340) - 170.0))
    df = spark.createDataFrame(pts, "lat double, lon double")
    got = {
        (r.cx, r.cy): (r.n_points, r.cluster_id)
        for r in spatial.hotspot_clusters(df, res=7, min_pts=5).collect()
    }
    assert got == _brute_hotspots(pts, 7, 5)
    assert len({cid for _, cid in got.values()}) >= 2


def test_hotspot_clusters_lon_wrap(spark):
    # dense cells on both sides of the antimeridian must merge (pmod wrap)
    n = 1 << 6
    west = [(0.5, -179.9)] * 6   # x = 0
    east = [(0.5, 179.9)] * 6    # x = n-1
    df = spark.createDataFrame(west + east, "lat double, lon double")
    got = spatial.hotspot_clusters(df, res=6, min_pts=5).collect()
    assert len(got) == 2
    assert got[0].cluster_id == got[1].cluster_id


def test_hotspot_isolated_cell_is_own_cluster(spark):
    df = spark.createDataFrame([(0.1, 0.1)] * 7, "lat double, lon double")
    got = spatial.hotspot_clusters(df, res=6, min_pts=5).collect()
    assert len(got) == 1
    r = got[0]
    assert r.cluster_id == r.cy * (1 << 6) + r.cx and r.n_points == 7


# --- focal smoothing --------------------------------------------------------------------


def test_focal_sum_matches_brute_force(spark):
    res, k = 4, 1
    n = 1 << res
    tiles = [(2, 3, 10), (3, 3, 5), (5, 8, 7), (0, 0, 2), (n - 1, 0, 4)]
    df = spark.createDataFrame(tiles, "cx long, cy long, n long")
    got = {(r.cx, r.cy): r.n_focal
           for r in spatial.focal_sum(df, res=res, k=k).collect()}
    want = {}
    for cx, cy, v in tiles:
        for dx in range(-k, k + 1):
            for dy in range(-k, k + 1):
                tx, ty = (cx + dx) % n, cy + dy
                if 0 <= ty < n:
                    want[(tx, ty)] = want.get((tx, ty), 0) + v
    assert got == want
    # wrap: mass from x=n-1 lands on x=0 and vice versa
    assert got[(0, 0)] == 2 + 4 and got[(n - 1, 1)] >= 6


def test_focal_sum_k2_window(spark):
    df = spark.createDataFrame([(8, 8, 1)], "cx long, cy long, n long")
    got = spatial.focal_sum(df, res=5, k=2).collect()
    assert len(got) == 25 and all(r.n_focal == 1 for r in got)


def test_hotspot_cc_paths_equivalent(spark, monkeypatch):
    """Round 4: the scale-adaptive component step — driver union-find for
    grid-bounded dense-cell graphs vs pointer-doubling above the
    threshold — must emit IDENTICAL component-minimum representatives."""
    pts = []
    for i in range(300):
        pts.append((10.0 + (i % 9) * 0.4, 20.0 + (i % 11) * 0.4))
    for i in range(200):
        pts.append((-40.0 + (i % 6) * 0.4, -120.0 + (i % 8) * 0.4))
    for i in range(80):
        pts.append((((i * 53) % 160) - 80.0, ((i * 71) % 340) - 170.0))
    df = spark.createDataFrame(pts, "lat double, lon double")
    drv = {
        (r.cx, r.cy): (r.n_points, r.cluster_id)
        for r in spatial.hotspot_clusters(df, res=7, min_pts=4).collect()
    }
    monkeypatch.setattr(spatial, "HOTSPOT_DRIVER_CC_MAX", 0)
    dist = {
        (r.cx, r.cy): (r.n_points, r.cluster_id)
        for r in spatial.hotspot_clusters(df, res=7, min_pts=4).collect()
    }
    assert drv == dist and len(drv) > 5
