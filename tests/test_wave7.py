"""Wave-7 operators: BPE pair counts (tokenizer-training inner loop),
grid dissolve (union area), co-location contact pairs, parallel-page
alignment by URL structure."""

from __future__ import annotations

import itertools
import math
import random

from pbf2json_spark import corpus, spatial, trajectory, weburl


# --- bpe_pair_counts --------------------------------------------------------


def _brute_bpe(texts, k):
    counts = {}
    for t in texts:
        for w in t.strip().split():
            if len(w) < 2:
                continue
            for i in range(len(w) - 1):
                p = (w[i], w[i + 1])
                counts[p] = counts.get(p, 0) + 1
    ranked = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))
    return [(a, b, c) for (a, b), c in ranked[:k]]


def test_bpe_pairs_hand_case(spark):
    df = spark.createDataFrame(
        [(1, "abab ab"), (2, "x yz")], "doc_id long, text string"
    )
    got = [tuple(r) for r in corpus.bpe_pair_counts(df, k=10).collect()]
    # pairs: abab -> ab,ba,ab ; ab -> ab ; yz -> yz ; "x" too short
    assert got == [("a", "b", 3), ("b", "a", 1), ("y", "z", 1)]


def test_bpe_pairs_vs_brute(spark):
    rnd = random.Random(5)
    texts = [
        " ".join(
            "".join(rnd.choice("abcde") for _ in range(rnd.randrange(1, 7)))
            for _ in range(rnd.randrange(0, 9))
        )
        for _ in range(60)
    ]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    got = [tuple(r) for r in corpus.bpe_pair_counts(df, k=12).collect()]
    assert got == _brute_bpe(texts, 12)


def test_bpe_pairs_partition_invariance(spark):
    rnd = random.Random(9)
    rows = [
        (i, " ".join("ab" * rnd.randrange(1, 4) for _ in range(5)))
        for i in range(40)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    a = [tuple(r) for r in corpus.bpe_pair_counts(df, k=8).collect()]
    b = [tuple(r) for r in corpus.bpe_pair_counts(df.repartition(7), k=8).collect()]
    assert a == b and len(a) > 0


# --- dissolve_area ----------------------------------------------------------


def _cell_xy(lat, lon, res):
    n = 1 << res
    x = min(max(int(math.floor((lon + 180.0) / 360.0 * n)), 0), n - 1)
    y = min(max(int(math.floor((lat + 90.0) / 180.0 * n)), 0), n - 1)
    return x, y


def _brute_dissolve(rows, res):
    per = {}
    for g, lat0, lat1, lon0, lon1 in rows:
        x0, y0 = _cell_xy(lat0, lon0, res)
        x1, y1 = _cell_xy(lat1, lon1, res)
        cells = {(x, y) for x in range(x0, x1 + 1) for y in range(y0, y1 + 1)}
        n, bc, u = per.get(g, (0, 0, set()))
        per[g] = (n + 1, bc + (x1 - x0 + 1) * (y1 - y0 + 1), u | cells)
    out = {}
    for g, (n, bc, u) in per.items():
        out[g] = (n, bc, len(u), ((bc - len(u)) * 1_000_000) // bc)
    return out


def test_dissolve_identical_boxes_full_overlap(spark):
    # two identical boxes: union == one cover, overlap = 50%
    rows = [(1, 10.0, 12.0, 20.0, 24.0), (1, 10.0, 12.0, 20.0, 24.0)]
    df = spark.createDataFrame(
        rows, "g long, lat0 double, lat1 double, lon0 double, lon1 double"
    )
    r = spatial.dissolve_area(df, res=6, group_col="g").collect()[0]
    assert r["n_boxes"] == 2
    assert r["box_cells"] == 2 * r["union_cells"]
    assert r["overlap_e6"] == 500_000


def test_dissolve_disjoint_boxes_no_overlap(spark):
    rows = [(7, -50.0, -49.0, 0.0, 1.0), (7, 50.0, 51.0, 100.0, 101.0)]
    df = spark.createDataFrame(
        rows, "g long, lat0 double, lat1 double, lon0 double, lon1 double"
    )
    r = spatial.dissolve_area(df, res=6, group_col="g").collect()[0]
    assert r["box_cells"] == r["union_cells"] and r["overlap_e6"] == 0


def test_dissolve_vs_brute(spark):
    rnd = random.Random(3)
    rows = []
    for i in range(80):
        lat0 = rnd.uniform(-80, 70)
        lon0 = rnd.uniform(-170, 160)
        rows.append(
            (i % 6, lat0, lat0 + rnd.uniform(0.1, 9.0),
             lon0, lon0 + rnd.uniform(0.1, 9.0))
        )
    df = spark.createDataFrame(
        rows, "g long, lat0 double, lat1 double, lon0 double, lon1 double"
    )
    got = {
        r["g"]: (r["n_boxes"], r["box_cells"], r["union_cells"], r["overlap_e6"])
        for r in spatial.dissolve_area(df, res=6, group_col="g").collect()
    }
    assert got == _brute_dissolve(rows, 6)


def test_dissolve_partition_invariance(spark):
    rows = [
        (i % 4, float(i % 30) - 15.0, float(i % 30) - 12.0,
         float(i % 50) - 25.0, float(i % 50) - 21.0)
        for i in range(60)
    ]
    df = spark.createDataFrame(
        rows, "g long, lat0 double, lat1 double, lon0 double, lon1 double"
    )
    a = sorted(map(tuple, spatial.dissolve_area(df, res=7, group_col="g").collect()))
    b = sorted(map(tuple, spatial.dissolve_area(
        df.repartition(11), res=7, group_col="g").collect()))
    assert a == b and len(a) > 0


# --- co_location ------------------------------------------------------------


def _brute_coloc(rows, res, bucket_us, max_group):
    pts = set()
    for u, ts, lat, lon in rows:
        x, y = _cell_xy(lat, lon, res)
        pts.add((u, x, y, ts // bucket_us))
    groups = {}
    for u, x, y, b in pts:
        groups.setdefault((x, y, b), set()).add(u)
    pairs = {}
    for users in groups.values():
        if len(users) > max_group:
            continue
        for a, b in itertools.combinations(sorted(users), 2):
            pairs[(a, b)] = pairs.get((a, b), 0) + 1
    return pairs


def test_co_location_hand_case(spark):
    day = 86_400_000_000
    rows = [
        # users 1,2 share cell+day twice (burst pings collapse)
        (1, 10 * day + 5, 0.0, 0.0), (1, 10 * day + 9, 0.0, 0.0),
        (2, 10 * day + 7, 0.1, 0.1),
        (1, 11 * day, 0.0, 0.0), (2, 11 * day, 0.0, 0.0),
        # user 3 same cell, different day
        (3, 12 * day, 0.0, 0.0),
    ]
    df = spark.createDataFrame(rows, "user_id long, ts_us long, lat double, lon double")
    got = {(r["user_a"], r["user_b"]): r["n_meet"]
           for r in trajectory.co_location(df, res=2, bucket_us=day).collect()}
    assert got == {(1, 2): 2}


def test_co_location_crowd_guard(spark):
    day = 86_400_000_000
    # 5 users in one cell+day; with max_group=4 nothing is emitted
    rows = [(u, day, 0.0, 0.0) for u in range(5)]
    df = spark.createDataFrame(rows, "user_id long, ts_us long, lat double, lon double")
    assert trajectory.co_location(df, res=2, bucket_us=day, max_group=4).count() == 0
    assert trajectory.co_location(df, res=2, bucket_us=day, max_group=5).count() == 10


def test_co_location_vs_brute(spark):
    rnd = random.Random(17)
    day = 86_400_000_000
    rows = [
        (rnd.randrange(12), rnd.randrange(5) * day + rnd.randrange(day),
         rnd.uniform(-60, 60), rnd.uniform(-60, 60))
        for _ in range(300)
    ]
    df = spark.createDataFrame(rows, "user_id long, ts_us long, lat double, lon double")
    got = {(r["user_a"], r["user_b"]): r["n_meet"]
           for r in trajectory.co_location(
               df, res=2, bucket_us=day, max_group=6).collect()}
    assert got == _brute_coloc(rows, 2, day, 6)


def test_co_location_partition_invariance(spark):
    rnd = random.Random(23)
    day = 86_400_000_000
    rows = [
        (rnd.randrange(10), rnd.randrange(3) * day,
         rnd.uniform(-20, 20), rnd.uniform(-20, 20))
        for _ in range(200)
    ]
    df = spark.createDataFrame(rows, "user_id long, ts_us long, lat double, lon double")
    a = sorted(map(tuple, trajectory.co_location(df, res=3, bucket_us=day).collect()))
    b = sorted(map(tuple, trajectory.co_location(
        df.repartition(9), res=3, bucket_us=day).collect()))
    assert a == b and len(a) > 0


# --- align_translations -----------------------------------------------------


def test_align_hand_case(spark):
    rows = [
        (1, "https://a.example/en/pricing"),
        (2, "https://a.example/fr/pricing"),
        (3, "https://a.example/pt-br/pricing"),
        (4, "https://a.example/en/about"),      # no partner
        (5, "https://b.example/en/pricing"),    # other host
        (6, "https://a.example/nolang/pricing"),  # not a lang segment
        (7, "https://a.example/en"),            # empty rest
        (8, "https://a.example/fr"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, url string")
    got = sorted(
        (r["host"], r["path_rest"], r["lang_a"], r["lang_b"], r["id_a"], r["id_b"])
        for r in weburl.align_translations(df).collect()
    )
    # path_rest keeps its leading slash ('' only when the path IS the
    # language segment) — the DuckDB oracle mirrors the same substring.
    assert got == [
        ("a.example", "", "en", "fr", 7, 8),
        ("a.example", "/pricing", "en", "fr", 1, 2),
        ("a.example", "/pricing", "en", "pt-br", 1, 3),
        ("a.example", "/pricing", "fr", "pt-br", 2, 3),
    ]


def test_align_duplicate_pages_collapse_to_min_id(spark):
    rows = [
        (9, "https://a.example/en/p"),
        (4, "https://a.example/en/p"),   # duplicate (snapshot) -> min id 4
        (7, "https://a.example/de/p"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, url string")
    got = [(r["lang_a"], r["lang_b"], r["id_a"], r["id_b"])
           for r in weburl.align_translations(df).collect()]
    assert got == [("de", "en", 7, 4)]


def test_align_partition_invariance(spark):
    rows = [
        (i, f"https://s{i % 5}.example/"
            f"{['en', 'fr', 'de', 'pt-br'][i % 4]}/page/{i % 11}")
        for i in range(120)
    ]
    df = spark.createDataFrame(rows, "doc_id long, url string")
    a = sorted(map(tuple, weburl.align_translations(df).collect()))
    b = sorted(map(tuple, weburl.align_translations(df.repartition(13)).collect()))
    assert a == b and len(a) > 0
