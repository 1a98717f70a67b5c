"""Wave-4 operators: duplicated-span dedup (spans.py), area-weighted
rasterization (raster.py), bounded-hop shortest paths (routing.py), and
distributed k-means (cluster.py) — each against an independent brute-force
reference, plus the determinism/partition-invariance properties the
modules' scale docstrings claim."""

from __future__ import annotations

import numpy as np
import pytest

from pbf2json_spark import cluster, raster, routing, spans


# ------------------------------------------------------------------ spans

def _brute_span_dedup(texts: dict, k: int, min_count: int):
    """Reference: count every k-token window corpus-wide, drop every token
    covered by a duplicated window, report per-doc stats."""
    toks = {i: t.split() for i, t in texts.items()}
    from collections import Counter

    cnt = Counter()
    for ts in toks.values():
        for p in range(len(ts) - k + 1):
            cnt[tuple(ts[p : p + k])] += 1
    out = {}
    for i, ts in toks.items():
        covered = set()
        starts = [
            p
            for p in range(len(ts) - k + 1)
            if cnt[tuple(ts[p : p + k])] >= min_count
        ]
        for p in starts:
            covered.update(range(p, p + k))
        # maximal spans = islands over sorted starts with gap > k
        n_spans = 0
        dup_tokens = 0
        if starts:
            runs = [[starts[0], starts[0]]]
            for p in starts[1:]:
                if p <= runs[-1][1] + k:
                    runs[-1][1] = p
                else:
                    runs.append([p, p])
            n_spans = len(runs)
            dup_tokens = sum(e + k - s for s, e in runs)
        clean = " ".join(t for j, t in enumerate(ts) if j not in covered)
        out[i] = (len(ts), n_spans, dup_tokens, clean)
    return out


def test_span_dedup_matches_brute_force(spark):
    texts = {
        0: "the quick brown fox jumps over the lazy dog today",
        1: "a b c the quick brown fox jumps x y z",
        2: "one two three four five six seven",
        3: "a b c a b c a b c a b c",  # self-repeat
        4: "",
        5: "the quick brown fox jumps over the lazy dog today",  # full dup of 0
    }
    df = spark.createDataFrame(
        [(i, t) for i, t in texts.items()], "id long, text string"
    )
    got = {
        r["id"]: (r["n_tokens"], r["dup_spans"], r["dup_tokens"], r["clean_text"])
        for r in spans.duplicated_span_dedup(df, k=3, min_count=2).collect()
    }
    want = _brute_span_dedup(texts, k=3, min_count=2)
    assert got == want
    # doc 0 and 5 are full duplicates → fully removed
    assert got[0][3] == "" and got[5][3] == ""
    # doc 2 shares nothing → untouched
    assert got[2] == (7, 0, 0, texts[2])


def test_span_dedup_overlapping_windows_fuse(spark):
    # two overlapping duplicated 3-windows in doc 0 must fuse to ONE span
    texts = {
        0: "p q r s t u v",
        1: "x p q r s y z",   # shares p q r s  → windows (p q r),(q r s)
    }
    df = spark.createDataFrame(
        [(i, t) for i, t in texts.items()], "id long, text string"
    )
    got = {
        r["id"]: (r["dup_spans"], r["dup_tokens"], r["clean_text"])
        for r in spans.duplicated_span_dedup(df, k=3, min_count=2).collect()
    }
    assert got[0] == (1, 4, "t u v")
    assert got[1] == (1, 4, "x y z")


def test_span_dedup_whitespace_and_empty(spark):
    df = spark.createDataFrame(
        [(0, "   "), (1, "a  b\tc   d e"), (2, "a b c d e")],
        "id long, text string",
    )
    got = {
        r["id"]: (r["n_tokens"], r["clean_text"])
        for r in spans.duplicated_span_dedup(df, k=4, min_count=2).collect()
    }
    assert got[0] == (0, "   ".strip() if False else "")
    # ws-normalized docs 1 and 2 are identical → both fully removed
    assert got[1] == (5, "") and got[2] == (5, "")


# ----------------------------------------------------------------- raster

def _brute_rasterize(boxes, res):
    """Reference: per-box loop over overlapped tiles, same e6 quantization."""
    n = 1 << res
    acc = {}
    for (lat0, lon0, lat1, lon1, w) in boxes:
        u0 = max(0.0, min(float(n), (lon0 + 180.0) / 360.0 * n))
        u1 = max(0.0, min(float(n), (lon1 + 180.0) / 360.0 * n))
        v0 = max(0.0, min(float(n), (lat0 + 90.0) / 180.0 * n))
        v1 = max(0.0, min(float(n), (lat1 + 90.0) / 180.0 * n))
        for x in range(min(n - 1, int(u0)), min(n - 1, int(u1)) + 1):
            for y in range(min(n - 1, int(v0)), min(n - 1, int(v1)) + 1):
                ox = max(0.0, min(u1, x + 1.0) - max(u0, float(x)))
                oy = max(0.0, min(v1, y + 1.0) - max(v0, float(y)))
                c = w * int(np.floor(ox * 1e6)) * int(np.floor(oy * 1e6))
                if c > 0:
                    acc[(x, y)] = acc.get((x, y), 0) + c
    return acc


def _xy_tile(x, y, res):
    from pbf2json_spark import cells

    return int(cells.from_xy(np.array([x]), np.array([y]), res)[0])


def test_rasterize_matches_brute_force(spark):
    rng = np.random.RandomState(7)
    rows = []
    for i in range(60):
        lat0 = float(rng.uniform(-88, 85))
        lon0 = float(rng.uniform(-178, 172))
        rows.append(
            (
                i,
                lat0,
                lon0,
                lat0 + float(rng.uniform(0.1, 4.0)),
                lon0 + float(rng.uniform(0.1, 5.0)),
                int(rng.randint(1, 9)),
            )
        )
    df = spark.createDataFrame(
        rows,
        "id long, lat_min double, lon_min double, "
        "lat_max double, lon_max double, weight long",
    )
    res = 6
    got = {
        r["tile"]: r["cover_e12"]
        for r in raster.rasterize_boxes(df, res=res).collect()
    }
    want = {
        _xy_tile(x, y, res): v
        for (x, y), v in _brute_rasterize(
            [tuple(r[1:]) for r in rows], res
        ).items()
    }
    assert got == want


def test_rasterize_full_cover_conservation(spark):
    # a box exactly covering 2x2 tiles at res 3: each tile gets w * 1e12
    n = 1 << 3
    lat0 = -90.0 + 180.0 / n * 2
    lon0 = -180.0 + 360.0 / n * 3
    df = spark.createDataFrame(
        [(0, lat0, lon0, lat0 + 360.0 / n * 0 + 180.0 / n * 2, lon0 + 360.0 / n * 2, 5)],
        "id long, lat_min double, lon_min double, "
        "lat_max double, lon_max double, weight long",
    )
    out = raster.rasterize_boxes(df, res=3).collect()
    assert len(out) == 4
    for r in out:
        assert r["cover_e12"] == 5 * 1_000_000 * 1_000_000


def test_rasterize_per_box_keeps_columns(spark):
    df = spark.createDataFrame(
        [(1, 10.0, 10.0, 11.0, 11.0, 2)],
        "id long, lat_min double, lon_min double, "
        "lat_max double, lon_max double, weight long",
    )
    out = raster.rasterize_boxes(df, res=5, per_box=True)
    assert "id" in out.columns and "tile" in out.columns
    assert out.count() >= 1


# ---------------------------------------------------------------- routing

def _brute_sssp(edges, sources, n_rounds):
    """Bellman-Ford reference, hop-bounded."""
    dist = {s: 0 for s in sources}
    for _ in range(n_rounds):
        nd = dict(dist)
        for (a, b, w) in edges:
            if a in dist and dist[a] + w < nd.get(b, float("inf")):
                nd[b] = dist[a] + w
        dist = nd
    return dist


@pytest.mark.parametrize("early_stop", [True, False])
def test_shortest_paths_matches_brute_force(spark, early_stop):
    rng = np.random.RandomState(11)
    edges = [
        (int(rng.randint(0, 40)), int(rng.randint(0, 40)), int(rng.randint(1, 20)))
        for _ in range(160)
    ]
    sources = [0, 13, 29]
    e = spark.createDataFrame(edges, "src long, dst long, w long")
    s = spark.createDataFrame([(x,) for x in sources], "node long")
    got = {
        r["node"]: r["dist"]
        for r in routing.shortest_paths(
            e, s, n_rounds=8, early_stop=early_stop
        ).collect()
    }
    assert got == _brute_sssp(edges, sources, 8)


def test_shortest_paths_unreachable_absent(spark):
    e = spark.createDataFrame([(0, 1, 5), (1, 2, 5), (10, 11, 1)],
                              "src long, dst long, w long")
    s = spark.createDataFrame([(0,)], "node long")
    got = {r["node"]: r["dist"] for r in
           routing.shortest_paths(e, s, n_rounds=5).collect()}
    assert got == {0: 0, 1: 5, 2: 10}


# ---------------------------------------------------------------- cluster

def _brute_kmeans(V, k, n_iter):
    """Local reference with the SAME integer-quantized update."""
    def norm(m):
        return m / np.maximum(np.linalg.norm(m, axis=1, keepdims=True), 1e-12)

    cents = norm(V[:k].astype(np.float64))
    for _ in range(n_iter):
        sims = norm(V.astype(np.float64)) @ cents.T
        a = np.argmax(sims, axis=1)
        new = cents.copy()
        for c in range(k):
            pts = V[a == c]
            if len(pts):
                q = np.round(pts * cluster.MICRO).astype(np.int64)
                new[c] = (q.sum(axis=0) / cluster.MICRO) / len(pts)
        cents = norm(new)
    return cents


def test_kmeans_fit_matches_quantized_reference(spark):
    rng = np.random.RandomState(3)
    V = rng.randn(120, 8)
    df = spark.createDataFrame(
        [(i, [float(x) for x in V[i]]) for i in range(len(V))],
        "vec_id long, embedding array<double>",
    )
    got = cluster.kmeans_fit(df, k=4, n_iter=3)
    want = _brute_kmeans(V, 4, 3)
    # integer-quantized UPDATE makes training bit-reproducible; the only
    # float ops (normalize, final divide) are identical expression trees
    assert np.array_equal(got, want)


def test_kmeans_fit_partition_invariant(spark):
    rng = np.random.RandomState(5)
    V = rng.randn(90, 6)
    rows = [(i, [float(x) for x in V[i]]) for i in range(len(V))]
    a = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    c1 = cluster.kmeans_fit(a.repartition(1), k=3, n_iter=3)
    c2 = cluster.kmeans_fit(a.repartition(7), k=3, n_iter=3)
    assert np.array_equal(c1, c2)


def test_kmeans_assign(spark):
    # two obvious clusters on axes; assignment must be exact
    rows = [(i, [1.0, 0.01 * i]) for i in range(10)] + [
        (100 + i, [0.01 * i, 1.0]) for i in range(10)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cents = np.array([[1.0, 0.0], [0.0, 1.0]])
    out = cluster.kmeans_assign(df, cents)
    got = {r["vec_id"]: r["cluster"] for r in out.collect()}
    for i in range(10):
        assert got[i] == 0 and got[100 + i] == 1


def test_kmeans_fit_too_few_rows_raises(spark):
    df = spark.createDataFrame(
        [(0, [1.0, 0.0])], "vec_id long, embedding array<double>"
    )
    with pytest.raises(ValueError, match="need >= 3"):
        cluster.kmeans_fit(df, k=3, n_iter=1)


# ------------------------------------------------------- resample_mixture

def test_resample_mixture_multiplicity(spark):
    from pbf2json_spark import sampling

    rows = [(i, ["a", "b", "c", "d"][i % 4]) for i in range(400)]
    df = spark.createDataFrame(rows, "doc_id long, lang string")
    weights = {"a": 0.5, "b": 2.0, "c": 3.25, "d": 0.0}
    out = sampling.resample_mixture(df, weights, default_weight=1.0)
    got = {}
    for r in out.collect():
        got.setdefault(r["doc_id"], []).append(r["copy"])
    # copy indices are dense 0..n-1
    for i, copies in got.items():
        assert sorted(copies) == list(range(len(copies)))
    counts = {i: len(c) for i, c in got.items()}
    for i, lang in rows:
        w = weights[lang]
        n = counts.get(i, 0)
        assert int(w) <= n <= int(w) + 1, (i, lang, n)
        if w == int(w):  # no fractional part → exact multiplicity
            assert n == int(w)
    # expected mass within a loose band (hash-Bernoulli, 100 rows/stratum)
    a_n = sum(counts.get(i, 0) for i, l in rows if l == "a")
    assert 30 <= a_n <= 70
    c_n = sum(counts.get(i, 0) for i, l in rows if l == "c")
    assert 100 * 3 <= c_n <= 100 * 3 + 100
    # filter(copy = 0) de-resamples to the kept membership, dropping dups
    kept = out.filter("copy = 0").count()
    assert kept == len(counts)


def test_resample_mixture_deterministic_and_validated(spark):
    from pbf2json_spark import sampling

    df = spark.createDataFrame(
        [(i, "x") for i in range(50)], "doc_id long, lang string"
    )
    a = sorted(
        (r["doc_id"], r["copy"])
        for r in sampling.resample_mixture(
            df.repartition(1), {"x": 1.5}
        ).collect()
    )
    b = sorted(
        (r["doc_id"], r["copy"])
        for r in sampling.resample_mixture(
            df.repartition(7), {"x": 1.5}
        ).collect()
    )
    assert a == b
    with pytest.raises(ValueError):
        sampling.resample_mixture(df, {"x": -0.1})


# ----------------------------------------------------------- KMV sketch

def test_kmv_exact_below_k(spark):
    from pbf2json_spark import sketch

    df = spark.createDataFrame(
        [(i % 37, "g") for i in range(500)], "k long, g string"
    )
    sk = sketch.kmv_build(df, "k", ["g"], k=64)
    est = sketch.kmv_estimate(sk, k=64, group_cols=["g"]).collect()[0]
    assert est["n_hashes"] == 37 and est["est_distinct"] == 37.0


def test_kmv_estimator_accuracy(spark):
    from pbf2json_spark import sketch

    n = 5000
    df = spark.createDataFrame([(i,) for i in range(n)], "k long")
    sk = sketch.kmv_build(df, "k", k=256)
    est = sketch.kmv_estimate(sk, k=256).collect()[0]
    assert est["n_hashes"] == 256
    # bottom-k estimator: relative error ~ 1/sqrt(k) ≈ 6%; allow 20%
    assert abs(est["est_distinct"] - n) / n < 0.2


def test_kmv_partition_invariant(spark):
    from pbf2json_spark import sketch

    rows = [(i * 13 % 997, "g1" if i % 2 else "g2") for i in range(3000)]
    df = spark.createDataFrame(rows, "k long, g string")
    base = sketch.kmv_build(df.repartition(1), "k", ["g"], k=32)
    alt = sketch.kmv_build(df.repartition(11), "k", ["g"], k=32)
    key = lambda d: sorted((r["g"], r["h"]) for r in d.collect())
    assert key(base) == key(alt)
