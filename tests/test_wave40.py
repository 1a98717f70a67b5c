"""Wave-40: geohash decode (round trips) and MMR
diverse selection (vs brute greedy; the diversity law)."""

from __future__ import annotations

import random

import numpy as np
from pyspark.sql import functions as F

from pbf2json_spark import ann, cells


# --- geohash decode ---------------------------------------------------------


def test_geohash_decode_round_trip(spark):
    # encode NUMPY-side, decode Spark-side: composing geohash_col inside
    # geohash_decode_col in ONE expression lets CollapseProject re-inline
    # the encode tree into every decode leaf (~10^5 Catalyst nodes at
    # p=10 — observed Java-heap OOM on a long-lived test JVM); crossing
    # an engine boundary is also the stronger cross-check.
    rnd = random.Random(40)
    pts = [(rnd.uniform(-89, 89), rnd.uniform(-179, 179)) for _ in range(200)]
    lats = np.array([p[0] for p in pts])
    lons = np.array([p[1] for p in pts])
    for p in (3, 7, 10):  # odd and even bit totals
        ghs = cells.geohash_encode(lats, lons, p)
        df = spark.createDataFrame(
            [(la, lo, g) for (la, lo), g in zip(pts, ghs)],
            "lat double, lon double, gh string",
        )
        r = df.select(
            "lat", "lon",
            cells.geohash_decode_col(F.col("gh"), p).alias("c"),
        ).collect()
        for row in r:
            c = row["c"]
            # the original point lies inside its decoded cell
            assert c["lat0"] <= row["lat"] < c["lat1"], (p, row)
            assert c["lon0"] <= row["lon"] < c["lon1"], (p, row)
            # center is the midpoint
            assert c["lat"] == (c["lat0"] + c["lat1"]) / 2.0


def test_geohash_decode_reencodes_to_same_hash(spark):
    # same engine-boundary discipline: decode Spark-side from numpy-
    # encoded strings, re-encode the decoded centers in a SECOND query
    # (inline decode∘encode composition re-inlines under CollapseProject)
    rnd = random.Random(41)
    pts = [(rnd.uniform(-89, 89), rnd.uniform(-179, 179)) for _ in range(100)]
    ghs = cells.geohash_encode(
        np.array([p[0] for p in pts]), np.array([p[1] for p in pts]), 6
    )
    df = spark.createDataFrame([(g,) for g in ghs], "gh string")
    centers = df.select(
        "gh", cells.geohash_decode_col(F.col("gh"), 6).alias("c")
    ).select("gh", "c.lat", "c.lon").collect()
    df2 = spark.createDataFrame(
        [(r["gh"], r["lat"], r["lon"]) for r in centers],
        "gh string, lat double, lon double",
    )
    g2 = df2.select(
        "gh", cells.geohash_col(F.col("lat"), F.col("lon"), 6).alias("gh2")
    )
    assert all(r["gh"] == r["gh2"] for r in g2.collect())


# --- MMR -----------------------------------------------------------------------


def _brute_mmr(items, k, lam):
    # items: list of (id, score, vec)
    import math

    vecs = {i: np.asarray(v, dtype=np.float64) for i, _, v in items}
    for i, v in vecs.items():
        n = np.linalg.norm(v)
        vecs[i] = v / n if n else v
    scores = {i: s for i, s, _ in items}
    picked, out = [], []
    for r in range(min(k, len(items))):
        best, bestv = None, -math.inf
        for i, s, _ in items:
            if i in picked:
                continue
            if picked:
                sim = max(float(vecs[i] @ vecs[j]) for j in picked)
                v = lam * s - (1 - lam) * sim
            else:
                v = lam * s
            if v > bestv or (v == bestv and (best is None or i < best)):
                best, bestv = i, v
        picked.append(best)
        out.append((best, scores[best], bestv, r + 1))
    return out


def test_mmr_vs_brute(spark):
    rnd = random.Random(42)
    rows = []
    items = {}
    for g in (0, 1):
        its = []
        for i in range(30):
            vid = g * 100 + i
            vec = [rnd.gauss(0, 1) for _ in range(8)]
            score = rnd.random()
            rows.append((vid, g, score, vec))
            its.append((vid, score, vec))
        items[g] = its
    df = spark.createDataFrame(
        rows, "vec_id long, grp long, score double, embedding array<double>"
    )
    got = {}
    for r in ann.mmr_select(df, k=6, lam=0.7, group_cols=["grp"]).collect():
        got.setdefault(r["grp"], []).append(
            (r["vec_id"], r["score"], r["mmr_value"], r["pick_rank"])
        )
    for g, its in items.items():
        exp = _brute_mmr(its, 6, 0.7)
        g_got = sorted(got[g], key=lambda t: t[3])
        # ids/scores/ranks exact; mmr_value to 1 ulp (the kernel's BLAS
        # matvec sums in a different order than the brute 1-D dot)
        assert [(t[0], t[1], t[3]) for t in g_got] == [
            (t[0], t[1], t[3]) for t in exp
        ], g
        assert all(
            np.isclose(a[2], b[2], rtol=1e-12, atol=0) for a, b in zip(g_got, exp)
        ), g


def test_mmr_diversity_beats_topk(spark):
    # 5 near-identical high-score vectors + orthogonal mid-score ones:
    # plain top-k takes all clones; MMR with low lambda must not
    rows = []
    for i in range(5):
        rows.append((i, 0.9 + i * 1e-6, [1.0, 0.0, 0.0]))
    rows.append((10, 0.5, [0.0, 1.0, 0.0]))
    rows.append((11, 0.5, [0.0, 0.0, 1.0]))
    df = spark.createDataFrame(rows, "vec_id long, score double, embedding array<double>")
    picks = {
        r["vec_id"]
        for r in ann.mmr_select(df, k=3, lam=0.3).collect()
    }
    assert 10 in picks and 11 in picks  # diversity overrode the clone scores
